package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around the
  * library call it makes. `parent` is the enclosing span's id (-1 for a
  * pass root); spans of one pass share `pass`. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, var endNs: Long)

/** Spans plus the Spark jobs they caused.
  *
  * When disabled, `span` only runs its body: untraced passes pay no
  * listener, no job-group tag and no bookkeeping. When enabled, each
  * span sets the job group of the calling thread to its own id, and a
  * `SparkListener` collects per-stage task metrics. A job is charged to
  * the span named by its job-group tag when that span was open at the
  * job's submission time; jobs submitted from other threads (streaming
  * query threads, futures started inside a library call) carry Spark's
  * or a stale tag, and are charged to the innermost span open at their
  * submission time instead. Spans are driver-side and sequential, so
  * that span is the library call that caused the job. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var enabled = false
  private var pass = -1
  private val listener = new JobListener

  def begin(passIndex: Int, traced: Boolean): Unit = {
    pass = passIndex
    enabled = traced
    if (traced) sc.addSparkListener(listener)
  }

  def end(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    enabled = false
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.fold(-1)(_.id), pass,
        System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"perfbench-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wall-clock ms → monotonic ns, so listener event times (epoch ms)
    * can be placed among span bounds (monotonic ns). */
  private val epochMsAtNs0 = System.currentTimeMillis() - System.nanoTime() / 1000000L
  private def toNs(epochMs: Long): Long = (epochMs - epochMsAtNs0) * 1000000L

  /** Innermost span containing time t (latest start wins). */
  private def innermostAt(t: Long): Option[Span] =
    spans.iterator.filter(s => s.startNs <= t && (s.endNs < 0 || t <= s.endNs))
      .maxByOption(_.startNs)

  /** Per-job metrics, each charged to a span, as rows for the report. */
  def jobRows: Seq[Map[String, Any]] = listener.jobs.toSeq.flatMap { j =>
    val t = toNs(j.submitMs)
    val tagged = j.group.collect {
      case g if g.startsWith("perfbench-") => g.stripPrefix("perfbench-").toInt
    }.flatMap(id => spans.lift(id))
      // 1 ms of slack: event times are ms-granular
      .filter(s => s.startNs <= t + 1000000L && (s.endNs < 0 || t <= s.endNs + 1000000L))
    tagged.orElse(innermostAt(t)).map { s =>
      val st = j.stageIds.flatMap(listener.stages.get)
      Map[String, Any](
        "span" -> s.id,
        "tagged" -> tagged.isDefined,
        "stages" -> st.count(_.tasks > 0),
        "tasks" -> st.map(_.tasks).sum,
        "run_ms" -> st.map(_.runMs).sum,
        "cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
        "deser_ms" -> st.map(_.deserMs).sum,
        "gc_ms" -> st.map(_.gcMs).sum,
        "queue_ms" -> st.map(_.queueMs).sum,
        "input_bytes" -> st.map(_.inputBytes).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> st.map(_.spillBytes).sum)
    }
  }

  def spanRows: Seq[Map[String, Any]] = spans.toSeq.map(s => Map[String, Any](
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
    "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
}

final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var deserMs = 0L
  var gcMs = 0L; var queueMs = 0L; var inputBytes = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
}

final case class JobRec(id: Int, submitMs: Long, group: Option[String],
    stageIds: Seq[Int])

/** Collects jobs and per-stage task metrics. Each stage is charged to
  * the first job that lists it; stages a later job reuses are skipped
  * there and run no tasks. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  private val submittedMs = mutable.HashMap.empty[Int, Long]
  private val seenStages = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val own = e.stageIds.filter(seenStages.add)
    jobs += JobRec(e.jobId, e.time, group, own)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => submittedMs(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.deserMs += m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    submittedMs.get(e.stageId).foreach(s =>
      a.queueMs += math.max(0L, e.taskInfo.launchTime - s))
  }
}
