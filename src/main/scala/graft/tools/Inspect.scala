package graft.tools

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.storage.RDDBlockId
import graft.{Engine, SparkEntry}
import graft.ext.Pin

/** Plan and stage inspection of `SparkEntry.queries` entries on
  * SPARK_GRAFT_SF_DIR (default sf0.1). Two modes:
  *
  *   runMain graft.tools.Inspect plan <dir> <suffix> <entry>...
  *
  * writes each entry's formatted explain plus its AQE-final executed
  * plan to `<dir>/<entry>_<suffix>.txt`; committed snapshots go in
  * `plans/rNN`, where plan claims are checked against them.
  *
  *   runMain graft.tools.Inspect prof <entry>...
  *
  * attributes wall time to STAGES — the per-stage breakdown the Spark
  * UI would show, printed as text. Pass 1 warms (plans compile, caches
  * fill); pass 2 is measured with a fresh stage buffer, so the printout
  * is the warm per-stage cost of exactly one execution: stage wall
  * (completion − submission), task count, summed executor run/cpu and
  * deserialization time, shuffle bytes, and the callsite name, then
  * the `Pin.eager` pins that pass built, their stored bytes and the
  * jobs that built them (their call site is `Pin.BuildName`). Jobs
  * are counted to expose eager-materialization chatter (each
  * count/localCheckpoint/AQE materialization is its own job), and
  * Janino compiles to expose generated-class cache misses. */
object Inspect {

  val usage: String =
    "usage: Inspect plan <dir> <suffix> <entry>... | Inspect prof <entry>..."

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit =
    args match {
      case Seq("plan", dir, suffix, names @ _*) =>
        plan(spark, sfDir, dir, suffix, names)
      case Seq("prof", names @ _*) => prof(spark, sfDir, names)
      case _ => throw new IllegalArgumentException(usage)
    }

  private def plan(spark: SparkSession, sfDir: String, dir: String,
      suffix: String, names: Seq[String]): Unit = {
    new java.io.File(dir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // execute once so AQE's final plan is available alongside the
      // initial formatted plan (explain prints the pre-execution tree;
      // the executed plan carries the AQE-final join strategies)
      execute(df)
      val formatted =
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val path = s"$dir/${name}_$suffix.txt"
      val w = new java.io.PrintWriter(path)
      try {
        w.println(s"== $name ($suffix) sf=$sfDir ==")
        w.println(formatted)
        w.println("== AQE-final executed plan ==")
        w.println(executed.take(120000))
      } finally w.close()
      println(s"wrote $path")
    }
  }

  /** Run `df`'s own query execution. `df.count()` would plan and run a
    * separate aggregate query, leaving `df.queryExecution.executedPlan`
    * at `isFinalPlan=false`. */
  private def execute(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, cpuMs: Long, deserMs: Long, deserCpuMs: Long,
      shRead: Long, shWrite: Long)

  /** Jobs started, stages completed and `Pin.eager` pins read since the
    * last `reset`. A pin is counted when a stage reads its tagged
    * checkpoint RDD (its build job's stage does), and its bytes are
    * those of its stored blocks: the live RDD itself may already be
    * garbage when the pass ends (an entry that checkpoints its result
    * drops its pins). */
  private class StageLog extends SparkListener {
    private val stages = ArrayBuffer.empty[Stage]
    private var jobs = 0
    private var pinJobs = 0
    private val pins = mutable.Set.empty[Int]
    private val blockBytes = mutable.Map.empty[RDDBlockId, Long]

    override def onBlockUpdated(ev: SparkListenerBlockUpdated): Unit = {
      val b = ev.blockUpdatedInfo
      b.blockId.asRDDId.foreach { id =>
        val n = b.memSize + b.diskSize
        if (n > 0) synchronized { blockBytes(id) = n }
      }
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val site = Option(j.properties).map(_.getProperty("callSite.short"))
      synchronized {
        jobs += 1
        if (site.contains(Pin.BuildName)) pinJobs += 1
      }
    }

    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      val tm = Option(si.taskMetrics)
      def m(f: TaskMetrics => Long): Long = tm.fold(-1L)(f)
      val wall = (for {
        a <- si.submissionTime; b <- si.completionTime
      } yield b - a).getOrElse(-1L)
      val st = Stage(si.stageId, si.name.linesIterator.next().take(100),
        wall, si.numTasks, m(_.executorRunTime),
        m(_.executorCpuTime / 1000000), m(_.executorDeserializeTime),
        m(_.executorDeserializeCpuTime / 1000000),
        m(_.shuffleReadMetrics.totalBytesRead),
        m(_.shuffleWriteMetrics.bytesWritten))
      val read = si.rddInfos.filter(_.name == Pin.Tag).map(_.id)
      synchronized { stages += st; pins ++= read }
    }

    def reset(): Unit = synchronized {
      stages.clear(); jobs = 0; pinJobs = 0; pins.clear(); blockBytes.clear()
    }
    def snapshot(): (Vector[Stage], Int) = synchronized { (stages.toVector, jobs) }
    /** (pins read, their stored bytes, jobs that built pins) */
    def pinBuilds(): (Int, Long, Int) = synchronized {
      (pins.size, blockBytes.collect { case (id, n) if pins(id.rddId) => n }.sum,
        pinJobs)
    }
  }

  private def prof(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass: plan compile + caches
      execute(fn(spark, sfDir))
      Bridge.drainListenerBus(spark.sparkContext)
      log.reset()
      val k0 = Engine.codegenCompiles()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      execute(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = Engine.codegenCompiles() - k0
      Bridge.drainListenerBus(spark.sparkContext)
      val (stages, jobs) = log.snapshot()
      val (pins, pinBytes, pinJobs) = log.pinBuilds()
      println(f"==== $name wall=$wall%.3f s jobs=$jobs stages=${stages.size} stageWallSum=${stages.map(_.wallMs).sum / 1000.0}%.3f s compiles=$compiles")
      stages.sortBy(-_.wallMs).take(30).foreach { s =>
        println(f"  [${s.id}%4d] ${s.wallMs}%6d ms tasks=${s.tasks}%3d run=${s.runMs}%6d cpu=${s.cpuMs}%6d deser=${s.deserMs}%6d dcpu=${s.deserCpuMs}%6d shR=${s.shRead}%9d shW=${s.shWrite}%9d ${s.name}")
      }
      // the executed plan's exchange census for the same execution
      val plan = df.queryExecution.executedPlan.toString
      val nEx = "Exchange".r.findAllIn(plan).size
      val nSort = "(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r.findAllIn(plan).size
      println(s"  plan: exchanges=$nEx sorts=$nSort")
      println(s"  pins: builds=$pins bytes=$pinBytes jobs=$pinJobs")
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
