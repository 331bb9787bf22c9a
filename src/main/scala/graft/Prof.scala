package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev profiler (optimization rounds): run entries and attribute wall
  * time to STAGES — the per-stage breakdown the Spark UI would show,
  * printed as text. Pass 1 warms (plans compile, caches fill); pass 2
  * is measured with a fresh stage buffer, so the printout is the warm
  * per-stage cost of exactly one execution: stage wall (completion −
  * submission), task count, summed executor run/cpu time, shuffle
  * bytes, and the callsite name. Jobs are counted to expose
  * eager-materialization chatter (each count/localCheckpoint/AQE
  * materialization is its own job). */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Engine.prepare(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    case class St(id: Int, name: String, wallMs: Long, tasks: Int,
        runMs: Long, cpuMs: Long, deserMs: Long, deserCpuMs: Long,
        shRead: Long, shWrite: Long, outRows: Long)
    val stages = ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = ev.stageInfo
          val tm = si.taskMetrics
          val wall = (for {
            a <- si.submissionTime; b <- si.completionTime
          } yield b - a).getOrElse(-1L)
          stages += St(si.stageId, si.name.linesIterator.next().take(100),
            wall, si.numTasks,
            if (tm == null) -1 else tm.executorRunTime,
            if (tm == null) -1 else tm.executorCpuTime / 1000000,
            if (tm == null) -1 else tm.executorDeserializeTime,
            if (tm == null) -1 else tm.executorDeserializeCpuTime / 1000000,
            if (tm == null) -1 else tm.shuffleReadMetrics.totalBytesRead,
            if (tm == null) -1 else tm.shuffleWriteMetrics.bytesWritten,
            if (tm == null) -1 else tm.outputMetrics.recordsWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass: plan compile + caches
      fn(spark, sfDir).count()
      Thread.sleep(300) // drain listener bus
      synchronized { stages.clear(); jobs = 0 }
      val k0 = Engine.codegenCompiles()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = Engine.codegenCompiles() - k0
      Thread.sleep(300) // drain listener bus
      val snap = synchronized { (stages.toVector, jobs) }
      println(f"==== $name wall=$wall%.3f s jobs=${snap._2} stages=${snap._1.size} stageWallSum=${snap._1.map(_.wallMs).sum / 1000.0}%.3f s compiles=$compiles")
      snap._1.sortBy(-_.wallMs).take(30).foreach { s =>
        println(f"  [${s.id}%4d] ${s.wallMs}%6d ms tasks=${s.tasks}%3d run=${s.runMs}%6d cpu=${s.cpuMs}%6d deser=${s.deserMs}%6d dcpu=${s.deserCpuMs}%6d shR=${s.shRead}%9d shW=${s.shWrite}%9d ${s.name}")
      }
      // the executed plan's exchange census for the same execution
      val plan = df.queryExecution.executedPlan.toString
      val nEx = "Exchange".r.findAllIn(plan).size
      val nSort = "(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r.findAllIn(plan).size
      println(s"  plan: exchanges=$nEx sorts=$nSort")
    }
    spark.stop()
  }
}
