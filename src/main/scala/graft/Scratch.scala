package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scratchpad (optimization rounds): ad-hoc microbenchmarks run
  * via `runMain graft.Scratch`. Contents change per investigation and
  * are not part of any runtime path. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Engine.prepare(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.scheduler._
    @volatile var cpu = 0L; @volatile var run = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val tm = ev.stageInfo.taskMetrics
        if (tm != null) { cpu += tm.executorCpuTime / 1000000; run += tm.executorRunTime }
      }
    })
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .repartition(32).localCheckpoint()
    def time(tag: String)(f: => Any): Unit = {
      cpu = 0L; run = 0L
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      println(f"[scratch] $tag%-28s wall=$wall%.3f taskcpu=${cpu / 1000.0}%.2f taskrun=${run / 1000.0}%.2f")
    }
    // warm each shape twice
    for (_ <- 1 to 2) {
      docs.count()
      docs.select(sum(length(col("text")))).collect()
      docs.select(sum(size(split(trim(col("text")), "\\s+")))).collect()
      docs.select(sum(pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(64L)))).collect()
    }
    time("count")(docs.count())
    time("sum(length)")(docs.select(sum(length(col("text")))).collect())
    time("sum(size(split))")(docs.select(sum(size(split(trim(col("text")), "\\s+")))).collect())
    time("sum(pmod-bucket)")(docs.select(sum(pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(64L)))).collect())
    time("sum(size(split)) again")(docs.select(sum(size(split(trim(col("text")), "\\s+")))).collect())
    // same with 4 partitions
    val d4 = docs.coalesce(4).localCheckpoint()
    for (_ <- 1 to 2) d4.select(sum(size(split(trim(col("text")), "\\s+")))).collect()
    time("4part sum(size(split))")(d4.select(sum(size(split(trim(col("text")), "\\s+")))).collect())
    spark.stop()
  }
}
