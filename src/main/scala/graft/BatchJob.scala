package graft

import graft.pipeline.{PinQueries, PinSql}

/** The reference's daily batch run as one schedulable main — the
  * analog of its Airflow DAG triggering the analytics notebook
  * (reference 12471ce1b695_dag.py:24-36 → BATCH notebook): land/read
  * the three raw tables, clean them once, register the SQL views, run
  * all nine analytics queries, write each result to parquet.
  *
  * Usage: `runMain graft.BatchJob <sfDir> <outDir>`. Idempotent
  * (overwrite mode) — exactly what a daily `cron`/Airflow retry wants.
  * Cleaning runs once and feeds all nine queries (the notebook's
  * clean-once-query-many shape); each query's plan is independent, so
  * a scheduler could run them concurrently — they share the cleaned
  * inputs, not shuffles.
  */
object BatchJob {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_batch").toString)
    val spark = Engine.session()

    val (pin, geo, user) = PinQueries.cleanedTables(spark, sfDir)
    PinSql.registerViews(pin, geo, user)
    val queries = Map(
      "q1" -> (() => PinQueries.q1(pin, geo)),
      "q2" -> (() => PinQueries.q2(pin, geo)),
      "q3" -> (() => PinQueries.q3(pin, geo)),
      "q4" -> (() => PinQueries.q4(pin, geo)),
      "q5" -> (() => PinQueries.q5(pin, user)),
      "q6" -> (() => PinQueries.q6(pin, user)),
      "q7" -> (() => PinQueries.q7(user)),
      "q8" -> (() => PinQueries.q8(pin, user)),
      "q9" -> (() => PinQueries.q9(pin, user)))
    queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val df = q()
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[batch] $name -> $outDir/$name")
    }
    println(s"[batch] done: ${queries.size} queries -> $outDir")
    spark.stop()
  }
}
