package graft

/** Dev smoke runner: drives the driver's `SparkEntry.entry` contract
  * exactly as the harness does (rows > 0 on sf0.001) and prints the
  * plan so scale posture can be eyeballed per round. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.count()
    println(s"[smoke] entry rows=$rows (expect > 0)")
    df.show(5, truncate = false)
    spark.stop()
    if (rows <= 0) sys.exit(1)
  }
}
