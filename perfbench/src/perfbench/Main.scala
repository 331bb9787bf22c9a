package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.Engine

/** A correctness check made by the benchmark. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One whole job the benchmark times, pass after pass.
  *
  * `stage` writes the seeded inputs under `dir` and returns their sizes;
  * `pass` runs the job once (timed by the caller) and returns its own
  * timings; `afterPass` runs untimed and returns counters and checks for
  * that pass; `finish` runs the final checks. */
trait Workload {
  def minWarm: Int
  def stage(spark: SparkSession, dir: String): Map[String, Any]
  def pass(spark: SparkSession, tr: Tracer, i: Int, out: String): Map[String, Double]
  def afterPass(spark: SparkSession, i: Int, out: String): (Map[String, Double], Seq[Check])
  def finish(spark: SparkSession, lastOut: String): Seq[Check]
  /** Input rows one pass consumes, counted once after set-up. */
  def inputRows(spark: SparkSession): Long
  /** Operations run so far (query outputs, commits, written splits). */
  def ops: Long
  def report: Map[String, Any] = Map.empty
  /** Passes the staged inputs allow, the cold one included. */
  def maxPasses: Int = Int.MaxValue
}

/** Entry point of one benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --report FILE
  *
  * Sets up three times (session start + staging, median reported),
  * runs one cold pass, then warm passes until S seconds have elapsed
  * (at least `minWarm`). With --trace 1 the warm passes alternate
  * untraced and traced (at least two of each), so the traced run also
  * yields the tracing overhead. Writes every raw sample as JSON to FILE;
  * the Python wrapper turns samples into metrics. */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.prepare(spark)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "daily_batch" => new DailyBatch(seed)
    case "stream_ingest" => new StreamIngest(seed)
    case "corpus_curation" => new CorpusCuration(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Class-loading training run for the build's class-data-sharing
    * archive: one session that stages every workload's inputs once. */
  def train(cores: Int, work: String): Unit = {
    val spark = session(cores, work)
    Seq("daily_batch", "stream_ingest", "corpus_curation").foreach(w =>
      workload(w, 0L).stage(spark, s"$work/$w"))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val cores = a("cores").toInt
    val work = a("work")
    if (name == "train") return train(cores, work)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val wl = workload(name, seed)

    // -- set-up, three times: fresh session + fresh staging dir -------
    var spark: SparkSession = null
    val setups = (1 to 3).map { k =>
      if (spark != null) { spark.stop(); SparkSession.clearDefaultSession();
        SparkSession.clearActiveSession() }
      if (k > 1) rm(new File(s"$work/stage${k - 1}"))
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      val input = wl.stage(spark, s"$work/stage$k")
      val t2 = System.nanoTime()
      (Map("session_ms" -> (t1 - t0) / 1e6, "stage_ms" -> (t2 - t1) / 1e6), input)
    }
    val input = setups.last._2 + ("rows" -> wl.inputRows(spark))

    // -- passes --------------------------------------------------------
    val tr = new Tracer(spark.sparkContext)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Check]
    def out(i: Int) = s"$work/out/p$i"
    def runPass(i: Int, traced: Boolean): Unit = {
      tr.begin(i, traced)
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      val timings = tr.span("pass")(wl.pass(spark, tr, i, out(i)))
      val t1 = System.nanoTime()
      val c1 = processCpuNs()
      tr.end()
      val persisted = spark.sparkContext.getPersistentRDDs.size.toDouble
      val (counters, cs) = wl.afterPass(spark, i, out(i))
      checks ++= cs
      graft.ext.Pin.reset()
      // keep the cold pass's and the latest pass's outputs only
      if (i > 1) rm(new File(out(i - 1)))
      val kind = if (i == 0) "cold" else "warm"
      passes += Map("index" -> i, "kind" -> kind,
        "traced" -> traced, "wall_ms" -> (t1 - t0) / 1e6,
        "cpu_ms" -> (c1 - c0) / 1e6,
        "counters" -> (timings ++ counters + ("persisted_rdds_after" -> persisted)))
    }
    runPass(0, traced = false)
    val warm0 = System.nanoTime()
    val minWarm = if (trace) math.max(4, wl.minWarm) else wl.minWarm
    var i = 1
    while (i < wl.maxPasses &&
        (i <= minWarm || (System.nanoTime() - warm0) / 1e9 < seconds)) {
      // traced runs: untraced, traced, traced, untraced, ...: both kinds
      // sit at the same mean position, so warm-up drift does not read as
      // tracing overhead
      runPass(i, traced = trace && (i % 4 == 2 || i % 4 == 3))
      i += 1
    }
    val last = i - 1
    val warmS = (System.nanoTime() - warm0) / 1e9
    checks ++= wl.finish(spark, out(last))

    val report = Map[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "seconds" -> seconds,
      "warm_elapsed_s" -> warmS,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "setup" -> setups.map(_._1),
      "input" -> input,
      "passes" -> passes.toSeq,
      "spans" -> tr.spanRows,
      "jobs" -> tr.jobRows,
      "checks" -> checks.toSeq.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "ops" -> wl.ops,
      "outputs" -> Map("cold" -> out(0), "last" -> out(last)),
      "rss_peak_kb" -> vmHwmKb(),
      "workload_report" -> wl.report)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a("report")), report)
  }
}
