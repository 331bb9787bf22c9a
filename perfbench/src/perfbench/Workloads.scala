package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{Fixtures, TxLog}
import graft.pipeline.{Cleaning, PinOracle, PinQueries, RawDerive}
import graft.streaming.StreamJob
import graft.ext.{Curation, Sampling}

object Util {
  def ms[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".")) 0L else f.length()

  /** Order-insensitive content digests, one Spark job for all frames:
    * per frame, its row count and the wrapping sum of a 64-bit hash of
    * every row. */
  def digests(dfs: Map[String, DataFrame]): Map[String, (Long, Long)] = {
    val hashed = dfs.toSeq.map { case (k, df) =>
      df.select(lit(k).as("k"), xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
    }.reduce(_ unionByName _)
    val got = hashed.groupBy("k").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    dfs.keys.map(k => k -> got.getOrElse(k, (0L, 0L))).toMap
  }

  /** Multiset equality, by digest, of (expected, actual) frame pairs with
    * the same columns (`actual` is cast to `expected`'s column types);
    * one check per named pair, one Spark job for all. */
  def sameRows(pairs: Seq[(String, DataFrame, DataFrame)]): Seq[Check] = {
    val d = digests(pairs.flatMap { case (name, expected, actual) =>
      Seq(s"$name/e" -> expected, s"$name/a" -> actual.select(
        expected.schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*))
    }.toMap)
    pairs.map { case (name, _, _) =>
      val (e, a) = (d(s"$name/e"), d(s"$name/a"))
      Check(name, e == a, s"expected ${e._1} rows, got ${a._1}; digests ${e._2} / ${a._2}")
    }
  }

  def sameCollected(name: String, expected: Seq[Row], actual: Seq[Row]): Check = {
    val (e, a) = (expected.map(_.toString).sorted, actual.map(_.toString).sorted)
    Check(name, e == a, s"${e.size} expected rows vs ${a.size}")
  }
}
import Util._

/** The reference's daily batch: landed Kafka-Connect JSON topics →
  * schema-inferring read → cleaning → nine queries → parquet. */
final class DailyBatch(seed: Long) extends Workload {
  val nOrders = 4000L
  val nCustomers = 1000L
  val minWarm = 3
  private var base = ""
  private var nOps = 0L
  private var landedBytes = 0L
  def ops: Long = nOps
  /** Raw rows in the three landed topics. */
  def inputRows(spark: SparkSession): Long =
    Seq("pin", "geo", "user").map(t =>
      Fixtures.readTopic(spark, s"$base/landing", t).count()).sum

  def stage(spark: SparkSession, dir: String): Map[String, Any] = {
    base = dir
    new Inputs(spark, seed).writeSf(s"$dir/sf", nOrders, nCustomers)
    Fixtures.landBatch(spark, s"$dir/sf", s"$dir/landing")
    landedBytes = dirBytes(new File(s"$dir/landing"))
    Map("orders" -> nOrders, "customers" -> nCustomers,
      "landed_bytes" -> landedBytes, "sf_dir" -> s"$dir/sf")
  }

  def pass(spark: SparkSession, tr: Tracer, i: Int, out: String): Map[String, Double] = {
    val landing = s"$base/landing"
    val Seq(rawPin, rawGeo, rawUser) = Seq("pin", "geo", "user").map(t =>
      tr.span("ingest.readTopic")(Fixtures.readTopic(spark, landing, t)))
    val (pin, geo, user) = tr.span("pipeline.Cleaning")(
      (Cleaning.cleanPin(rawPin), Cleaning.cleanGeo(rawGeo), Cleaning.cleanUser(rawUser)))
    val queries = Seq[(String, () => DataFrame)](
      "q1" -> (() => PinQueries.q1(pin, geo)),
      "q2" -> (() => PinQueries.q2(pin, geo)),
      "q3" -> (() => PinQueries.q3(pin, geo)),
      "q4" -> (() => PinQueries.q4(pin, geo)),
      "q5" -> (() => PinQueries.q5(pin, user)),
      "q6" -> (() => PinQueries.q6(pin, user)),
      "q7" -> (() => PinQueries.q7(user)),
      "q8" -> (() => PinQueries.q8(pin, user)),
      "q9" -> (() => PinQueries.q9(pin, user)))
    val qms = tr.span("pipeline.PinQueries") {
      queries.map { case (q, f) =>
        nOps += 1
        q -> ms(tr.span(s"pipeline.PinQueries.$q")(
          f().write.mode("overwrite").parquet(s"$out/$q")))._2
      }
    }
    Map("fresh_ms" -> qms.head._2)
  }

  def afterPass(spark: SparkSession, i: Int, out: String): (Map[String, Double], Seq[Check]) =
    (Map("landed_bytes" -> landedBytes.toDouble), Nil)

  def finish(spark: SparkSession, lastOut: String): Seq[Check] = Nil

  override def report: Map[String, Any] = Map(
    "oracle" -> Map("q1" -> PinOracle.q1, "q2" -> PinOracle.q2,
      "q3" -> PinOracle.q3, "q4" -> PinOracle.q4, "q5" -> PinOracle.q5,
      "q6" -> PinOracle.q6, "q7" -> PinOracle.q7, "q8" -> PinOracle.q8,
      "q9" -> PinOracle.q9),
    "sf_dir" -> s"$base/sf")
}

/** The reference's streaming path as a closed loop with one producer:
  * land one wave of Kinesis-envelope files per table, drain each
  * table's stream into its TxLog table (one table after another, as
  * `StreamJob.runAll` does), then run a fresh q1 over the snapshots;
  * the next wave lands only after that. */
final class StreamIngest(seed: Long) extends Workload {
  val waveOrders = 1000L
  val maxWaves = 8
  val nCustomers = 1000L
  val minWarm = 4
  val tables = Seq("pin", "geo", "user")
  /** Bounded-state (watermarked) dedup for the two tables the reference
    * dedups. `user` runs the reference's stateless path: with
    * `watermarked = true`, `cleanStream` also drops duplicate user rows,
    * which batch cleaning keeps (reference quirk Q-b), and the snapshot
    * check below would fail on them. */
  val watermarked = Map("pin" -> true, "geo" -> true, "user" -> false)
  private var base = ""
  private var nOps = 0L
  private var lastFresh: Seq[Row] = Nil
  private var landedWaves = 0
  private var prevVersion = Map.empty[String, Long]
  private var prevFiles = Map.empty[String, Int]
  private var progress = Map.empty[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  def ops: Long = nOps
  override def maxPasses: Int = maxWaves
  /** Rows per wave vary; the stream's rate counts committed rows. */
  def inputRows(spark: SparkSession): Long = 0L

  private def streamDir(t: String) = s"$base/land/streams/streaming-graft-$t"
  private def table(t: String) = s"$base/tables/$t"

  def stage(spark: SparkSession, dir: String): Map[String, Any] = {
    base = dir
    prevVersion = Map.empty; prevFiles = Map.empty
    new Inputs(spark, seed).writeSf(s"$dir/sf", waveOrders * maxWaves, nCustomers)
    val (pin, geo, user) = RawDerive.tables(spark, s"$dir/sf")
    // orders keys take one of 3 slots per row, so index / 3 is the row
    // id and consecutive waves hold consecutive key ranges; two files
    // per table and wave
    Seq("pin" -> pin, "geo" -> geo, "user" -> user).map { case (t, df) =>
      df.select(lit(t).as("table"),
        to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("data"),
        (col("index") / (3 * waveOrders)).cast("int").as("wave"))
    }.reduce(_ unionByName _)
      .repartition(2).write.partitionBy("table", "wave").json(s"$dir/waves")
    tables.foreach(t => Files.createDirectories(Paths.get(streamDir(t))))
    Map("wave_orders" -> waveOrders, "max_waves" -> maxWaves,
      "staged_bytes" -> dirBytes(new File(s"$dir/waves")))
  }

  def pass(spark: SparkSession, tr: Tracer, i: Int, out: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    val landed = tr.span("bench.land") {
      tables.flatMap { t =>
        val parts = Option(new File(s"$base/waves/table=$t/wave=$i").listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-"))
        val sizes = parts.map(_.length)
        parts.foreach(p => Files.move(p.toPath,
          Paths.get(streamDir(t), s"w$i-${p.getName}"), StandardCopyOption.ATOMIC_MOVE))
        sizes
      }
    }
    val tLanded = System.nanoTime()
    progress = tables.map { t =>
      t -> tr.span(s"streaming.$t") {
        val src = StreamJob.source(spark, streamDir(t), StreamJob.schemas(t))
        val q = TxLog.streamSink(StreamJob.cleanStream(src, t, watermarked(t)),
          table(t), s"$base/ckpt/$t")
        q.awaitTermination()
        nOps += 1
        q.recentProgress.toSeq
      }
    }.toMap
    val tCommitted = System.nanoTime()
    landedWaves = i + 1
    lastFresh = tr.span("pipeline.fresh_q1") {
      val pin = tr.span("ingest.TxLog.snapshot")(TxLog.snapshot(spark, table("pin")))
      val geo = tr.span("ingest.TxLog.snapshot")(TxLog.snapshot(spark, table("geo")))
      PinQueries.q1(pin, geo).collect().toSeq
    }
    val tEnd = System.nanoTime()
    Map("files_landed" -> landed.size.toDouble,
      "landed_bytes" -> landed.sum.toDouble,
      "wave_latency_ms" -> (tCommitted - tLanded) / 1e6,
      "ingest_ms" -> (tCommitted - t0) / 1e6,
      "fresh_ms" -> (tEnd - tCommitted) / 1e6)
  }

  def afterPass(spark: SparkSession, i: Int, out: String): (Map[String, Double], Seq[Check]) = {
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val progs = progress.values.flatten.toSeq
    val versions = tables.map(t => t -> TxLog.latestVersion(table(t)).getOrElse(-1L)).toMap
    val files = tables.map(t => t -> TxLog.liveFiles(table(t)).size).toMap
    val lastState = progress.values.flatMap(_.lastOption).flatMap(_.stateOperators)
    val counters = Map(
      "rows_committed" -> progs.map(_.numInputRows).sum.toDouble,
      "batches" -> progs.count(_.numInputRows > 0).toDouble,
      "trigger_ms" -> progs.map(dur(_, "triggerExecution")).sum,
      "planning_ms" -> progs.map(dur(_, "queryPlanning")).sum,
      "offset_log_ms" -> progs.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "txlog_write_ms" -> progs.map(dur(_, "addBatch")).sum,
      "state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "state_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "commits" -> tables.map(t => versions(t) - prevVersion.getOrElse(t, -1L)).sum.toDouble,
      "files_per_wave" -> tables.map(t => files(t) - prevFiles.getOrElse(t, 0)).sum.toDouble,
      "live_files" -> files.values.sum.toDouble)
    prevVersion = versions
    prevFiles = files
    (counters, Nil)
  }

  /** Batch reading of everything landed, cleaned by the batch code. */
  private def batchCleaned(spark: SparkSession, t: String): DataFrame = {
    val raw = spark.read.schema("data STRING").json(streamDir(t))
      .select(from_json(col("data"), StreamJob.schemas(t)).as("p")).select("p.*")
    t match {
      case "pin" => Cleaning.cleanPin(raw, sort = false)
      case "geo" => Cleaning.cleanGeo(raw, sort = false)
      case "user" => Cleaning.cleanUser(raw, sort = false)
    }
  }

  def finish(spark: SparkSession, lastOut: String): Seq[Check] = {
    val expected = tables.map(t => t -> batchCleaned(spark, t)).toMap
    sameRows(tables.map(t => (s"stream.$t.snapshot_equals_batch_clean",
      expected(t), TxLog.snapshot(spark, table(t))))) :+
      sameCollected("stream.fresh_q1_equals_batch_q1",
        PinQueries.q1(expected("pin"), expected("geo")).collect().toSeq, lastFresh)
  }

  /** For the DuckDB twin of the last fresh q1: the orders of the landed
    * waves are those with `o_orderkey` below `orders_key_bound`. */
  override def report: Map[String, Any] = Map(
    "oracle" -> Map("q1" -> PinOracle.q1),
    "sf_dir" -> s"$base/sf",
    "orders_key_bound" -> landedWaves * 3 * waveOrders,
    "fresh_q1" -> Map(
      "columns" -> lastFresh.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil),
      "rows" -> lastFresh.map(_.toSeq)))
}

/** The `CorpusJob` DAG: pretraining-corpus manifest, curation funnel,
  * then per-split token packing, all to parquet. */
final class CorpusCuration(seed: Long) extends Workload {
  val nDocs = 500L
  val nVecs = 200L
  val nBuckets = 8
  val minWarm = 2
  val splits = Seq("train", "val", "test")
  private var base = ""
  private var nOps = 0L
  private var firstDigest = Map.empty[String, (Long, Long)]
  private var inputBytes = 0L
  def ops: Long = nOps
  def inputRows(spark: SparkSession): Long = nDocs + nVecs

  def stage(spark: SparkSession, dir: String): Map[String, Any] = {
    base = dir
    val in = new Inputs(spark, seed)
    in.documents(nDocs).coalesce(1).write.parquet(s"$dir/documents.parquet")
    in.embeddings(nVecs).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    inputBytes = dirBytes(new File(s"$dir/documents.parquet")) +
      dirBytes(new File(s"$dir/embeddings.parquet"))
    Map("docs" -> nDocs, "vectors" -> nVecs, "bytes" -> inputBytes)
  }

  private def docs(spark: SparkSession) = spark.read.parquet(s"$base/documents.parquet")

  private def withTokens(spark: SparkSession, kept: DataFrame): DataFrame =
    kept.select("doc_id", "split")
      .join(docs(spark).select("doc_id", "text"), "doc_id")
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))

  def pass(spark: SparkSession, tr: Tracer, i: Int, out: String): Map[String, Double] = {
    val d = docs(spark)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    // fresh query: pass start until the manifest, the output consumers
    // read first, is written and read back
    val (kept, freshMs) = ms {
      tr.span("ext.Curation.pretrainingCorpus") {
        Curation.pretrainingCorpus(d, emb).write.parquet(s"$out/manifest")
      }
      nOps += 1
      tr.span("pipeline.manifest_read") {
        val k = spark.read.parquet(s"$out/manifest"); k.count(); k
      }
    }
    tr.span("ext.Curation.curationFunnel") {
      Curation.curationFunnel(d, d.where(col("doc_id") % 97 === 0))
        .write.parquet(s"$out/funnel")
    }
    nOps += 1
    tr.span("ext.Sampling.pack") {
      val wt = withTokens(spark, kept)
      splits.foreach { s =>
        Sampling.packSequences(Sampling.packShards(wt.where(col("split") === s),
          "n_tokens", budget = 2048, nBuckets = nBuckets))
          .write.parquet(s"$out/sequences/split=$s")
        nOps += 1
      }
    }
    Map("fresh_ms" -> freshMs)
  }

  def afterPass(spark: SparkSession, i: Int, out: String): (Map[String, Double], Seq[Check]) = {
    val outputs = Map(
      "manifest" -> spark.read.parquet(s"$out/manifest"),
      "funnel" -> spark.read.parquet(s"$out/funnel")) ++
      splits.map(s => s"sequences.$s" -> spark.read.parquet(s"$out/sequences/split=$s"))
    val dig = digests(outputs)
    if (i == 0) firstDigest = dig
    val same = Check(s"corpus.pass$i.outputs_identical_to_pass0", dig == firstDigest,
      dig.toSeq.sortBy(_._1).map { case (k, (n, h)) => s"$k=$n/$h" }.mkString(" "))
    (Map("landed_bytes" -> inputBytes.toDouble, "manifest_rows" -> dig("manifest")._1.toDouble),
      if (i == 0) Nil else Seq(same))
  }

  def finish(spark: SparkSession, lastOut: String): Seq[Check] = invariants(spark, lastOut)

  private def invariants(spark: SparkSession, out: String): Seq[Check] = {
    val manifest = spark.read.parquet(s"$out/manifest")
    val strays = manifest.join(docs(spark), Seq("doc_id"), "left_anti").count()
    val n = manifest.count()
    val perDoc = manifest.groupBy("doc_id").agg(countDistinct("split").as("k"),
      count(lit(1)).as("c")).where(col("k") > 1 || col("c") > 1).count()
    val funnel = spark.read.parquet(s"$out/funnel").orderBy("stage")
      .collect().map(_.getAs[Long]("n_docs")).toSeq
    val kept = withTokens(spark, manifest)
    val tokens = splits.map { s =>
      val want = kept.where(col("split") === s).agg(coalesce(sum("n_tokens"), lit(0L)))
        .head().getLong(0)
      val got = spark.read.parquet(s"$out/sequences/split=$s")
        .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
      (s, want, got)
    }
    Seq(
      Check("corpus.manifest_ids_subset_of_input", strays == 0 && n > 0,
        s"$n manifest rows, $strays not in input"),
      Check("corpus.splits_disjoint", perDoc == 0, s"$perDoc ids in more than one row"),
      Check("corpus.funnel_non_increasing",
        funnel.size == 5 && funnel.zip(funnel.drop(1)).forall { case (x, y) => y <= x },
        funnel.mkString(" > ")),
      Check("corpus.packed_tokens_equal_kept_tokens", tokens.forall(t => t._2 == t._3),
        tokens.map { case (s, w, g) => s"$s $w/$g" }.mkString(" ")))
  }
}
