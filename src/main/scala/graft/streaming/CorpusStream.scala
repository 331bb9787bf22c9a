package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming ingest dedup against a STANDING corpus — the streaming
  * face of `Dedup.incrementalDedup`'s exact tier: documents arrive as
  * an unbounded stream and pass through only if their content digest
  * is absent from a static fingerprint index of everything already
  * ingested.
  *
  * Scale posture: the join is stream-static and keyed on the 32-byte
  * sha256 digest — STATELESS on the stream side (no watermark state at
  * all; nothing accumulates), with the index broadcast per micro-batch
  * when small or hash-joined in place when not. The index itself is
  * maintained by the batch side (append today's survivors' digests
  * after each ingest window) — the lambda-architecture split that
  * keeps the streaming path a pure filter. */
object CorpusStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).json(dir)

  /** Stream docs → drop rows whose sha256(text) is in `index`
    * (a static frame with column `text_sha`). `broadcastIndex = true`
    * (the default, right for bounded indices) pins the broadcast hint;
    * pass false for a corpus-scale index — a multi-GB digest set
    * forced through a broadcast would blow the driver / the 8 GB
    * broadcast cap, and the plain anti-join lets the planner shuffle
    * it instead. */
  def dedupVsIndex(stream: DataFrame, index: DataFrame,
      broadcastIndex: Boolean = true): DataFrame =
    stream.withColumn("text_sha", sha2(col("text"), 256))
      .join(if (broadcastIndex) broadcast(index) else index,
        Seq("text_sha"), "left_anti")
      .drop("text_sha")

  def runDedupVsIndex(spark: SparkSession, inDir: String, index: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    StreamStart.parquet(dedupVsIndex(source(spark, inDir), index),
      outDir, checkpointDir)

  /** The standing corpus' broadcastable MinHash band index — one row
    * per (band, bucket) with the bucket's member signatures as a list.
    * Exposed separately from `nearDupVsCorpus` because this is the
    * half the BATCH side owns in production (the same
    * lambda-architecture split as `dedupVsIndex`'s sha index, and the
    * same materialize-once-feed-many shape as `knnGraph`'s edge
    * table): build it once per ingest window, persist it (parquet /
    * cache), and hand the SAME table to every streaming probe instead
    * of re-deriving corpus signatures per query start. Probing against
    * a pre-built index ≡ the self-building path is spec-pinned. */
  def bandIndexOf(corpus: DataFrame, bands: Int = 8, rows: Int = 4,
      w: Int = 3): DataFrame = {
    import graft.ext.Dedup
    val k = bands * rows
    // built ONCE: the per-band probe joins (and every micro-batch)
    // would otherwise re-run the corpus-proportional tokenize+MinHash
    // pipeline once per band. `kept`: the streaming query reads it for
    // its whole life, so `Pin.reset` must not release it.
    graft.ext.Pin.kept(corpus
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .select(col("doc_id"), Dedup.minhashSigCol(col("ws"), k, w).as("sig"))
      .select(col("sig"),
        posexplode(Dedup.minhashBucketsCol(col("sig"), bands, rows))
          .as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      // array_sort: collect_list order is scheduling-dependent —
      // probes are order-independent (exists), but the PERSISTED index
      // artifact must be byte-deterministic like every other artifact
      .agg(array_sort(collect_list(col("sig"))).as("bsigs")))
  }

  /** `nearDupVsCorpus` over a PRE-BUILT band index (`bandIndexOf`'s
    * schema) — the injectable production core; the self-building
    * overload below derives the index inline. */
  def nearDupVsIndex(stream: DataFrame, idx: DataFrame, bands: Int = 8,
      rows: Int = 4, minEst: Double = 0.5, w: Int = 3): DataFrame = {
    import graft.ext.Dedup
    val k = bands * rows
    val withSig = stream
      .withColumn("__ws", split(trim(col("text")), "\\s+"))
      .withColumn("__sig", Dedup.minhashSigCol(col("__ws"), k, w))
      .withColumn("__bks", Dedup.minhashBucketsCol(col("__sig"), bands, rows))
    val probed = (0 until bands).foldLeft(withSig) { (df, i) =>
      df.withColumn(s"__b_$i", element_at(col("__bks"), i + 1))
        .join(broadcast(idx.where(col("band") === i)
          .select(col("bucket").as(s"__b_$i"), col("bsigs").as(s"__bs_$i"))),
          Seq(s"__b_$i"), "left_outer")
    }
    val hit = (0 until bands).map { i =>
      coalesce(exists(col(s"__bs_$i"), bs =>
        aggregate(zip_with(col("__sig"), bs,
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k) >= minEst),
        lit(false))
    }.reduce(_ || _)
    probed.where(!hit).select(stream.columns.map(col): _*)
  }

  /** Streaming MinHash near-dup ingest — the fuzzy tier
    * (`Dedup.decontaminateFuzzy`'s shape) lifted to the stream side:
    * the STANDING corpus' portable MinHash signatures are grouped into
    * a per-(band, bucket) index (`bandIndexOf`); each ARRIVING
    * document computes its own signature and band buckets as pure
    * projections and probes the index with `bands` broadcast left
    * joins — row-preserving, since the index is unique per
    * (band, bucket) — then drops iff ANY probed bucket holds a corpus
    * signature agreeing on ≥ `minEst` of the k mins (the exact
    * batch-tier predicate, evaluated per row with an `exists` HOF over
    * the bucket's signature list).
    *
    * Scale posture: STATELESS — no watermark, no state store, nothing
    * accumulates (state_rows_max 0 on the identical replay,
    * STREAMBENCH); the standing corpus never shuffles per micro-batch
    * (the index is corpus-DUP-bucket-sized and broadcast, maintained
    * by the batch side between ingest windows — the same
    * lambda-architecture split as `dedupVsIndex`, one tier up; a
    * production deployment persists `bandIndexOf`'s output and feeds
    * the SAME table to every probe via `nearDupVsIndex`).
    * Stream ≡ batch `decontaminateFuzzy(arrivals, corpus)` is
    * spec-pinned (StreamingSpec), as is pre-built-index ≡
    * self-building. */
  def nearDupVsCorpus(stream: DataFrame, corpus: DataFrame, bands: Int = 8,
      rows: Int = 4, minEst: Double = 0.5, w: Int = 3): DataFrame =
    nearDupVsIndex(stream, bandIndexOf(corpus, bands, rows, w),
      bands, rows, minEst, w)

  def runNearDupIngest(spark: SparkSession, inDir: String, corpus: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    StreamStart.parquet(nearDupVsCorpus(source(spark, inDir), corpus),
      outDir, checkpointDir)

  /** Composed streaming ingest gate — the full document admission
    * chain a production ingest ships, as ONE stateless streaming
    * query, cost-ordered cheapest-first:
    *
    *  1. shape-quality filter — the corpus-binding `gopherRules`
    *     signals (word-count band, mean word length, symbol ratio,
    *     alphabetic fraction), the IDENTICAL predicate
    *     `runShapeFilter` applies (expression parity is spec-pinned
    *     against gopherRules' columns); a pure projection predicate,
    *     so it prunes before any index is consulted;
    *  2. exact dedup against the standing corpus' sha256 digest index
    *     (`dedupVsIndex` — broadcast anti-join);
    *  3. MinHash band-probe near-dup check against the standing
    *     corpus (`nearDupVsCorpus` — signature computation paid only
    *     by docs that survived the two cheap tiers).
    *
    * Every tier is stateless (projections + broadcast probes), so the
    * composition is too: one streaming query, no watermark, no state
    * store. The batch equivalent (shape filter → exact anti-join →
    * `decontaminateFuzzy`) is spec-pinned doc-for-doc. */
  def fullIngest(stream: DataFrame, corpus: DataFrame, minWords: Int = 20,
      bands: Int = 8, rows: Int = 4, minEst: Double = 0.5,
      shingleW: Int = 3): DataFrame = {
    val cols = stream.columns.map(col)
    val shaped = stream
      .withColumn("__w", split(trim(col("text")), "\\s+"))
      .withColumn("__nw", size(col("__w")).cast("int"))
      .where(col("__nw").between(minWords, 100000) &&
        (length(concat_ws("", col("__w"))).cast("double") /
          col("__nw").cast("double")).between(3.0, 10.0) &&
        (regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("double") /
          col("__nw").cast("double")) <= 0.1 &&
        (size(filter(col("__w"), x => x.rlike("[A-Za-z]"))).cast("double") /
          col("__nw").cast("double")) >= 0.8)
      .select(cols: _*)
    val exactIdx = corpus.select(sha2(col("text"), 256).as("text_sha")).distinct()
    nearDupVsCorpus(dedupVsIndex(shaped, exactIdx), corpus, bands, rows,
      minEst, shingleW)
  }

  def runFullIngest(spark: SparkSession, inDir: String, corpus: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    StreamStart.parquet(fullIngest(source(spark, inDir), corpus),
      outDir, checkpointDir)

  /** Streaming quality gate — the batch curation tier run UNMODIFIED
    * on a document stream: `TextAnalysis.gopherRules` is a pure
    * projection, so it lifts to Structured Streaming as a stateless
    * per-row filter (no watermark, no state) and must produce exactly
    * the rows the batch pass keeps. Filters on the corpus-shape rules
    * (word-count band, mean word length, symbol ratio, alphabetic
    * fraction — the signals that bind on any corpus). */
  /** Streaming token-frequency CMS partials — the third native sketch
    * streamed via the stateless partials + merge-on-read split (see
    * `EventStream.kmvUsersPartials` for why TypedImperative aggregates
    * stream via foreachBatch): each micro-batch appends ONE
    * depth×width counter matrix over its token instances. CMS counts
    * are LINEAR, so elementwise addition of per-batch matrices is
    * exactly the single-pass matrix — the stream never holds token
    * state, and the per-batch cost is one 32 KB row. */
  def cmsTokenPartials(docs: DataFrame, depth: Int = 4,
      width: Int = 1024): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .select(graft.functions.PolyHash64.polyhash64(col("token")).as("h"))
      .agg(graft.functions.CmsSketch.cmsSketch(col("h"), depth, width)
        .as("m"))

  /** Read-side compaction: per-cell SUM across batch partials
    * (≤ depth·width rows), then the probe tokens' estimates as
    * min-over-rows of their cells — `Sketches.cmsTokenFreq`'s
    * estimate tier over the merged matrix. Returns (token,
    * est_freq). */
  def cmsTokensCompact(partials: DataFrame, probes: Seq[String],
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = partials.sparkSession
    import spark.implicits._
    // one matrix per batch: drop replayed duplicates by their stamp
    // (pre-stamp partials pass through untouched)
    val once =
      if (partials.columns.contains("batch_id"))
        partials.dropDuplicates("batch_id")
      else partials
    val cellSums = once
      .select(posexplode(col("m")).as(Seq("idx", "c")))
      .groupBy(col("idx")).agg(sum(col("c")).as("c"))
    val probeDf = probes.distinct.toDF("token")
      .select(col("token"),
        graft.functions.PolyHash64.polyhash64(col("token")).as("h"))
    val cellIdx = (0 until depth).map { i =>
      lit(i * width) +
        ((col("h") * (2L * i + 1L) +
          lit(i.toLong * graft.functions.CmsSketch.GOLD))
          .bitwiseAND(width - 1L)).cast("int")
    }
    probeDf.select(col("token"), explode(array(cellIdx: _*)).as("idx"))
      .join(broadcast(cellSums), Seq("idx"))
      .groupBy(col("token")).agg(min(col("c")).as("est_freq"))
  }

  def runCmsTokens(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.foreachBatch(spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").json(inDir), checkpointDir) {
      (batch, id) =>
        // stamp the batch id: CMS partials merge by per-cell SUM —
        // NOT idempotent (unlike the KMV/HLL siblings' union/max) —
        // so a replayed micro-batch (append landed, checkpoint
        // didn't) would silently double-count every token in it;
        // compaction dedups by the stamp
        cmsTokenPartials(batch).withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
    }

  def runShapeFilter(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, minWords: Int = 20): StreamingQuery = {
    import graft.ext.TextAnalysis
    val passed = TextAnalysis.gopherRules(source(spark, inDir), minWords)
      .where(TextAnalysis.shapePass(minWords))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("frac_alpha_words"))
    StreamStart.parquet(passed, outDir, checkpointDir)
  }

  /** Streaming multimodal decode (round 13): arriving asset docs run
    * the full robust codec tier — synthesize → container serialize →
    * `ImageCodec.decodeOpt` parse → luma stats, malformed payloads
    * quarantined in-line as `ok = false` + NULL-stats rows — as a
    * STATELESS streaming projection: a narrow per-task typed map, no
    * watermark, no state store, one decoded image in memory per task.
    * This is the shape a 100 TB asset firehose ingests through: decode
    * cost scales with arrival volume only, and garbage payloads
    * become quarantine rows instead of dead micro-batches. Stream ≡
    * batch `Multimodal.decodeStatsRobust` doc-for-doc (spec-pinned;
    * the gate entry shares the batch twin). */
  def runDecodeStats(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(
      graft.ext.Multimodal.decodeStatsRobust(spark, source(spark, inDir)),
      outDir, checkpointDir)

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming IVF index maintenance — newly arriving embeddings are
    * cell-assigned against the centroids of the EXISTING static index
    * (`Similarity.ivfCentroids`) and appended to the posting lists:
    * because assignment is a pure projection through one broadcast
    * centroid table (`ivfAssignAgainst`), it lifts to Structured
    * Streaming with ZERO state — each micro-batch's rows land in
    * exactly the cells a batch rebuild would put them in, so the
    * serving index stays fresh between full rebuilds (the standard
    * IVF freshness story: coarse quantizer fixed, postings grow).
    * Parquet file-stream source — feature-store drops arrive as
    * columnar files, and parquet landing keeps float round-trips
    * exact. */
  def runIvfAssign(spark: SparkSession, inDir: String, cents: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery = {
    import graft.ext.Similarity
    val stream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    StreamStart.parquet(
      Similarity.ivfAssignAgainst(stream, cents).select(col("vec_id"), col("cell")),
      outDir, checkpointDir)
  }
}
