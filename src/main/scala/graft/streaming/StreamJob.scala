package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.pipeline.Cleaning

/** The reference's streaming path (STREAM:33-232, SURVEY.md §2.7) on
  * OSS Structured Streaming:
  *
  *   file source (Kinesis stand-in) → CAST(data AS STRING) →
  *   from_json(declared schema) → flatten → shared Cleaning (sort-free
  *   variants) → parquet append sink + per-table checkpoint.
  *
  * Fidelity: cleaning is the SAME code as batch (the reference
  * duplicates it; we parameterize the batch-only sort). The reference
  * runs `dropDuplicates()` on an unbounded stream with no watermark —
  * unbounded state (SURVEY quirk list). That mode is reproduced by
  * default; `watermarked = true` switches to `withWatermark +
  * dropDuplicatesWithinWatermark`, the 100 TB-safe configuration
  * (state is bounded by the lateness horizon; this is the mode a real
  * deployment should run). Only pin and geo dedup: the reference's
  * user dedup is a no-op (quirk Q-b), so user rows pass through
  * unchanged in either mode, as in batch `Cleaning.cleanUser`.
  *
  * Every start goes through `StreamStart`: a watermarked (dedup-only)
  * table runs ONE micro-batch per trigger — no empty eviction-only
  * batch after it; expired dedup state is evicted in the next data
  * batch instead. The switch is scoped around `.start()` on the
  * caller's session, not set through a cloned session, so the query
  * stays visible in `spark.streams` and to its listeners.
  *
  * Sink parity: no delta jar locally → parquet append + checkpoint
  * gives the same exactly-once-per-micro-batch semantics minus
  * time-travel (SURVEY §7.0).
  */
object StreamJob {

  /** Declared raw schemas (STREAM:66-103): every field string-typed at
    * ingest except where the reference declares otherwise. */
  val pinSchema: StructType = StructType(Seq(
    "index", "unique_id", "title", "description", "poster_name",
    "follower_count", "tag_list", "is_image_or_video", "image_src",
    "downloaded", "save_location", "category")
    .map(f => StructField(f, StringType)))

  val geoSchema: StructType = StructType(Seq(
    "index", "timestamp", "latitude", "longitude", "country")
    .map(f => StructField(f, StringType)))

  val userSchema: StructType = StructType(Seq(
    "index", "date_joined", "first_name", "last_name", "age")
    .map(f => StructField(f, StringType)))

  /** S3+S4+S5: streaming source → bytes-to-string → parsed struct →
    * flattened columns. */
  def source(spark: SparkSession, streamDir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(StructType(Seq(StructField("data", StringType))))
      .json(streamDir)
      .selectExpr("CAST(data AS STRING) AS data")
      .select(from_json(col("data"), schema).as("parsed_data"))
      .select(col("parsed_data.*"))

  /** Cleaning on the stream: identical ops minus the batch-only sort;
    * optional watermarked dedup for bounded state on the tables batch
    * cleaning dedups (pin, geo — never user, quirk Q-b). The watermark
    * rides on an ingest-time column (the reference streams carry no
    * reliable event time on pin). */
  def cleanStream(raw: DataFrame, table: String, watermarked: Boolean): DataFrame = {
    lazy val deduped =
      if (!watermarked) raw
      else raw.withColumn("ingest_ts", current_timestamp())
        .withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(raw.columns.toIndexedSeq)
        .drop("ingest_ts")
    table match {
      // in watermarked mode the reference's unwatermarked dropDuplicates
      // inside cleanPin/cleanGeo is disabled — dedup already happened
      // above with bounded state.
      case "pin" => Cleaning.cleanPin(deduped, sort = false, dedup = !watermarked)
      case "geo" => Cleaning.cleanGeo(deduped, sort = false, dedup = !watermarked)
      case "user" => Cleaning.cleanUser(raw, sort = false)
    }
  }

  /** S10: append sink + per-table checkpoint (STREAM:199-220 shape). */
  def writeTable(df: DataFrame, table: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(df, s"$outDir/$table", s"$checkpointDir/$table")

  val schemas: Map[String, StructType] =
    Map("pin" -> pinSchema, "geo" -> geoSchema, "user" -> userSchema)

  /** Run one table's pipeline to completion (AvailableNow: drains
    * what's landed, checkpoints, stops — restartable). */
  def runOne(spark: SparkSession, streamBase: String, table: String,
      outDir: String, checkpointDir: String,
      watermarked: Boolean = false): Unit = {
    val src = source(spark, s"$streamBase/streams/streaming-graft-$table",
      schemas(table))
    writeTable(cleanStream(src, table, watermarked), table, outDir,
      checkpointDir).awaitTermination()
  }

  /** Run all three table pipelines to completion. */
  def runAll(spark: SparkSession, streamBase: String, outDir: String,
      checkpointDir: String, watermarked: Boolean = false): Unit =
    Seq("pin", "geo", "user").foreach(t =>
      runOne(spark, streamBase, t, outDir, checkpointDir, watermarked))
}
