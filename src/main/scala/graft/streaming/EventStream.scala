package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Event-stream operators beyond the reference surface (the reference
  * has no watermark, no event-time window, no custom state anywhere —
  * SURVEY.md §2.7): the standard large-scale stream-analytics kit over
  * the `events` table, built the Structured-Streaming-native way.
  *
  *  - `windowedAgg`: watermark + tumbling event-time window + counts/
  *    sums, append mode. State is bounded by the lateness horizon; at
  *    any scale this shuffles once on (window, event_type).
  *  - `sessionize`: typed `flatMapGroupsWithState` gap-sessionization —
  *    one state entry per active user (the open session), closed
  *    sessions emitted as soon as a later event proves the gap. This is
  *    the custom-state shape (KeyValueGroupedDataset) that windowed
  *    aggs can't express.
  *
  * Both run on the same file-source stand-in as StreamJob (no Kafka/
  * Kinesis jars in this environment) and both are verified stream ≡
  * batch in StreamingSpec.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-source events stream (JSON lines landed under `dir`). */
  def source(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(eventSchema).options(options).json(dir)

  /** Spark's default JSON timestampFormat truncates to milliseconds;
    * entries that must round-trip event times exactly (the dedup
    * identity dump) land and read with explicit µs precision. */
  val microTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  /** Tumbling-window rollup with a watermark: the streaming twin of
    * ShapeQueries.eventsHourly. Append mode emits a window only once
    * the watermark passes its end — exactly-once, bounded state. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count("*").as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding (hopping) windowed aggregation — each event contributes
    * to size/slide overlapping windows (1 h windows every 15 min
    * here): the moving-average/trend shape tumbling windows can't
    * express. Same watermark eviction as `windowedAgg`; state is
    * bounded by (windows in the watermark horizon) × keys, i.e.
    * size/slide × the tumbling equivalent — the fan-out factor is the
    * knob. */
  def slidingWindowedAgg(events: DataFrame, size: String = "1 hour",
      slide: String = "15 minutes", lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count("*").as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  def runSlidingWindowed(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(slidingWindowedAgg(source(spark, inDir,
        Map("timestampFormat" -> microTsFormat))),
      outDir, checkpointDir)

  /** Streaming distinct-user cardinality per (hour, event_type) via
    * the native `kmv_sketch` aggregate — unique-visitor counting whose
    * streaming cost is k longs per (window, group, micro-batch), where
    * the exact alternative (`dropDuplicates` on (window, user) feeding
    * a count) holds one state row per distinct user — the unbounded-key
    * hazard `stream_dedup_unbounded` measures.
    *
    * Shape: stateless per-batch partials + merge-on-read, the same
    * split `runUpsert` uses. Each micro-batch APPENDS its own KMV
    * minima per (window, event_type); `kmvUsersCompact` re-aggregates
    * minima-of-minima at read time — exactly the associative merge the
    * sketch is DEFINED by (the global k minima are always inside the
    * union of per-batch k minima), so the compacted result is
    * bit-equal to a single-pass sketch over the whole stream.
    *
    * Why not a stateful streaming aggregation: Spark 4.1's streaming
    * aggregation state path silently persists ZERO state rows when the
    * aggregate list contains any object-buffer (TypedImperative)
    * aggregate — reproduced with Spark's own `percentile_approx` in
    * the same watermarked-window shape (state_rows 0, empty output, no
    * error). Until that engine gap closes, sketch aggregates stream
    * via mergeable partials — which is also how production sketch
    * systems compose them.
    *
    * user_id mixes through the Fibonacci multiply (wraps ≡ mod 2⁶⁴,
    * bijective — distinct hashes IS distinct users). */
  def kmvUsersPartials(events: DataFrame, k: Int = 64,
      windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(graft.functions.KmvSketch.kmvSketch(
        col("user_id") * lit(-7046029254386353131L), k).as("mins"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("mins"))

  /** Read-side compaction: minima-of-minima → final per-window report
    * (n_kept, kth_hash, estimate) — the `Sketches.kmvCardinality`
    * output contract per (window, event_type). */
  def kmvUsersCompact(partials: DataFrame, k: Int = 64): DataFrame =
    partials
      .select(col("window_start"), col("event_type"),
        explode(col("mins")).as("h"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(graft.functions.KmvSketch.kmvSketch(col("h"), k).as("mins"))
      .select(col("window_start"), col("event_type"),
        size(col("mins")).cast("long").as("n_kept"),
        element_at(col("mins"), size(col("mins"))).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(
            (lit((k - 1).toDouble) * lit(18446744073709551616.0)) /
              graft.functions.UnsignedToDouble.unsignedToDouble(col("kth_hash"))))

  def runKmvUsers(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    // default-format landing (see runWindowed); one file per trigger so
    // a multi-file landing provably exercises the cross-batch merge
    StreamStart.foreachBatch(
        source(spark, inDir, Map("maxFilesPerTrigger" -> "1")), checkpointDir) {
      (batch, _) => kmvUsersPartials(batch).write.mode("append").parquet(outDir)
    }

  /** Streaming distinct-user cardinality per (hour, event_type) via
    * the native `hll_sketch` aggregate — the HLL sibling of
    * `kmvUsersPartials`, same stateless partials + merge-on-read split
    * (see that scaladoc for why sketch aggregates stream via
    * foreachBatch partials): each micro-batch appends its 2^p-register
    * array per (window, event_type). HLL's merge is even more
    * transparent than KMV's — elementwise max — so the compacted
    * registers are DEFINED to equal a single pass over the whole
    * stream, and the per-batch streaming cost is 1 KB per group
    * regardless of arrival volume. */
  def hllUsersPartials(events: DataFrame, p: Int = 10,
      windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(graft.functions.HllSketch.hllSketch(
        graft.functions.HllSketch.mix64(col("user_id").cast("long")),
        p).as("regs"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("regs"))

  /** Read-side compaction: registers merge by per-bucket max across
    * batch partials, then the `Sketches.hllEstimateFromCounts`
    * estimate per (window, event_type) — exact integer zero-count and
    * harmonic sum, one double division (bit-equal to the batch
    * operator and the oracle). */
  def hllUsersCompact(partials: DataFrame, p: Int = 10): DataFrame =
    partials
      .select(col("window_start"), col("event_type"),
        posexplode(col("regs")).as(Seq("j", "r")))
      .groupBy(col("window_start"), col("event_type"), col("j"))
      .agg(max(col("r")).as("r"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(
        sum(when(col("r") === 0, lit(1L)).otherwise(lit(0L))).as("v_zero"),
        sum(pow(lit(2.0), lit(64) - col("r")).cast("decimal(38,0)"))
          .as("s_sum"))
      .select(col("window_start"), col("event_type"), col("v_zero"),
        graft.ext.Sketches.hllEstimateFromCounts(
          col("v_zero"), col("s_sum"), p).as("est_distinct"))

  def runHllUsers(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.foreachBatch(
        source(spark, inDir, Map("maxFilesPerTrigger" -> "1")), checkpointDir) {
      (batch, _) => hllUsersPartials(batch).write.mode("append").parquet(outDir)
    }

  /** Streaming upsert-view maintenance (merge-on-read CDC pattern):
    * each micro-batch compacts to latest-per-key via
    * `Changelog.latestByKey` and APPENDS that delta; readers compact
    * again at query time (same operator). This is the Delta/Hudi
    * merge-on-read split expressible on a plain parquet sink:
    * exactly-once per batch via the checkpoint, writes stay
    * append-only (no read-modify-write race), and the read-side
    * compaction is the already-verified changelog operator. State:
    * none in the stream itself — compaction state lives in the data
    * layout. */
  def runUpsertLatest(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1): StreamingQuery =
    StreamStart.foreachBatch(source(spark, inDir,
        Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString,
          "timestampFormat" -> microTsFormat)), checkpointDir) { (batch, _) =>
      graft.ext.Changelog
        .latestByKey(batch, Seq("user_id"), "ts", "event_id")
        .write.mode("append").parquet(outDir)
    }

  /** Stream-static enrichment join + windowed rollup — the canonical
    * streaming-ETL shape (enrich each event with a dimension attribute,
    * then aggregate by it). The static side is broadcast per
    * micro-batch: stream-static inner joins are stateless in Structured
    * Streaming (no watermark needed on the join itself; the dim is
    * re-resolvable every batch, so slowly-changing dims pick up
    * updates). At 100 TB the dim broadcast is the same
    * small-side-broadcast posture as the batch star joins; a
    * too-big-to-broadcast dim would switch to a shuffled stream-static
    * join by dropping the hint. */
  def enrichedWindowedAgg(events: DataFrame, dim: DataFrame,
      dimKey: String = "c_custkey", dimAttr: String = "c_mktsegment",
      windowLen: String = "1 hour", lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .join(broadcast(dim.select(col(dimKey), col(dimAttr))),
        col("user_id") === col(dimKey))
      .groupBy(window(col("ts"), windowLen).as("w"),
        col(dimAttr).as("segment"))
      .agg(count("*").as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))

  def runEnriched(spark: SparkSession, inDir: String, dim: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    StreamStart.parquet(enrichedWindowedAgg(source(spark, inDir), dim),
      outDir, checkpointDir)

  def runWindowed(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(windowedAgg(source(spark, inDir)),
      outDir, checkpointDir)

  /** Watermarked streaming exact-dedup — the streaming twin of
    * `Dedup.exact` for at-least-once sources (Kafka replays, emulator
    * re-posts): first occurrence of each key streams through, repeats
    * within the watermark horizon are suppressed, and
    * `dropDuplicatesWithinWatermark` evicts state once the watermark
    * passes — state is bounded by keys-per-horizon, not stream
    * lifetime (a plain streaming dropDuplicates would grow state
    * forever at 100 TB). `runDedup` runs one micro-batch per trigger
    * (`StreamStart`): eviction happens during the next data batch,
    * not in an empty batch of its own. */
  def dedup(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  def runDedup(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(
      dedup(source(spark, inDir, Map("timestampFormat" -> microTsFormat))),
      outDir, checkpointDir)

  /** Stream-stream interval join — purchase attribution: every
    * purchase joined to the same user's views in the preceding
    * `horizon`. BOTH sides are unbounded streams, so this is the
    * watermarked stream-stream join (state on each side is evicted
    * once the watermark passes the join horizon — bounded by
    * rate × (lateness + horizon), never stream lifetime). The time
    * bound in the join condition is what MAKES state evictable: an
    * unconstrained stream-stream equi-join would buffer both streams
    * forever. Inner joins emit on match, so an AvailableNow run
    * produces the complete batch-equivalent result. */
  def attribution(events: DataFrame, lateness: String = "30 minutes",
      horizon: String = "1 hour"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", lateness)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", lateness)
    purchases.join(views, expr(
      s"v_user = p_user AND v_ts <= p_ts AND p_ts <= v_ts + INTERVAL $horizon"))
      .select(col("purchase_id"), col("view_id"),
        col("p_user").as("user_id"), col("p_ts"), col("v_ts"), col("value"))
  }

  def runAttribution(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(
      attribution(source(spark, inDir, Map("timestampFormat" -> microTsFormat))),
      outDir, checkpointDir)

  // ---- gap sessionization (typed custom state) -----------------------

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** The open session carried between micro-batches. Times are
    * MICROSECONDS (full event-time precision — ms truncation would
    * sessionize differently than the µs-exact batch twin on sub-ms
    * gaps) and the running sum is exact integer cents (double
    * accumulation order would make the emitted sum engine- and
    * arrival-order-dependent). */
  case class OpenSession(start_us: Long, end_us: Long, n_events: Int,
      sum_cents: Long)

  case class UserSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, sum_value: Double)

  private def tsToUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Spark's `round(x*100)` (HALF_UP cents), replicated exactly. */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Fold one user's new events (sorted by event time — the iterator
    * carries no order guarantee) into the open session, emitting every
    * session closed by a gap > `gapMs`. Pure function: unit-testable
    * without a stream. */
  def advance(userId: Long, sorted: Seq[Event], open: Option[OpenSession],
      gapMs: Long): (Seq[UserSession], Option[OpenSession]) = {
    val gapUs = gapMs * 1000L
    sorted.foldLeft((Vector.empty[UserSession], open)) {
      case ((closed, None), e) =>
        (closed, Some(OpenSession(tsToUs(e.ts), tsToUs(e.ts), 1, cents(e.value))))
      case ((closed, Some(s)), e) if tsToUs(e.ts) - s.end_us > gapUs =>
        (closed :+ UserSession(userId, usToTs(s.start_us),
          usToTs(s.end_us), s.n_events, s.sum_cents / 100.0),
          Some(OpenSession(tsToUs(e.ts), tsToUs(e.ts), 1, cents(e.value))))
      case ((closed, Some(s)), e) =>
        (closed, Some(s.copy(end_us = math.max(s.end_us, tsToUs(e.ts)),
          n_events = s.n_events + 1, sum_cents = s.sum_cents + cents(e.value))))
    }
  }

  /** flatMapGroupsWithState sessionizer. State per user = the open
    * session only (constant size — the 100 TB-safe shape; the closed
    * ones leave the state store the moment they're provable). Event-
    * time timeout closes idle sessions once the watermark passes
    * last-event + gap. */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000, lateness: String = "10 minutes"): Dataset[UserSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", lateness)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // idle beyond gap: close and clear
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, usToTs(s.start_us),
              usToTs(s.end_us), s.n_events, s.sum_cents / 100.0))
          } else {
            val (closed, open) = advance(userId,
              it.toSeq.sortBy(e => tsToUs(e.ts)), state.getOption, gapMs)
            open match {
              case Some(s) =>
                state.update(s)
                // the state API clock is milliseconds
                state.setTimeoutTimestamp(s.end_us / 1000L + gapMs)
              case None => if (state.exists) state.remove()
            }
            closed.iterator
          }
      }
  }

  // ---- transformWithState sessionization (Spark 4 state API) ---------

  /** The same gap sessionizer on `transformWithState` — Spark 4's
    * arbitrary-state API (SPARK-40434, the successor to
    * flatMapGroupsWithState): explicit named `ValueState` plus
    * event-time TIMERS instead of a single implicit state slot with
    * one timeout. Semantics are identical to `sessionize` (shared
    * `advance` fold, same µs/cents state), which the spec asserts by
    * running both APIs over the same landed stream. Timer hygiene:
    * each batch re-registers the open session's expiry and deletes
    * stale timers; a fired timer closes the session only if it still
    * proves the gap (a newer event may have extended the session past
    * the old expiry). */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => Encs}
    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encs.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        tv: TimerValues): Iterator[UserSession] = {
      val prev = if (open.exists()) Some(open.get()) else None
      val (closed, stillOpen) = advance(userId,
        rows.toSeq.sortBy(e => tsToUs(e.ts)), prev, gapMs)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      stillOpen match {
        case Some(s) =>
          open.update(s)
          getHandle.registerTimer(s.end_us / 1000L + gapMs)
        case None => open.clear()
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[UserSession] = {
      if (!open.exists()) Iterator.empty
      else {
        val s = open.get()
        if (info.getExpiryTimeInMs >= s.end_us / 1000L + gapMs) {
          open.clear()
          Iterator.single(UserSession(userId, usToTs(s.start_us),
            usToTs(s.end_us), s.n_events, s.sum_cents / 100.0))
        } else Iterator.empty // stale timer: the session has grown past it
      }
    }
  }

  /** transformWithState twin of `sessionize`. */
  def sessionizeTws(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000, lateness: String = "10 minutes"): Dataset[UserSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", lateness)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  def runSessionizeTws(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(sessionizeTws(spark, source(spark, inDir,
        Map("timestampFormat" -> microTsFormat))).toDF(),
      outDir, checkpointDir)

  def runSessionize(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    StreamStart.parquet(sessionize(spark, source(spark, inDir)).toDF(),
      outDir, checkpointDir)

  /** Batch twin of `windowedAgg` for stream≡batch verification: same
    * bucketing arithmetic over a static frame (no watermark cutoff). */
  def batchWindowedAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count("*").as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
}
