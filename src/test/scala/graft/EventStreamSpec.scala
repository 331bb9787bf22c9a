package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, OpenSession, UserSession}

/** Event-stream operator specs: watermarked windowed agg (stream ≡
  * batch on emitted windows), the pure sessionization fold, and the
  * end-to-end flatMapGroupsWithState pipeline incl. cross-micro-batch
  * state carry-over via checkpoint restart. */
class EventStreamSpec extends SparkSpec {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Land the sf events as JSON lines (the stream-dir stand-in). */
  private def landEvents(dir: String): Unit =
    spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").json(dir)

  test("windowed agg with watermark: stream == batch on emitted windows") {
    val base = tmp("ev_win")
    landEvents(s"$base/in")
    EventStream.runWindowed(spark, s"$base/in", s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
    val batch = EventStream.batchWindowedAgg(
      spark.read.schema(EventStream.eventSchema).json(s"$base/in"))
    assert(streamed.count() > 0, "watermark must have released windows")
    // every emitted window matches the batch result exactly
    val b = batch.collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    streamed.collect().foreach { r =>
      assert(b((r.getTimestamp(0), r.getString(1))) == (r.getLong(2), r.getDouble(3)))
    }
    // append mode may hold back only the tail beyond the last watermark
    assert(streamed.count() >= batch.count() - 24,
      "at most the trailing windows may be unemitted")
  }

  test("stream-static enrichment: every emitted row carries the dim attr, counts match") {
    val base = tmp("ev_enrich")
    landEvents(s"$base/in")
    val dim = spark.read.parquet(s"$sf/customer.parquet")
    EventStream.runEnriched(spark, s"$base/in", dim, s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
    assert(streamed.count() > 0)
    val segs = dim.select("c_mktsegment").distinct().collect().map(_.getString(0)).toSet
    val outSegs = streamed.select("segment").distinct().collect().map(_.getString(0)).toSet
    assert(outSegs.nonEmpty && outSegs.subsetOf(segs),
      s"segments must come from the dim table: $outSegs vs $segs")
    // enrichment preserves event counts on emitted windows: total events
    // per window across segments == the plain windowed rollup (user_id
    // joins the dim totally in the fixtures)
    val plain = EventStream.batchWindowedAgg(
      spark.read.schema(EventStream.eventSchema).json(s"$base/in"))
      .groupBy(col("window_start")).agg(sum("n_events").as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    streamed.groupBy(col("window_start")).agg(sum("n_events").as("n"))
      .collect().foreach { r =>
        assert(plain(r.getTimestamp(0)) == r.getLong(1))
      }
  }

  // minutes offset well past the epoch: an event at ts=0 ties the
  // initial watermark and is dropped as late — an artifact of epoch-
  // anchored fixtures, not of the operator.
  private val T0 = 1700000000000L
  private def ts(minute: Long) = new Timestamp(T0 + minute * 60000)
  private def ev(id: Long, user: Long, minute: Long, value: Double = 1.0) =
    Event(id, ts(minute), user, "click", value)

  test("streaming dedup: injected duplicates suppressed, firsts stream through") {
    val base = tmp("ev_dedup")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // runDedup reads µs timestamps: land them so, or every ts is null
    // and the watermark never moves. Two landings split in time, one
    // run each over the same checkpoint: the second run's batch
    // starts from the first run's watermark and evicts its state.
    val cut = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0)
    val withDups = ev.union(ev.where(col("event_id") % 3 === 0))
    val removed = Seq(unix_micros(col("ts")) <= cut,
        unix_micros(col("ts")) > cut).map { half =>
      withDups.where(half).coalesce(1).write.mode("append")
        .option("timestampFormat", EventStream.microTsFormat).json(s"$base/in")
      val q = EventStream.runDedup(spark, s"$base/in", s"$base/out", s"$base/ckpt")
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    }
    assert(removed.head == 0 && removed(1) > 0,
      s"second run evicts the first run's expired state: $removed")
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == ev.count(), "each event exactly once")
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("stream-stream attribution: cross-micro-batch matches == batch join") {
    val base = tmp("ev_attr")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // two files split by time: (view in file 1, purchase in file 2)
    // pairs can only match through buffered stream-stream join state
    val cut = ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0)
    val fmt = EventStream.microTsFormat
    ev.where(unix_micros(col("ts")) <= cut).coalesce(1)
      .write.option("timestampFormat", fmt).json(s"$base/in")
    ev.where(unix_micros(col("ts")) > cut).coalesce(1)
      .write.mode("append").option("timestampFormat", fmt).json(s"$base/in")
    val q = EventStream.attribution(EventStream.source(spark, s"$base/in",
      Map("timestampFormat" -> fmt, "maxFilesPerTrigger" -> "1")))
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$base/ckpt").option("path", s"$base/out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("pid"), col("ts").as("pts"))
      .join(ev.where(col("event_type") === "view")
        .select(col("user_id").as("u"), col("event_id").as("vid"), col("ts").as("vts")), "u")
      .where(col("vts") <= col("pts") &&
        col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
      .select("pid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("transformWithState sessionizer == flatMapGroupsWithState sessionizer") {
    val base = tmp("ev_tws")
    val fmt = EventStream.microTsFormat
    spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite")
      .option("timestampFormat", fmt).json(s"$base/in")
    EventStream.runSessionize(spark, s"$base/in", s"$base/out1", s"$base/ck1")
      .awaitTermination()
    EventStream.runSessionizeTws(spark, s"$base/in", s"$base/out2", s"$base/ck2")
      .awaitTermination()
    def rows(p: String) = spark.read.parquet(p)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val a = rows(s"$base/out1")
    val b = rows(s"$base/out2")
    assert(a.nonEmpty && a == b,
      s"state APIs must agree: fmgws=${a.size} tws=${b.size}")
  }

  test("advance: pure sessionization fold splits on gaps") {
    val gap = 30L * 60000
    val events = Seq(ev(1, 7, 0), ev(2, 7, 10), ev(3, 7, 50), ev(4, 7, 200))
    val (closed, open) = EventStream.advance(7, events, None, gap)
    assert(closed == Seq(
      UserSession(7, ts(0), ts(10), 2, 2.0),
      UserSession(7, ts(50), ts(50), 1, 1.0)))
    def us(minute: Long) = ts(minute).getTime * 1000L
    assert(open.contains(OpenSession(us(200), us(200), 1, 100L)))
    // continuation: a prior open session extends instead of splitting
    val (c2, o2) = EventStream.advance(7, Seq(ev(5, 7, 205)), open, gap)
    assert(c2.isEmpty && o2.contains(OpenSession(us(200), us(205), 2, 200L)))
  }

  test("sessionize end-to-end: closed sessions emitted, state survives restart") {
    val base = tmp("ev_sess")
    import spark.implicits._
    def land(rows: Seq[Event], part: String): Unit =
      rows.toDF().coalesce(1).write.mode("append").json(s"$base/in")
    // batch 1: user 1 has an early burst, then silence
    land(Seq(ev(1, 1, 0), ev(2, 1, 5), ev(3, 2, 0)), "a")
    EventStream.runSessionize(spark, s"$base/in", s"$base/out", s"$base/ckpt")
      .awaitTermination()
    // batch 2 (restart from checkpoint): user 1 reappears past the gap —
    // the first session closes; user 2's open session carried over and
    // extends without closing.
    land(Seq(ev(4, 1, 120), ev(5, 2, 10)), "b")
    EventStream.runSessionize(spark, s"$base/in", s"$base/out", s"$base/ckpt")
      .awaitTermination()
    val out = spark.read.parquet(s"$base/out").as[UserSession].collect()
    val u1 = out.filter(_.user_id == 1)
    assert(u1.toSeq == Seq(UserSession(1, ts(0), ts(5), 2, 2.0)),
      s"user 1's first session must close on reappearance; got ${u1.toSeq}")
    // user 2's state carried over the restart (min-0 event from batch 1
    // + min-10 event from batch 2 in ONE session), then closed via the
    // EventTimeTimeout path: the batch-2 watermark (min 110) proves the
    // 30-min idle gap after min 10.
    val u2 = out.filter(_.user_id == 2)
    assert(u2.toSeq == Seq(UserSession(2, ts(0), ts(10), 2, 2.0)),
      s"user 2's session must close by event-time timeout; got ${u2.toSeq}")
  }
}
