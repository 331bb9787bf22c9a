package graft

import java.nio.file.Files
import graft.ingest.{Fixtures, TxLog}
import graft.pipeline.{Cleaning, PinQueries}
import graft.streaming.StreamJob
import scala.jdk.CollectionConverters._

/** Streaming-path specs: parity with batch cleaning, checkpointed
  * restart without duplication, watermarked-dedup mode. */
class StreamingSpec extends SparkSpec {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("stream clean == batch clean (minus sort) for all three tables") {
    val base = tmp("st_parity")
    Fixtures.landStream(spark, sf, base)
    StreamJob.runAll(spark, base, s"$base/out", s"$base/ckpt")
    val (bp, bg, bu) = PinQueries.cleanedTables(spark, sf)
    for ((t, batch) <- Seq(("pin", bp), ("geo", bg), ("user", bu))) {
      val streamed = spark.read.parquet(s"$base/out/$t")
      assert(streamed.count() == batch.count(), s"$t count")
      // content parity as multisets (cast arrays/ts to comparable form)
      val cols = batch.columns.map(c => org.apache.spark.sql.functions.col(c).cast("string"))
      val a = batch.select(cols.toIndexedSeq: _*).collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val b = streamed.select(cols.toIndexedSeq: _*).collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(a == b, s"$t content")
    }
  }

  test("stream-static corpus dedup == batch anti-join; stateless (no state dirs)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tmp("st_docdedup")
    val stream = Seq(
      (10L, "known corpus content", "en", "s0"),
      (11L, "fresh never seen text", "en", "s0"),
      (12L, "known corpus content", "de", "s1")   // same text, different meta: still dropped
    ).toDF("doc_id", "text", "lang", "source")
    stream.coalesce(1).write.mode("overwrite").json(s"$base/in")
    val index = Seq("known corpus content").toDF("text")
      .select(sha2(col("text"), 256).as("text_sha"))
    graft.streaming.CorpusStream.runDedupVsIndex(
      spark, s"$base/in", index, s"$base/out", s"$base/ckpt").awaitTermination()
    val got = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(11L), s"only the unseen doc streams through: $got")
    // stateless contract: the checkpoint has no state store directory
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "stream-static anti-join must keep no streaming state")
  }

  test("streaming near-dup ingest == batch decontaminateFuzzy, stateless") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_neardup")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val arrivals = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text", "lang", "source")
    val standing = docs.where(col("doc_id") % 5 =!= 0)
    arrivals.coalesce(1).write.mode("overwrite").json(s"$base/in")
    graft.streaming.CorpusStream.runNearDupIngest(
      spark, s"$base/in", standing, s"$base/out", s"$base/ckpt").awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ext.Dedup.decontaminateFuzzy(arrivals, standing)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    assert(streamed.nonEmpty, "fixture must pass some docs through")
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "broadcast band-probe must keep no streaming state")
  }

  test("streaming decode == batch decodeStatsRobust, stateless, nulls survive") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_decode")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 3 === 0) // keep the replay small; all formats hit
      .select("doc_id", "text", "lang", "source")
    docs.coalesce(1).write.mode("overwrite").json(s"$base/in")
    graft.streaming.CorpusStream.runDecodeStats(
      spark, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
    val batch = graft.ext.Multimodal.decodeStatsRobust(spark, docs)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(c => col(c).cast("string")).toIndexedSeq: _*)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(streamed.count() == batch.count())
    assert(key(streamed) == key(batch), "stream must equal batch doc-for-doc")
    // the malformed-quarantine branch fired in-stream (ok=false rows
    // present, their stats NULL) and no task died for them
    assert(streamed.where(!col("ok")).count() > 0)
    assert(streamed.where(!col("ok") && col("luma_sum").isNotNull).count() == 0)
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "stateless decode projection must keep no streaming state")
  }

  test("nearDupVsIndex over a pre-built band index == self-building nearDupVsCorpus") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val arrivals = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text", "lang", "source")
    val standing = docs.where(col("doc_id") % 5 =!= 0)
    // production shape: the index materialized ONCE (bandIndexOf pins
    // it), probes read it
    val idx = graft.streaming.CorpusStream.bandIndexOf(standing)
    val viaIdx = graft.streaming.CorpusStream.nearDupVsIndex(arrivals, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val self = graft.streaming.CorpusStream.nearDupVsCorpus(arrivals, standing)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIdx == self, s"idx-only=${viaIdx -- self} self-only=${self -- viaIdx}")
    assert(viaIdx.nonEmpty)
  }

  test("streaming full ingest == batch shape->exact->fuzzy composition, stateless") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_fullingest")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val arrivals = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text", "lang", "source")
    val standing = docs.where(col("doc_id") % 5 =!= 0)
    arrivals.coalesce(1).write.mode("overwrite").json(s"$base/in")
    graft.streaming.CorpusStream.runFullIngest(
      spark, s"$base/in", standing, s"$base/out", s"$base/ckpt").awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch composition through the BATCH operators; the shape tier
    // goes through gopherRules' columns, which pins the stream side's
    // inline predicate expressions against the canonical ones
    val shapePass = graft.ext.TextAnalysis.gopherRules(arrivals, 20)
      .where(col("n_words").between(20, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 && col("frac_alpha_words") >= 0.8)
      .select("doc_id")
    val afterShape = arrivals.join(shapePass, "doc_id")
    val afterExact = afterShape.withColumn("__sha", sha2(col("text"), 256))
      .join(standing.select(sha2(col("text"), 256).as("__sha")).distinct(),
        Seq("__sha"), "left_anti").drop("__sha")
    val batch = graft.ext.Dedup.decontaminateFuzzy(afterExact, standing)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    assert(streamed.nonEmpty, "fixture must pass some docs through")
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "composed admission chain must keep no streaming state")
  }

  test("sliding window: every event lands in exactly size/slide windows (batch semantics)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 10:07:00", "view", 1.0),
      (2L, "2024-01-01 10:59:59", "view", 2.0),
      (3L, "2024-01-01 00:00:00", "click", 3.0)   // exactly on a boundary
    ).toDF("event_id", "ts_s", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
        col("event_type"), col("value"))
    val out = ev.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count("*").as("n"))
    // 3 events × 4 covering windows each
    assert(out.agg(sum("n")).head.getLong(0) == 12L)
    // boundary event: its 4 windows start at 23:15, 23:30, 23:45, 00:00
    val starts = out.where(col("event_type") === "click")
      .select(col("window.start").cast("string")).collect().map(_.getString(0)).sorted
    assert(starts.toSeq == Seq("2023-12-31 23:15:00", "2023-12-31 23:30:00",
      "2023-12-31 23:45:00", "2024-01-01 00:00:00"), starts.mkString(","))
  }

  test("streaming shape filter == batch gopher pass, stateless") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_quality")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.select("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").json(s"$base/in")
    graft.streaming.CorpusStream.runShapeFilter(
      spark, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ext.TextAnalysis.gopherRules(docs, 20)
      .where(col("n_words").between(20, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") <= 0.1 && col("frac_alpha_words") >= 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "stream and batch passes must keep the same docs")
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "pure-projection filter must keep no streaming state")
  }

  test("checkpoint restart: rerun on same landing adds nothing") {
    val base = tmp("st_restart")
    Fixtures.landStream(spark, sf, base)
    StreamJob.runOne(spark, base, "user", s"$base/out", s"$base/ckpt")
    val n1 = spark.read.parquet(s"$base/out/user").count()
    // restart: same checkpoint, same landing dir -> no new rows
    StreamJob.runOne(spark, base, "user", s"$base/out", s"$base/ckpt")
    val n2 = spark.read.parquet(s"$base/out/user").count()
    assert(n1 == n2, "restart must be exactly-once (no re-ingestion)")
  }

  test("malformed records parse PERMISSIVE to null rows; pipeline keeps flowing") {
    val base = tmp("st_malformed")
    val dir = s"$base/streams/streaming-graft-user"
    new java.io.File(dir).mkdirs()
    // two valid envelopes + one whose payload is not JSON (from_json
    // PERMISSIVE -> null struct -> all-null flattened row, SURVEY §2.7)
    val w = new java.io.PrintWriter(s"$dir/part-0.json")
    w.println("""{"data":"{\"index\":\"7\",\"date_joined\":\"2020-01-02T03:04:05\",\"first_name\":\"A\",\"last_name\":\"B\",\"age\":\"30\"}"}""")
    w.println("""{"data":"this is not json {"}""")
    w.println("""{"data":"{\"index\":\"8\",\"date_joined\":\"2021-06-07T08:09:10\",\"first_name\":\"C\",\"last_name\":\"D\",\"age\":\"41\"}"}""")
    w.close()
    StreamJob.runOne(spark, base, "user", s"$base/out", s"$base/ckpt")
    val out = spark.read.parquet(s"$base/out/user")
    assert(out.count() == 3, "malformed record must not kill or drop the batch")
    val good = out.where(org.apache.spark.sql.functions.col("ind").isNotNull)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(good == Seq((7, "A B", 30), (8, "C D", 41)))
    assert(out.where(org.apache.spark.sql.functions.col("ind").isNull).count() == 1)
  }

  test("watermarked mode dedups pin with bounded state") {
    val base = tmp("st_wm")
    Fixtures.landStream(spark, sf, base)
    StreamJob.runOne(spark, base, "pin", s"$base/out", s"$base/ckpt",
      watermarked = true)
    val streamed = spark.read.parquet(s"$base/out/pin")
    val batch = Cleaning.cleanPin(graft.pipeline.RawDerive.tables(spark, sf)._1)
    // same dedup result as the unbounded reference mode on this data
    assert(streamed.count() == batch.count())
  }

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.select(df.columns.toIndexedSeq.map(c =>
      org.apache.spark.sql.functions.col(c).cast("string")): _*)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("watermarked user stream == batch cleanUser as a multiset (Q-b dups survive)") {
    val base = tmp("st_wm_user")
    Fixtures.landStream(spark, sf, base)
    StreamJob.runOne(spark, base, "user", s"$base/out", s"$base/ckpt",
      watermarked = true)
    val batch = PinQueries.cleanedTables(spark, sf)._3
    assert(batch.count() > batch.distinct().count(),
      "fixture must carry duplicate user rows")
    assert(multiset(spark.read.parquet(s"$base/out/user")) == multiset(batch))
  }

  test("dedup-only TxLog.streamSink: one micro-batch and one commit per trigger") {
    val base = tmp("st_onebatch")
    Fixtures.landStream(spark, sf, base)
    val (bp, bg, bu) = PinQueries.cleanedTables(spark, sf)
    for ((t, batch) <- Seq(("pin", bp), ("geo", bg), ("user", bu))) {
      val table = s"$base/tables/$t"
      val src = StreamJob.source(spark, s"$base/streams/streaming-graft-$t",
        StreamJob.schemas(t))
      val q = TxLog.streamSink(StreamJob.cleanStream(src, t, watermarked = true),
        table, s"$base/ckpt/$t")
      q.awaitTermination()
      // no empty eviction-only batch after the data batch
      assert(q.recentProgress.length == 1,
        s"$t progress: ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      assert(TxLog.latestVersion(table).contains(0L), s"$t: exactly one commit")
      assert(multiset(TxLog.snapshot(spark, table)) == multiset(batch), s"$t content")
    }
    // the dedup state is still the watermarked, bounded kind
    assert(new java.io.File(s"$base/ckpt/pin/state").isDirectory)
  }

  /** Stage `table`'s two stream files; each returned run lands one of
    * them and drains it into one TxLog sink over one checkpoint. */
  private def triggers(table: String, watermarked: Boolean): Seq[() => Unit] = {
    val base = tmp(s"st_reuse_$table")
    Fixtures.landStream(spark, sf, s"$base/staged")
    val files = new java.io.File(s"$base/staged/streams/streaming-graft-$table")
      .listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq
    assert(files.length == 2)
    val dir = new java.io.File(s"$base/streams/streaming-graft-$table")
    dir.mkdirs()
    files.map { f => () =>
      Files.move(f.toPath, dir.toPath.resolve(f.getName))
      val src = StreamJob.source(spark, dir.getPath, StreamJob.schemas(table))
      TxLog.streamSink(StreamJob.cleanStream(src, table, watermarked),
        s"$base/table", s"$base/ckpt").awaitTermination()
    }
  }

  /** The classes each of `triggers`' runs compiled. */
  private def compilesPerTrigger(table: String, watermarked: Boolean): Seq[Long] =
    triggers(table, watermarked).map { run =>
      val before = Engine.codegenCompiles()
      run()
      Engine.codegenCompiles() - before
    }

  test("a second trigger of the stateless user stream compiles no class") {
    val compiles = compilesPerTrigger("user", watermarked = false)
    assert(compiles(1) == 0, s"compiles per trigger: ${compiles.mkString(",")}")
  }

  test("a second trigger of the watermarked pin stream compiles only its per-batch literals") {
    // the `current_timestamp()` projection and the dedup watermark
    // predicate inline a per-batch µs value into their source
    val compiles = compilesPerTrigger("pin", watermarked = true)
    assert(compiles(1) <= 3, s"compiles per trigger: ${compiles.mkString(",")}")
  }

  test("a watermarked trigger and its restart fork no chmod or readlink") {
    // the first run commits RocksDB state, the second reloads it from
    // the checkpoint; offset/commit logs and TxLog staging on both
    val runs = triggers("pin", watermarked = true)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("spawns", ".jfr")
    try {
      rec.start()
      runs.foreach(_())
      rec.stop()
      rec.dump(dump)
    } finally rec.close()
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
    val commands = events.map(_.getString("command"))
    val helpers = commands.filter(c =>
      Set("chmod", "readlink")(c.trim.takeWhile(_ != ' ').split('/').last))
    assert(helpers.size == 0, s"of ${commands.size} starts, e.g. ${helpers.take(3).mkString("; ")}")
    // with changelog checkpointing a state commit deletes no local
    // checkpoint dir; Spark's `rm -rf` of RocksDB's local dirs may still
    // run on the load and close paths
    val inCommit = events.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(f => f.getMethod.getType.getName == RocksDBClass && f.getMethod.getName == "commit")))
    assert(inCommit.isEmpty,
      s"of ${events.size} starts, in RocksDB.commit: ${inCommit.map(_.getString("command")).mkString("; ")}")
  }

  private val RocksDBClass = "org.apache.spark.sql.execution.streaming.state.RocksDB"
  private val Changelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Drain one file per entry of `modes` through the watermarked pin
    * stream into one TxLog table over one checkpoint, with changelog
    * checkpointing on or off per run. File `k` holds chunk `k` of `sf`'s
    * raw pin rows plus a re-send of chunk `k - 1`. Each run adds one
    * TxLog version, and the table ends as batch cleaning of every
    * landed row. */
  private def assertPinRuns(base: String, modes: Seq[Boolean]): Unit = {
    import org.apache.spark.sql.functions._
    val raw = graft.pipeline.RawDerive.tables(spark, sf)._1
    def chunk(k: Int) = raw.where(pmod(xxhash64(col("index")), lit(modes.size)) === k)
    val in = new java.io.File(s"$base/in")
    in.mkdirs()
    val landed = modes.zipWithIndex.map { case (changelog, k) =>
      val rows = if (k == 0) chunk(0) else chunk(k).union(chunk(k - 1))
      val stage = new java.io.File(s"$base/stage$k")
      rows.select(to_json(struct(rows.columns.toIndexedSeq.map(col): _*)).as("data"))
        .coalesce(1).write.json(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".json")).head
      Files.move(part.toPath, in.toPath.resolve(f"f$k%02d.json"))
      val prev = spark.conf.getOption(Changelog)
      spark.conf.set(Changelog, changelog.toString)
      try {
        val src = StreamJob.source(spark, in.getPath, StreamJob.schemas("pin"))
        TxLog.streamSink(StreamJob.cleanStream(src, "pin", watermarked = true),
          s"$base/table", s"$base/ckpt").awaitTermination()
      } finally prev.fold(spark.conf.unset(Changelog))(spark.conf.set(Changelog, _))
      assert(TxLog.latestVersion(s"$base/table").contains(k.toLong), s"run $k: one commit")
      rows
    }
    assert(multiset(TxLog.snapshot(spark, s"$base/table")) ==
      multiset(Cleaning.cleanPin(landed.reduce(_ union _))))
  }

  /** Names of the files under `base`'s state checkpoint. */
  private def stateFiles(base: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(s"$base/ckpt/state")).iterator().asScala
      .map(_.getFileName.toString).toSeq

  test("a watermarked pin checkpoint resumes across changelog off, on and off again") {
    val base = tmp("st_changelog_switch")
    assertPinRuns(base, Seq(false, true, false))
    val names = stateFiles(base)
    assert(names.exists(_.endsWith(".changelog")) && names.exists(_.endsWith(".zip")),
      names.mkString(","))
  }

  test("12 changelog restarts, past the snapshot threshold, keep the dedup exact") {
    // more restarts than minDeltasForSnapshot (10), each re-sending
    // the rows of the run before
    val base = tmp("st_changelog_restarts")
    assertPinRuns(base, Seq.fill(12)(true))
    assert(stateFiles(base).exists(_.endsWith(".changelog")))
  }

  test("watermarked windowed aggregation keeps its no-data batch: the closed window lands") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.{EventStream, StreamStart}
    val base = tmp("st_closedwin")
    Seq((1L, "2024-01-01 10:05:00", 7L, "view", 1.0),
      (2L, "2024-01-01 10:20:00", 7L, "view", 2.0),
      (3L, "2024-01-01 12:45:00", 8L, "view", 4.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.json(s"$base/in")
    val agg = EventStream.windowedAgg(EventStream.source(spark, s"$base/in"))
    assert(!StreamStart.dedupOnly(agg.queryExecution.analyzed))
    val q = TxLog.streamSink(agg, s"$base/table", s"$base/ckpt")
    q.awaitTermination()
    // the data batch closes no window (watermark starts at 0); the
    // no-data batch after it, at watermark 12:15, closes 10:00-11:00
    assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(3L, 0L))
    val got = TxLog.snapshot(spark, s"$base/table")
      .select(col("window_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("2024-01-01 10:00:00", 2L)), got.mkString(","))
  }

  test("the start scopes the no-data switch: caller's flag kept, listeners hear the query") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import graft.streaming.EventStream
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = seen.add(s"start ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        seen.add(s"progress ${e.progress.id}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = seen.add(s"end ${e.id}")
    }
    val orig = spark.conf.getAll.get(key)
    spark.streams.addListener(listener)
    try {
      val ev = spark.read.parquet(s"$sf/events.parquet")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      for ((prior, i) <- Seq(None, Some("true")).zipWithIndex) {
        val base = tmp(s"st_scope$i")
        // runDedup reads µs timestamps: land them so, or every ts is
        // null and the watermark (and its empty batch) never moves
        ev.union(ev.where(col("event_id") % 3 === 0)).coalesce(1).write
          .option("timestampFormat", EventStream.microTsFormat).json(s"$base/in")
        prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val q = EventStream.runDedup(spark, s"$base/in", s"$base/out", s"$base/ckpt")
        assert(spark.conf.getAll.get(key) == prior, "prior value restored")
        q.awaitTermination()
        assert(q.recentProgress.length == 1, "dedup-only: one micro-batch")
        assert(spark.read.parquet(s"$base/out").count() == ev.count())
        val want = Set(s"start ${q.id}", s"progress ${q.id}", s"end ${q.id}")
        val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
        while (!want.forall(seen.contains) && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(want.forall(seen.contains), s"listener saw: $seen")
      }
    } finally {
      spark.streams.removeListener(listener)
      orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("kmv partials: multi-batch stream merge == one-pass batch sketch") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_kmv")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    ev.repartition(3).write.mode("overwrite").json(s"$base/in")
    graft.streaming.EventStream.runKmvUsers(
      spark, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
    val partials = spark.read.parquet(s"$base/out")
    // one file per trigger: the landing's 3 files → ≥2 batches of
    // partials, so the compaction below genuinely merges across batches
    assert(partials.select("window_start", "event_type").distinct().count() <
      partials.count(), "expected overlapping per-batch partials")
    val streamed = graft.streaming.EventStream.kmvUsersCompact(partials)
    // one-pass batch sketch over the same events (micro-batching must
    // not change a single minimum — the associative-merge contract)
    val batch = graft.streaming.EventStream.kmvUsersCompact(
      graft.streaming.EventStream.kmvUsersPartials(ev))
    assert(streamed.count() == batch.count())
    val diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    assert(diff == 0, s"stream/batch sketch mismatch: $diff rows differ")
    // stateless contract: no state store in the checkpoint
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "partials streaming must keep no state")
  }

  test("hll partials: multi-batch register merge == one-pass batch sketch") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_hll")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    ev.repartition(3).write.mode("overwrite").json(s"$base/in")
    graft.streaming.EventStream.runHllUsers(
      spark, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
    val partials = spark.read.parquet(s"$base/out")
    assert(partials.select("window_start", "event_type").distinct().count() <
      partials.count(), "expected overlapping per-batch partials")
    val streamed = graft.streaming.EventStream.hllUsersCompact(partials)
    // elementwise-max merge: micro-batching must not move a single
    // register, so the estimates agree bit for bit
    val batch = graft.streaming.EventStream.hllUsersCompact(
      graft.streaming.EventStream.hllUsersPartials(ev))
    val diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    assert(diff == 0, s"stream/batch HLL mismatch: $diff rows differ")
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "partials streaming must keep no state")
  }

  test("cms partials: multi-batch matrix sum == the batch operator's estimates") {
    import org.apache.spark.sql.functions._
    val base = tmp("st_cms")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    docs.repartition(3).write.mode("overwrite").json(s"$base/in")
    graft.streaming.CorpusStream.runCmsTokens(
      spark, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
    val partials = spark.read.parquet(s"$base/out")
    assert(partials.count() > 1, "expected one matrix per micro-batch")
    val probes = Seq("spark", "merge", "vector")
    val streamed = graft.streaming.CorpusStream
      .cmsTokensCompact(partials, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // linearity: summed per-batch matrices answer point queries exactly
    // like the one-pass batch sketch (cross-operator parity)
    val batch = graft.ext.Sketches.cmsTokenFreq(docs, probes)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est_freq")).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "partials streaming must keep no state")
  }

  test("streaming IVF assignment == batch rebuild, stateless") {
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val base = tmp("st_ivf")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.repartition(3).write.mode("overwrite").parquet(s"$base/in")
    graft.streaming.CorpusStream.runIvfAssign(
      spark, s"$base/in", Similarity.ivfCentroids(emb),
      s"$base/out", s"$base/ckpt").awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
    val batch = Similarity.ivfAssign(emb).select(col("vec_id"), col("cell"))
    assert(streamed.count() == emb.count())
    val diff = streamed.exceptAll(batch).count() +
      batch.exceptAll(streamed).count()
    assert(diff == 0, s"stream/batch cell mismatch: $diff rows differ")
    val stateDir = new java.io.File(s"$base/ckpt/state")
    assert(!stateDir.exists || stateDir.listFiles.isEmpty,
      "assignment streaming must keep no state")
  }
}
