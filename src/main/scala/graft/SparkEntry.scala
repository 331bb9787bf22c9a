package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{ExtOracle, ShapeQueries}
import graft.ext.{Curation, Dedup, Profiling, Sampling, Similarity, SkewJoin, TextAnalysis}
import graft.pipeline.{Cleaning, PinOracle, PinQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked entry is paired with an independently written
  * DuckDB twin in `oracleSql`; column names and the deterministic total
  * output order are aligned on both sides (Engine.canonical ↔ explicit
  * ORDER BY ... ASC NULLS FIRST).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Q1 (most popular category per country) exercises ~80% of the operator
    * inventory in one plan: scan, CASE-null projection, regex, casts,
    * dedup, join, groupBy-count, rank window, filter, sort. */
  def entry(spark: SparkSession): DataFrame =
    pinEntry((p, g, _) => PinQueries.q1(p, g))(spark, "/root/testdata/sf0.001")

  /** Cleaned pin/geo/user for a scale-factor dir, cached per (session,
    * dir): the nine analytics queries share one materialized cleaning
    * pass instead of re-running derive+clean per query — the same
    * "clean once, query many" shape the reference notebook has (clean
    * cells run once, then 9 SQL cells). */
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame, DataFrame)]

  private def tables(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    Engine.prepare(spark)
    tableCache.getOrElseUpdate((spark, sfDir), {
      // sort=false: C9's global orderBy is cosmetic (quirk Q-i) and is
      // re-sorted away by every downstream query; the *_clean dump
      // entries order explicitly themselves.
      val (rp, rg, ru) = graft.pipeline.RawDerive.tables(spark, sfDir)
      keptTogether(Cleaning.cleanPin(rp, sort = false),
        Cleaning.cleanGeo(rg, sort = false),
        Cleaning.cleanUser(ru, sort = false))
    })
  }

  /** Pin three session tables CONCURRENTLY: independent DAGs, one
    * scheduler — the cluster pipelines their stages instead of idling
    * between three sequential builds. (Spark job submission is
    * thread-safe; this is the standard multi-job driver pattern.) Each
    * is checkpointed like the operator pins (r18): a cached-only table
    * keeps its full upstream plan in every consumer task's binary —
    * the measured per-task deserialization floor, paid by all nine pin
    * queries per invocation. The checkpoint stub cuts it, its
    * partition count derives from the row count, not the core count,
    * and it is the only stored copy. `kept`, not `eager`: `Pin.reset`
    * between bench entries must not release the session's tables. */
  private def keptTogether(a: DataFrame, b: DataFrame,
      c: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val t = Seq(a, b, c).map(df => Future(graft.ext.Pin.kept(df)))
      .map(Await.result(_, Duration.Inf))
    (t(0), t(1), t(2))
  }

  /** Materialize the shared cleaning cache for a SF dir (Bench warm-up;
    * see the clean-once-query-many note on `tables`). */
  def warmTables(spark: SparkSession, sfDir: String): Unit = tables(spark, sfDir)

  private def pinEntry(q: (DataFrame, DataFrame, DataFrame) => DataFrame)(
      spark: SparkSession, sfDir: String): DataFrame = {
    val (pin, geo, user) = tables(spark, sfDir)
    Engine.canonical(q(pin, geo, user))
  }

  /** THE FULL REFERENCE PIPELINE as one medallion composition on the
    * jar-free Delta stand-in (STREAM:33-232 + BATCH:165-484 end to
    * end), built ONCE per (session, dir) and shared by all nine
    * medallion_pin_q* entries — the reference's own clean-once-query-
    * many shape, now over the streaming table tier: Kinesis-envelope
    * landing → streaming bytes→string → from_json flatten →
    * exactly-once TxLog BRONZE ingest (streamSink's batch ledger) →
    * TxLog streamSource multi-hop → the reference's cleaning → TxLog
    * SILVER → snapshot reads. Every stage is individually gated
    * elsewhere; these entries prove the COMPOSITION against the nine
    * pin oracles, so the whole streaming+table machinery must be
    * invisible in every analytics result. */
  private val medallionCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame, DataFrame)]

  private def medallionTables(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) =
    medallionCache.getOrElseUpdate((s, d), {
      val base = tmpDir("graft_medallion")
      graft.ingest.Fixtures.landStream(s, d, base)
      def silver(table: String): DataFrame = {
        val bronze = s"$base/bronze_$table"
        graft.ingest.TxLog.streamSink(
          graft.streaming.StreamJob.source(s,
            s"$base/streams/streaming-${graft.ingest.Fixtures.topicPrefix}-$table",
            graft.streaming.StreamJob.schemas(table)),
          bronze, s"$base/ckpt_bronze_$table").awaitTermination()
        val silverDir = s"$base/silver_$table"
        graft.ingest.TxLog.streamSink(
          graft.streaming.StreamJob.cleanStream(
            graft.ingest.TxLog.streamSource(s, bronze), table,
            watermarked = false),
          silverDir, s"$base/ckpt_silver_$table").awaitTermination()
        graft.ingest.TxLog.snapshot(s, silverDir)
      }
      keptTogether(silver("pin"), silver("geo"), silver("user"))
    })

  private def medallionEntry(
      q: (DataFrame, DataFrame, DataFrame) => DataFrame)(
      spark: SparkSession, sfDir: String): DataFrame = {
    Engine.prepare(spark)
    val (pin, geo, user) = medallionTables(spark, sfDir)
    Engine.canonical(q(pin, geo, user))
  }

  private def pinSqlEntry(name: String): (SparkSession, String) => DataFrame =
    (spark, sfDir) => {
      val (pin, geo, user) = tables(spark, sfDir)
      graft.pipeline.PinSql.registerViews(pin, geo, user)
      Engine.canonical(graft.pipeline.PinSql.run(spark, name))
    }

  /** Headline benchmark set: all analytic/operator entries; excludes
    * the source/sink correctness surfaces (the stream_ and
    * json_scan_clean entries re-land fixtures and run checkpointed
    * streaming jobs — IO-layer verification, measured by Verify, not
    * meaningful as query throughput). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries.view.filterKeys(k =>
      !k.startsWith("stream_") && k != "json_scan_clean" &&
        // IO-layer verification (Derby / z-order write round-trips),
        // not query throughput
        k != "jdbc_scan_clean" && k != "zorder_scan" &&
        k != "compact_scan_clean" && k != "bucketed_join_revenue" &&
        k != "date_partition_scan" && k != "ann_ivf_postings_scan" &&
        k != "csv_scan_clean" && k != "orc_scan_clean" &&
        k != "avro_scan_clean" && // IO-layer verification, not throughput
        k != "json_robust_scan" && // IO-layer verification, not throughput
        // each builds one or two tables per call: IO class
        !k.startsWith("txlog_") && !k.startsWith("cdf_") &&
        !k.startsWith("medallion_pin_q") && // shared streaming medallion: IO class
        // same results as ngram_jaccard via the hot-key-free candidate
        // path; its freq-agg + prefix overhead only pays off on corpora
        // with skewed shingle frequencies — redundant as a throughput
        // headline at uniform sf0.1 (correctness-gated + equivalence-
        // tested instead).
        k != "ngram_jaccard_prefix").toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- cleaning layer C1-C13, verified as full-table dumps ----------
    "pin_clean" -> ((s, dir) => {
      val (pin, _, _) = tables(s, dir)
      pin.orderBy("ind")
    }),
    // `coordinates` stays Array[String] inside the engine (C10); the gate
    // dump serializes it with concat_ws so the driver's pandas-side sort
    // never sees an unhashable ndarray column (round-1 oracle crash).
    "geo_clean" -> ((s, dir) => {
      val (_, geo, _) = tables(s, dir)
      geo.select(col("ind"), col("country"),
        concat_ws("|", col("coordinates")).as("coordinates_str"),
        col("timestamp").cast("string").as("timestamp_str")).orderBy("ind")
    }),
    "user_clean" -> ((s, dir) => {
      val (_, _, user) = tables(s, dir)
      user.select(col("ind"), col("user_name"), col("age"),
        col("date_joined").cast("string").as("date_joined_str")).orderBy("ind")
    }),
    // ---- the nine reference analytics queries (SURVEY §2.3) -----------
    "pin_q1" -> pinEntry((p, g, _) => PinQueries.q1(p, g)) _,
    "pin_q2" -> pinEntry((p, g, _) => PinQueries.q2(p, g)) _,
    "pin_q3" -> pinEntry((p, g, _) => PinQueries.q3(p, g)) _,
    "pin_q4" -> pinEntry((p, g, _) => PinQueries.q4(p, g)) _,
    "pin_q5" -> pinEntry((p, _, u) => PinQueries.q5(p, u)) _,
    "pin_q6" -> pinEntry((p, _, u) => PinQueries.q6(p, u)) _,
    "pin_q7" -> pinEntry((_, _, u) => PinQueries.q7(u)) _,
    "pin_q8" -> pinEntry((p, _, u) => PinQueries.q8(p, u)) _,
    "pin_q9" -> pinEntry((p, _, u) => PinQueries.q9(p, u)) _,
    // the verbatim-SQL analyst surface (S11) through the gate: the
    // reference's own SQL text against the reference temp-view names
    // must hash-match the same oracle as the DSL twin (q1 = the join/
    // agg/rank flagship; q8 = the windowed-percentile shape)
    "pin_q1_sql" -> pinSqlEntry("q1"),
    "pin_q8_sql" -> pinSqlEntry("q8"),
    // Kafka-REST / Kinesis envelope round-trips (S7/S8) through the
    // gate: wrap raw rows in the exact wire envelope, unwrap via the
    // engine's parser, clean — must equal pin_clean bit-for-bit.
    "kafka_envelope_clean" -> prep((s, d) => {
      val (rawPin, _, _) = graft.pipeline.RawDerive.tables(s, d)
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.Fixtures.fromKafkaEnvelopes(
          graft.ingest.Fixtures.toKafkaEnvelopes(rawPin),
          rawPin.columns.toSeq)).orderBy("ind")
    }),
    "kinesis_envelope_clean" -> prep((s, d) => {
      val (rawPin, _, _) = graft.pipeline.RawDerive.tables(s, d)
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.Fixtures.fromKinesisEnvelopes(
          graft.ingest.Fixtures.toKinesisEnvelopes(rawPin, "streaming-graft-pin"),
          rawPin.columns.toSeq)).orderBy("ind")
    }),
    // ---- scale-shape queries over the big tables (oracle-checked) ----
    "agg_pricing" -> prep((s, d) => Engine.canonical(ShapeQueries.aggPricing(s, d))),
    // per-column profiling report over the events table; ts projected
    // to epoch-µs (the fixture's TIMESTAMP_NTZ under the UTC session =
    // DuckDB's epoch_us) so min/max compare as exact integers
    "profile_events" -> prep((s, d) =>
      graft.ext.Profiling.profile(
        s.read.parquet(s"$d/events.parquet")
          .withColumn("ts", expr("unix_micros(cast(ts as timestamp))")),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
        .orderBy("col_name")),
    // snapshot diff vs a derived next corpus version: %7 slice removed,
    // %5-of-remaining changed, %11 re-added under new ids — all four
    // statuses exercised; the oracle derives the identical version
    "snapshot_diff" -> prep((s, d) => {
      val old = docs(s, d).select("doc_id", "text")
      val newer = old.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.ext.Profiling.snapshotDiff(old, newer).orderBy("doc_id")
    }),
    // per-source quality scorecard (crawl-prioritization report)
    "source_scorecard" -> prep((s, d) =>
      TextAnalysis.sourceScorecard(docs(s, d)).orderBy("source")),
    // quality quartile tiers (exact corpus quantiles, scan-side assign)
    "quality_tiers" -> prep((s, d) =>
      TextAnalysis.qualityTiers(docs(s, d)).orderBy("doc_id")),
    // cross-table referential audit (documents ↔ embeddings coverage)
    "referential_audit" -> prep((s, d) =>
      graft.ext.Profiling.referentialAudit(
        docs(s, d), "doc_id", emb(s, d), "vec_id")),
    // ordered conversion funnel + retention triangle (product analytics)
    "event_funnel" -> prep((s, d) =>
      ShapeQueries.eventFunnel(s, d).orderBy("stage")),
    "retention_cohorts" -> prep((s, d) =>
      ShapeQueries.retentionCohorts(s, d).orderBy("cohort_day", "day_offset")),
    "revenue_by_nation" -> prep((s, d) => Engine.canonical(ShapeQueries.revenueByNation(s, d))),
    "top_customers" -> prep((s, d) => ShapeQueries.topCustomers(s, d)),
    "events_hourly" -> prep((s, d) => Engine.canonical(ShapeQueries.eventsHourly(s, d))),
    "sessionize_batch" -> prep((s, d) => Engine.canonical(ShapeQueries.sessionizeBatch(s, d))),
    // point-in-time self-enrichment: every event annotated with the
    // user's most recent purchase at or before it (as-of join)
    "asof_last_purchase" -> prep((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      graft.ext.AsofJoin.asofJoin(
        ev.select("event_id", "ts", "user_id"),
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        Seq("user_id"), "ts",
        Seq("event_id" -> "purchase_id", "value" -> "purchase_value"),
        "event_id")
        .select(col("event_id"), col("user_id"),
          col("purchase_id"), col("purchase_value"))
        .orderBy("event_id")
    }),
    "user_top_events" -> prep((s, d) => Engine.canonical(ShapeQueries.userTopEvents(s, d))),
    // changelog compaction: current state per user = latest event
    "latest_user_event" -> prep((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
      graft.ext.Changelog.latestByKey(ev, Seq("user_id"), "ts_us", "event_id")
        .orderBy("user_id")
    }),
    // bucketed interval-containment join: events ⋈ deterministic
    // per-customer campaign windows, rolled up per campaign
    "range_join_campaigns" -> prep((s, d) => {
      val hourUs = 3600L * 1000000L
      val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z in µs
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("value"))
      val ivs = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("interval_id"),
          (lit(baseUs) + (col("c_custkey") * 7919 % 720) * hourUs).as("start_us"),
          (lit(baseUs) + (col("c_custkey") * 7919 % 720) * hourUs
            + (col("c_custkey") % 12 + 1) * hourUs).as("end_us"))
      Engine.canonical(
        graft.ext.RangeJoin.intervalJoin(ev, "ts_us", ivs,
          "start_us", "end_us", hourUs)
          .groupBy(col("interval_id"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
              .as("sum_value")))
    }),
    // ---- text analysis (oracle-checked where parity-safe) ------------
    "text_stats" -> prep((s, d) => Engine.canonical(TextAnalysis.textStats(docs(s, d)))),
    // the vocab sketch's exact anchor (the HLL estimate itself is
    // spec-bounded, not oracle-matchable)
    "vocab_size" -> prep((s, d) =>
      TextAnalysis.vocabSize(docs(s, d)).select("exact_vocab")),
    "token_freq_topk" -> prep((s, d) => TextAnalysis.tokenFreqTopK(docs(s, d))),
    "quality_score" -> prep((s, d) => Engine.canonical(TextAnalysis.qualityScore(docs(s, d)))),
    "bpe_token_count" -> prep((s, d) => TextAnalysis.bpeTokenCount(docs(s, d)).orderBy("doc_id")),
    // tokenizer-vocabulary induction: top-8 BPE merge rules from the
    // corpus word-frequency table (the corpus is scanned ONCE; merge
    // iterations rewrite only the vocab)
    "bpe_merges" -> prep((s, d) =>
      TextAnalysis.bpeLearnMerges(docs(s, d)).orderBy("merge_rank")),
    // learn ∘ apply: per-doc token count under the learned vocabulary
    // (the number packing budgets actually need)
    "bpe_apply_count" -> prep((s, d) => {
      val m = TextAnalysis.bpeLearnMerges(docs(s, d)).orderBy("merge_rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeApplyCount(docs(s, d), m).orderBy("doc_id")
    }),
    "lang_id" -> prep((s, d) => TextAnalysis.langId(docs(s, d))
      .select("doc_id", "lang_pred", "lang_conf").orderBy("doc_id")),
    "fingerprint_docs" -> prep((s, d) => TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),
    // PII redaction over docs with deterministically injected
    // email/IP/phone strings (the clean fixtures carry no PII, so the
    // injection is what makes the scrub observable end-to-end)
    "pii_scrub" -> prep((s, d) => {
      val k = col("doc_id")
      val injected = docs(s, d).withColumn("text",
        when(k % 5 === 0, concat(col("text"),
          lit(" contact user"), k.cast("string"), lit("@example.com from 10."),
          (k % 200).cast("string"), lit("."), (k % 250).cast("string"),
          lit(".7 tel 555-"), lpad((k % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((k % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
      TextAnalysis.scrubPii(injected).orderBy("doc_id")
    }),
    // Gopher-style rule filter: every signal + the combined pass flag
    "gopher_rules" -> prep((s, d) =>
      TextAnalysis.gopherRules(docs(s, d)).orderBy("doc_id")),
    "repetition_score" -> prep((s, d) =>
      TextAnalysis.repetitionScore(docs(s, d)).orderBy("doc_id")),
    // corpus-unigram LM quality (perplexity-filter analog)
    // feature-hashed doc vectors (the text→vector bridge); the gate
    // dump serializes the array column — like geo_clean — so the
    // driver's pandas-side sort never sees an unhashable ndarray
    "feature_hash_vectors" -> prep((s, d) =>
      TextAnalysis.featureHashVectors(docs(s, d), dim = 64)
        .select(col("doc_id"), col("n_tokens"),
          concat_ws(",", transform(col("features"), _.cast("string")))
            .as("features_str"))
        .orderBy("doc_id")),
    // fasttext-shaped linear filter inference: dense synthetic weight
    // table (the trained-model stand-in), margin = mean hashed-gram
    // weight, keep = margin >= 0 — scoring is a zero-exchange scan
    "classifier_score" -> prep((s, d) =>
      TextAnalysis.classifierScore(docs(s, d),
        s.range(512).select(col("id").as("bucket"),
          ((col("id") * 48271L + 7L) % 2001L - 1000L).as("w")),
        dim = 512).orderBy("doc_id")),
    // TF-IDF distinctive terms per doc (integer-quantized idf, top-5)
    "tfidf_top_terms" -> prep((s, d) =>
      TextAnalysis.tfidfTopTerms(docs(s, d), k = 5)
        .orderBy("doc_id", "tok")),
    // BM25 lexical retrieval: top-10 docs for a fixed 3-term query
    // (Okapi scoring, Lucene-style idf, integer-quantized per-term
    // contributions)
    "bm25_topk" -> prep((s, d) =>
      TextAnalysis.bm25TopK(docs(s, d), Seq("spark", "merge", "vector"))
        .orderBy("doc_id")),
    // batch retrieval: 3 query sets (overlapping terms, so the shared
    // per-(doc,term) scoring provably fans out) through the one
    // compiled multi-query plan; per-query top-5
    "bm25_multiquery" -> prep((s, d) => {
      import s.implicits._
      val q = Seq((1L, "spark"), (1L, "merge"), (2L, "vector"),
        (2L, "spark"), (3L, "merge"), (3L, "vector"))
        .toDF("query_id", "term")
      TextAnalysis.bm25MultiTopK(docs(s, d), q, k = 5)
        .orderBy("query_id", "doc_id")
    }),
    // bigram LM quality (sequence-aware perplexity proxy)
    "bigram_lm_quality" -> prep((s, d) =>
      TextAnalysis.bigramLmQuality(docs(s, d)).orderBy("doc_id")),
    // frequency-floored bigram model (the 100 TB scale knob); at
    // minCount=3 the pruned-vs-exact backoff is actually exercised
    "bigram_lm_pruned" -> prep((s, d) =>
      TextAnalysis.bigramLmQualityPruned(docs(s, d), minCount = 3)
        .orderBy("doc_id")),
    // Jelinek-Mercer interpolated bigram LM (dyadic lambda=0.75 so
    // both engines' smoothing literals are bit-identical)
    "bigram_lm_interp" -> prep((s, d) =>
      TextAnalysis.bigramLmQualityInterp(docs(s, d)).orderBy("doc_id")),
    // DSIR-style importance weights vs the lang='en' target slice
    "dsir_weights" -> prep((s, d) =>
      TextAnalysis.dsirWeights(docs(s, d), col("lang") === "en")
        .orderBy("doc_id")),
    // classifier calibration: the lexical-quality score binned against
    // the shape-pass label — per-bin mean score vs empirical rate + gap
    "calibration_report" -> prep((s, d) => {
      val g = TextAnalysis.gopherRules(docs(s, d), 20)
        .select(col("doc_id"),
          (col("n_words").between(20, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") <= 0.1 &&
            col("frac_alpha_words") >= 0.8).as("y"))
      TextAnalysis.calibrationReport(
        TextAnalysis.qualityScore(docs(s, d)).join(g, "doc_id"),
        "quality", "y").orderBy("bin")
    }),
    // held-out LM eval: the %5 slice scored under the OTHER 80%'s
    // add-1-smoothed unigram distribution (+ OOV rate) — the eval
    // loop self-scored lmQuality can't provide
    "lm_heldout" -> prep((s, d) => {
      val all = docs(s, d)
      TextAnalysis.lmQualityHeldOut(
        all.where(col("doc_id") % 5 =!= 0),
        all.where(col("doc_id") % 5 === 0)).orderBy("doc_id")
    }),
    "lm_quality" -> prep((s, d) =>
      TextAnalysis.lmQuality(docs(s, d)).orderBy("doc_id")),
    // cross-doc span duplication (shingle-level substring-dedup signal)
    "span_dup_score" -> prep((s, d) =>
      Dedup.spanDupScore(docs(s, d)).orderBy("doc_id")),
    // its dual: fraction of shingles FIRST seen in this doc (marginal
    // information each new doc adds to the corpus)
    "novelty_score" -> prep((s, d) =>
      Dedup.noveltyScore(docs(s, d)).orderBy("doc_id")),
    // exact-substring dedup: later occurrences of duplicated 8-token
    // spans excised, first occurrence kept
    "substring_dedup" -> prep((s, d) =>
      Dedup.substringDedup(docs(s, d)).orderBy("doc_id")),
    // distributed zipWithIndex: contiguous ids in doc_id order without
    // a single-reducer global window (partitions pinned: partition
    // boundaries are id-invariant but the pass count isn't worth
    // re-deriving per verifying environment)
    "stable_row_ids" -> prep((s, d) =>
      graft.ext.Indexing.stableRowIds(
        docs(s, d).select("doc_id", "lang"), Seq("doc_id"), partitions = 8)
        .select("doc_id", "lang", "row_id").orderBy("doc_id")),
    "embedding_centroids" -> prep((s, d) =>
      Similarity.labelCentroids(emb(s, d)).orderBy("label", "dim")),
    "curated_corpus" -> prep((s, d) => Curation.curated(docs(s, d)).orderBy("doc_id")),
    // the flagship composition: every curation tier (lexical + LM
    // quality, repetition, exact + semantic dedup, leakage-safe split)
    // in one declarative plan, oracle-checked as a whole
    "pretraining_corpus" -> prep((s, d) =>
      Curation.pretrainingCorpus(docs(s, d), emb(s, d)).orderBy("doc_id")),
    // per-stage survivor counts (pipeline yield observability):
    // raw → shape rules → exact dedup → greedy near dedup → decontam
    "curation_funnel" -> prep((s, d) =>
      Curation.curationFunnel(docs(s, d),
        docs(s, d).where(col("doc_id") % 97 === 0)).orderBy("stage")),
    // ---- deterministic sampling / splitting / skew handling ----------
    "train_test_split" -> prep((s, d) =>
      Sampling.assignSplit(docs(s, d)).select("doc_id", "split").orderBy("doc_id")),
    // the audit pair: independent assignment LEAKS near-dups across
    // splits (leaky rows present)...
    "split_leakage_audit" -> prep((s, d) =>
      Sampling.splitLeakageAudit(
        Sampling.assignSplit(docs(s, d)).select("doc_id", "split"),
        Dedup.minhashLshPairsPortable(docs(s, d)))
        .orderBy("split_x", "split_y")),
    // ...cluster-keyed assignment provably does not (every row
    // same-split by construction; the oracle pins zero leaky rows)
    "split_leakage_audit_safe" -> prep((s, d) => {
      // pinned (r19): the entry referenced the LSH pair pipeline twice
      // (split keying + audit) and the assignment twice (the audit's
      // two id joins) — each reference re-ran everything downstream of
      // the r18 signature pin (band join, candidate verify, the
      // iterative dupClusters loop; 16 jobs per re-evaluation
      // measured). Both pins are sliver-sized proxies: pairs = the
      // near-dup pair set, assignment = (doc_id, split).
      val pairs = graft.ext.Pin.eager(
        Dedup.minhashLshPairsPortable(docs(s, d)))
      val assign = graft.ext.Pin.eager(
        Sampling.leakageSafeSplit(docs(s, d), pairs)
          .select("doc_id", "split"))
      Sampling.splitLeakageAudit(assign, pairs)
        .orderBy("split_x", "split_y")
    }),
    // split keyed on near-dup cluster ids: whole clusters move between
    // splits atomically (no train/test leakage through near-copies).
    // Round 6: the pair graph comes from the MinHash/LSH sketch tier —
    // ScaleProbe measures the exact shingle self-join as the one
    // super-linear candidate path under growing duplication while the
    // band-bucket join stays ~linear, so the sketch tier feeds every
    // split/fold/cluster consumer; the exact tier remains gated via
    // ngram_jaccard / ngram_jaccard_prefix / dedup_corpus.
    "leakage_safe_split" -> prep((s, d) =>
      Sampling.leakageSafeSplit(docs(s, d), Dedup.minhashLshPairsPortable(docs(s, d)))
        .select("doc_id", "split").orderBy("doc_id")),
    // leakage-safe k-fold CV assignment: near-dup clusters share folds
    // (MinHash pair feeder, same rationale as leakage_safe_split)
    "kfold_split" -> prep((s, d) =>
      Sampling.leakageSafeKfold(docs(s, d), Dedup.minhashLshPairsPortable(docs(s, d)))
        .select("doc_id", "fold").orderBy("doc_id")),
    "stratified_sample" -> prep((s, d) =>
      Sampling.stratifiedSample(docs(s, d), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1))
        .select("doc_id", "lang").orderBy("doc_id")),
    // domain-weighted mixture sampling: output proportions 5:3:2 over
    // three sources at the largest no-upsampling size, pure-integer
    // keep rule (see Sampling.mixtureSample determinism contract)
    "mixture_sample" -> prep((s, d) =>
      Sampling.mixtureSample(docs(s, d), "source",
        Map("src0" -> 5, "src1" -> 3, "src2" -> 2))
        .select("doc_id", "source").orderBy("doc_id")),
    // token-budget waterfill mixing: 3000 tokens across src0/src1/src2
    // at weights 6:3:1 — src0's proportional share exceeds its supply,
    // so the waterfill's cap-and-redistribute round provably bites
    // plan-time repetition accounting for the same mix: tokens asked
    // vs tokens available per source -> epoch counts (>1 = repeats)
    "epochs_report" -> prep((s, d) =>
      Sampling.epochsReport(
        docs(s, d).withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long")),
        "source", Map("src0" -> 6, "src1" -> 3, "src2" -> 1),
        budget = 300000L, tokensCol = "n_tokens").orderBy("source")),
    "budget_mix" -> prep((s, d) =>
      Sampling.budgetMix(
        docs(s, d).withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long")),
        "source", Map("src0" -> 6, "src1" -> 3, "src2" -> 1),
        budget = 3000L, tokensCol = "n_tokens")
        .select("doc_id", "source", "n_tokens").orderBy("doc_id")),
    // GPT-style token-budget shard packing (bucketed prefix sums).
    // nBuckets pinned: bucket ids feed the oracle twin, which must not
    // depend on how many cores the verifying session happens to have
    // (the operator default tracks session parallelism).
    "pack_shards" -> prep((s, d) =>
      Sampling.packShards(
        docs(s, d).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens")),
        "n_tokens", budget = 2048, nBuckets = 8)
        .select("doc_id", "n_tokens", "pack_bucket", "shard_in_bucket")
        .orderBy("doc_id")),
    // packing-efficiency report (loader health: fill quartiles + waste)
    "packing_report" -> prep((s, d) =>
      Sampling.packingReport(
        Sampling.packShards(
          docs(s, d).select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).as("n_tokens")),
          "n_tokens", budget = 2048, nBuckets = 8),
        budget = 2048)),
    // the packed sequences themselves (what a loader consumes):
    // id-ordered concatenation per (bucket, shard)
    "pack_sequences" -> prep((s, d) => {
      val withTok = docs(s, d).select(col("doc_id"), col("text"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      Sampling.packSequences(
        Sampling.packShards(withTok, "n_tokens", budget = 2048, nBuckets = 8))
        .orderBy("pack_bucket", "shard_in_bucket")
    }),
    // pairs -> connected components -> one canonical keeper per cluster
    // (MinHash pair feeder, same rationale as leakage_safe_split)
    "dedup_clusters" -> prep((s, d) =>
      Dedup.dupClusters(Dedup.minhashLshPairsPortable(docs(s, d)))
        .orderBy("doc_id")),
    // C4-style line cleaning over a derived multi-line corpus with
    // deterministic terminal punctuation (3 of 4 lines) and injected
    // "javascript" / "lorem ipsum" lines — every rule path fires; the
    // oracle twin derives the identical corpus
    "c4_clean" -> prep((s, d) => {
      val derived = docs(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"),
          concat(
            array_join(transform(
              sequence(lit(1), greatest(
                ceil(size(col("w")).cast("double") / 10.0).cast("int"), lit(1))),
              i => concat(
                concat_ws(" ", slice(col("w"), (i - 1) * 10 + 1, lit(10))),
                when((col("doc_id") + i) % 4 === 0, "").otherwise("."))),
              "\n"),
            when(col("doc_id") % 89 === 0,
              "\nplease enable javascript to view this page.").otherwise(""),
            when(col("doc_id") % 97 === 0,
              "\nlorem ipsum dolor sit amet consectetur adipiscing elit.")
              .otherwise("")).as("text"))
      TextAnalysis.c4Clean(derived).orderBy("doc_id")
    }),
    // corpus-wide line-level exact dedup: first occurrence survives.
    // The fixture is single-line, so the entry derives a multi-line
    // corpus deterministically (10-token lines) — the oracle twin
    // derives the identical corpus; ~5% of lines are real cross-doc
    // duplicates at sf0.01, so the drop path is exercised.
    "line_dedup" -> prep((s, d) =>
      Dedup.lineDedup(tenTokenLines(docs(s, d))).orderBy("doc_id")),
    // corpus-frequency boilerplate removal: every occurrence of a
    // high-doc-frequency line drops (the complement of line_dedup's
    // first-occurrence-wins). maxDocFrac=0.003 puts the threshold at
    // 1.5 docs on the 500-doc fixture, so the df>=2 line class (~120
    // lines) actually drops while df=1 survives — both paths fire.
    "boilerplate_strip" -> prep((s, d) =>
      Dedup.boilerplateStrip(tenTokenLines(docs(s, d)), maxDocFrac = 0.003)
        .orderBy("doc_id")),
    // the end-to-end dedup call: corpus minus non-canonical members
    "dedup_corpus" -> prep((s, d) =>
      Dedup.dedupCorpus(docs(s, d))
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // same composition on the sketch tier (the 100 TB candidate path):
    // portable MinHash pairs → components → anti-join, one oracle stmt
    "dedup_corpus_minhash" -> prep((s, d) =>
      Dedup.dedupCorpusMinhash(docs(s, d))
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // the VERIFIED production chain as one entry: sketch candidates
    // (est >= 0.5) -> exact edit-distance verify -> components over
    // verified pairs only -> anti-join (candidates->verify->prune
    // proven end-to-end; the verify tier provably prunes here — the
    // est>=0.5 candidate set is wider than the >=0.9 minhash entry's)
    "dedup_corpus_verified" -> prep((s, d) =>
      Dedup.dedupCorpusVerified(docs(s, d))
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // incremental ingest dedup: the doc_id%5 slice is "today's batch",
    // the rest is the standing corpus — batch docs near-dup against
    // the corpus or an earlier batch doc are dropped
    "incremental_dedup" -> prep((s, d) => {
      val all = docs(s, d)
      Dedup.incrementalDedup(
        all.where(col("doc_id") % 5 =!= 0),
        all.where(col("doc_id") % 5 === 0))
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),
    // overlapping token-window chunking (context-window prep; 32/8 so
    // the fixture docs actually produce multi-chunk overlap)
    "chunk_docs" -> prep((s, d) =>
      graft.ext.TextAnalysis.chunk(docs(s, d), chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_no")),
    // train/test contamination: corpus shingle overlap vs a benchmark
    // subset (doc_id % 97) — the pre-training decontamination check
    "decontaminate" -> prep((s, d) => Engine.canonical(
      Dedup.contamination(docs(s, d),
        docs(s, d).where(col("doc_id") % 97 === 0)))),
    // the flipped perspective: per-benchmark-doc attribution (which
    // eval items are burned, by how many corpus docs, worst overlap)
    "contamination_report" -> prep((s, d) =>
      Dedup.contaminationReport(docs(s, d),
        docs(s, d).where(col("doc_id") % 97 === 0))
        .orderBy("bench_id")),
    // same check through the broadcast-Bloom-prefilter path (map-side
    // pruning + exact verify join); identical output, shared oracle
    "decontaminate_bloom" -> prep((s, d) => Engine.canonical(
      Dedup.contaminationBloom(docs(s, d),
        docs(s, d).where(col("doc_id") % 97 === 0)))),
    // Adaptive hot-key variant: on this uniform TPC-H data it detects
    // zero hot keys and degenerates to a plain join + one narrow
    // pre-pass — exactly the at-scale cost profile we want (blanket
    // salting is the tested fallback, SkewJoin.saltedInner).
    "salted_join_revenue" -> prep((s, d) => Engine.canonical(
      SkewJoin.saltedInnerHotKeys(
        s.read.parquet(s"$d/lineitem.parquet")
          .select(col("l_orderkey"), col("l_extendedprice")),
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        "l_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count("*").as("n_items"),
          (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / 100)
            .as("revenue")))),
    // ---- dedup tiers -------------------------------------------------
    "dedup_exact" -> prep((s, d) => Engine.canonical(Dedup.exact(docs(s, d)))),
    "ngram_jaccard" -> prep((s, d) => Engine.canonical(Dedup.ngramJaccardPairs(docs(s, d)))),
    "ngram_jaccard_prefix" -> prep((s, d) => Engine.canonical(Dedup.ngramJaccardPairsPrefix(docs(s, d)))),
    // The engine-hash MinHash/SimHash paths (seeded xxhash64, no DuckDB
    // twin possible) are NOT gate entries: their semantics are fully
    // oracle-proven through the *_portable twins below (identical plan
    // shape, portable hash), and ExtSpec pins xxhash≡portable agreement
    // on strong pairs plus native-expression≡HOF equivalence. Gate
    // stays 100% hash-checked this way (round-4 verdict, item 3).
    "minhash_pairs_portable" -> prep((s, d) =>
      Dedup.minhashLshPairsPortable(docs(s, d)).orderBy("a_id", "b_id")),
    "simhash_pairs_portable" -> prep((s, d) =>
      Dedup.simhashPairsPortable(docs(s, d)).orderBy("a_id", "b_id")),
    // ---- similarity search -------------------------------------------
    "ann_cosine_topk" -> prep((s, d) => Engine.canonical(
      Similarity.bruteForceTopK(emb(s, d), queryVecId = 0L, k = 10))),
    "ann_lsh_topk" -> prep((s, d) => Similarity.lshTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0)).orderBy("probe_id", "vec_id")),
    // exact batch brute force via the unified dispatcher (the recall
    // truth the approximate tiers are measured against; also proves
    // annTopK's strategy routing in the gate)
    "ann_brute_batch" -> prep((s, d) => Similarity.annTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5, strategy = "brute")
      .orderBy("probe_id", "vec_id")),
    "ann_ivf_topk" -> prep((s, d) => Similarity.ivfTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5, nprobe = 3)
      .orderBy("probe_id", "vec_id")),
    // the SERVING path: the IVF index persisted as a cell-partitioned
    // parquet layout, probes read back through dynamic partition
    // pruning (only the nprobe probed cells' files) — value-identical
    // to the self-building ivfTopK, shares its oracle
    "ann_ivf_postings_scan" -> prep((s, d) => {
      val out = tmpDir("graft_ivfpost") + "/postings"
      val e = emb(s, d)
      graft.ingest.Layout.writeIvfPostings(Similarity.ivfAssign(e), out)
      Similarity.ivfTopKFromPostings(s.read.parquet(out),
        Similarity.ivfCentroids(e),
        e.where(col("vec_id") % 100 === 0), k = 5, nprobe = 3)
        .orderBy("probe_id", "vec_id")
    }),
    // greedy k-center coreset: 6 maximum-spread picks + the monotone
    // coverage-radius curve (exact integer distances)
    "kcenter_sample" -> prep((s, d) =>
      Similarity.kcenterSample(emb(s, d), k = 6).orderBy("sel_rank")),
    // contrastive-training negatives: per probe, top-5 by cosine
    // INSIDE [0.05, 0.35) — informative but below the near-dup band (a
    // near-dup negative is a mislabeled positive; the 0.35 edge sits
    // inside this fixture's candidate range so the filter provably
    // bites); same IVF cell-pruned plan as ann_ivf_topk
    "hard_negatives" -> prep((s, d) => Similarity.hardNegatives(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5,
      simLo = 0.05, simHi = 0.35, nprobe = 3)
      .orderBy("probe_id", "vec_id")),
    // PQ compression: every vector -> m=4 codebook indices (the ANN
    // memory tier); codes serialized (arrays crash the gate checker)
    "pq_encode" -> prep((s, d) =>
      Similarity.pqEncode(emb(s, d))
        .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"))
        .orderBy("vec_id")),
    // ADC search over the compressed index: per-probe lookup tables,
    // top-5 by exact-integer approximate distance
    "ann_pq_topk" -> prep((s, d) => Similarity.pqTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5)
      .orderBy("probe_id", "vec_id")),
    // kNN graph: top-5 within-cell neighbors for EVERY vector (the
    // graph-based dedup/clustering substrate; one cell self-join)
    "knn_graph" -> prep((s, d) =>
      Similarity.knnGraph(emb(s, d), k = 5).orderBy("vec_id", "nbr_id")),
    // per-label kNN majority-vote accuracy (embedding-space quality:
    // does the space cluster by label?)
    "knn_label_accuracy" -> prep((s, d) =>
      Similarity.knnLabelAccuracy(emb(s, d)).orderBy("label")),
    // mutual-kNN communities: components over the both-directions
    // edges only (density-adaptive clusters vs kmeans' fixed-k view)
    "knn_communities" -> prep((s, d) =>
      Similarity.knnCommunities(emb(s, d)).orderBy("vec_id")),
    // integer PageRank over the kNN graph (centrality as a curation
    // signal: canonical representatives rank high, satellites low)
    "knn_pagerank" -> prep((s, d) =>
      Similarity.knnPageRank(emb(s, d)).orderBy("vec_id")),
    // the shared-graph production composition gate-backed: the kNN
    // edge table is materialized ONCE (Pin.eager) and feeds
    // BOTH graph consumers (centrality + label accuracy) — the
    // amortized shape a real pipeline runs; the oracle recomputes
    // both from one knng chain
    "knn_pagerank_shared" -> prep((s, d) => {
      val edges = graft.ext.Pin.eager(Similarity.knnGraph(emb(s, d)))
      val labels = emb(s, d).select(col("vec_id"), col("label"))
      val pr = Similarity.pageRankFromEdges(edges)
      val acc = Similarity.labelAccuracyFromEdges(edges, labels)
      pr.join(labels, "vec_id").join(acc, "label")
        .select(col("vec_id"), col("q_rank"), col("pagerank"), col("label"),
          col("n_vecs"), col("n_correct"), col("accuracy"))
        .orderBy("vec_id")
    }),
    // int8 scalar quantization: per-dim affine [min,max]->[0,255]
    // codes (the memory-bandwidth tier; 8x smaller scans, no codebook)
    "sq_encode" -> prep((s, d) =>
      Similarity.sqEncode(emb(s, d))
        .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"))
        .orderBy("vec_id")),
    // symmetric SQ distance top-5 over the code space (exact int64)
    "ann_sq_topk" -> prep((s, d) => Similarity.sqTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5)
      .orderBy("probe_id", "vec_id")),
    // the production composition: IVF cell pruning bounds candidates,
    // ADC over PQ codes scores them; index built in one scan
    "ann_ivfpq_topk" -> prep((s, d) => Similarity.ivfPqTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5, nprobe = 3)
      .orderBy("probe_id", "vec_id")),
    // IVFADC proper: PQ on residuals v - centroid (per-(probe,cell)
    // residual ADC tables) — FAISS's production index layout
    "ann_ivfpq_residual" -> prep((s, d) => Similarity.ivfPqResidualTopK(
      emb(s, d), emb(s, d).where(col("vec_id") % 100 === 0), k = 5, nprobe = 3)
      .orderBy("probe_id", "vec_id")),
    // two-stage serving: r=10-deep ADC shortlist, exact-cosine re-rank
    // to top-5 — r > k so the re-rank provably reorders/filters
    "ann_ivfpq_rerank" -> prep((s, d) => Similarity.ivfPqRerank(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5, r = 10, nprobe = 3)
      .orderBy("probe_id", "vec_id")),
    // Matryoshka tier: 16-of-64-dim prefix cosine shortlist (r=10),
    // exact full-dim re-rank to top-5 — the bandwidth-cut serving path
    "ann_matryoshka" -> prep((s, d) => Similarity.matryoshkaTopK(emb(s, d),
      emb(s, d).where(col("vec_id") % 100 === 0), k = 5, r = 10, dims = 16)
      .orderBy("probe_id", "vec_id")),
    "neardup_embeddings" -> prep((s, d) => Engine.canonical(
      Similarity.nearDupPairs(emb(s, d)))),
    // pairwise Pearson between the quality / LM / repetition signals
    // (filter-stack calibration; exact decimal moment sums)
    "signal_correlation" -> prep((s, d) =>
      TextAnalysis.signalCorrelation(docs(s, d))
        .orderBy("signal_x", "signal_y")),
    // T5-style span corruption: 3-token spans at stride 20 (15% mask),
    // sentinel-replaced input + seq2seq targets, Knuth-offset spans
    "span_corruption" -> prep((s, d) =>
      TextAnalysis.spanCorruption(docs(s, d)).orderBy("doc_id")),
    // DSIR selection: keep the top half by importance log-ratio vs the
    // lang='en' target slice (exact corpus-quantile cutoff)
    "dsir_select" -> prep((s, d) =>
      TextAnalysis.dsirSelect(docs(s, d), col("lang") === "en")
        .orderBy("doc_id")),
    // per-language tokens-per-word fertility (tokenizer observability)
    "tokenizer_fertility" -> prep((s, d) =>
      TextAnalysis.tokenizerFertility(docs(s, d)).orderBy("lang")),
    // Contriever-style deterministic positive crop pairs
    "contrastive_crops" -> prep((s, d) =>
      TextAnalysis.contrastiveCrops(docs(s, d)).orderBy("doc_id")),
    // canonical normalization: NFC (native expression) + lowercase +
    // whitespace collapse — the pass before any hash/dedup/tokenize.
    // Unicode provably exercised: deterministic combining-accent +
    // fullwidth-char injections fold to precomposed lowercase forms
    "normalize_text" -> prep((s, d) =>
      TextAnalysis.normalizeText(
        docs(s, d).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(lit("Cafe\u0301 \t "), col("text"), lit("  A\u030a")))
            .otherwise(col("text"))))
        .orderBy("doc_id")),
    // Broder containment pairs (quotation/subset duplication the
    // resemblance tier misses; both directions, max >= 0.8)
    "containment_pairs" -> prep((s, d) =>
      Dedup.containmentPairs(docs(s, d)).orderBy("a_id", "b_id")),
    // source-pair shingle resemblance from merged (min-of-mins)
    // MinHash signatures — mirror detection with NO pair tier at all
    "source_resemblance" -> prep((s, d) =>
      Dedup.sourceResemblance(docs(s, d)).orderBy("source_a", "source_b")),
    // per-source dup-rate scorecard (sourcing observability; MinHash
    // pair tier feeder like every production consumer)
    "dedup_scorecard" -> prep((s, d) =>
      Dedup.dedupScorecard(docs(s, d), Dedup.minhashLshPairsPortable(docs(s, d)))
        .orderBy("source")),
    // exact Levenshtein verification over the MinHash candidate tier
    // (sketch recall -> exact precision; the prefix-capped DP runs on
    // the candidate sliver only, never all pairs)
    "editdist_verify" -> prep((s, d) =>
      Dedup.editDistanceVerify(docs(s, d), Dedup.minhashLshPairsPortable(docs(s, d)))
        .orderBy("a_id", "b_id")),
    // per-source quota: each source keeps its best 10 docs by quality
    // (anti-domination ceiling; WindowGroupLimit prunes map-side)
    "source_cap" -> prep((s, d) =>
      Curation.sourceCap(docs(s, d), cap = 10).orderBy("doc_id")),
    // WebDataset-style shard manifest over the pack_shards assignment:
    // per-shard counts, id range, md5 digest of the id-sorted members
    "shard_manifest" -> prep((s, d) =>
      Sampling.shardManifest(Sampling.packShards(
        docs(s, d).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens")),
        "n_tokens", budget = 2048, nBuckets = 8))
        .orderBy("pack_bucket", "shard_in_bucket")),
    // Efraimidis-Spirakis weighted sampling WITHOUT replacement:
    // top-50 by the deterministic u^(1/w) key with weight = token
    // count — selection pressure proportional to document length
    "weighted_sample" -> prep((s, d) =>
      Sampling.weightedSample(
        docs(s, d).select(col("doc_id"), col("lang"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("weight")),
        "weight", k = 50)
        .orderBy("doc_id")),
    // per-source A-ES sample: weight-proportional choice INSIDE each
    // source, per-source quota bounding domination (WindowGroupLimit)
    "weighted_sample_by_source" -> prep((s, d) =>
      Sampling.weightedSampleByGroup(
        docs(s, d).select(col("doc_id"), col("lang"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("weight")),
        "source", "weight", k = 10)
        .select("doc_id", "lang", "source", "weight", "es_key", "sample_rank")
        .orderBy("doc_id")),
    // length-grouped batching: consecutive batches of 32 in token-
    // length order, per-batch padding waste (dynamic-batching planner)
    "length_batches" -> prep((s, d) =>
      Sampling.lengthBatches(
        docs(s, d).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens")),
        batchSize = 32)
        .orderBy("batch_id")),
    // deterministic token-proportional sample: every 500th token on
    // the (bucket, id)-ordered corpus axis — integer-exact, no RNG
    "systematic_sample" -> prep((s, d) =>
      Sampling.systematicSample(
        docs(s, d).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
        every = 500L)
        .orderBy("doc_id")),
    // curriculum ordering: easy->hard phases by corpus-relative quality
    // tertiles, deterministic within-phase shuffle, global contiguous
    // rank with no single-reducer window
    "curriculum_order" -> prep((s, d) =>
      TextAnalysis.curriculumOrder(docs(s, d)).orderBy("doc_id")),
    // corpus-relative quality cutoff (exact percentile, auto-tuned)
    "quality_percentile_filter" -> prep((s, d) =>
      TextAnalysis.qualityPercentileFilter(docs(s, d), pct = 0.25)
        .orderBy("doc_id")),
    // random-projection dim reduction onto the Lehmer planes (array
    // serialized for the checker, like geo_clean / feature_hash)
    "rp_project" -> prep((s, d) =>
      Similarity.randomProjection(emb(s, d), k = 8)
        .select(col("vec_id"),
          concat_ws(",", transform(col("proj"), _.cast("string")))
            .as("proj_str"))
        .orderBy("vec_id")),
    // deterministic Lloyd k-means (k=8, 2 iterations): exact integer
    // squared-L2 assignment, floor-mean centroid updates
    "kmeans_assign" -> prep((s, d) =>
      Similarity.kmeansAssign(emb(s, d), k = 8, iters = 2)
        .orderBy("vec_id")),
    // k-means clusters + equal per-cluster cap (topic balancing)
    "cluster_balanced_sample" -> prep((s, d) =>
      Similarity.clusterBalancedSample(emb(s, d), k = 8, iters = 2, cap = 40)
        .orderBy("vec_id")),
    // SemDeDup-style embedding dedup: IVF cells → within-cell cosine
    // pairs → connected components → one survivor per component
    "semantic_dedup" -> prep((s, d) =>
      Similarity.semanticDedup(emb(s, d))
        .select("vec_id", "label").orderBy("vec_id")),
    // Bucketed-table co-located join (the exchange-free fact⋈fact
    // strategy): both sides written bucketed+sorted on the join key,
    // joined with zero shuffle (LayoutSpec pins the plan), rolled up —
    // must equal the plain-join revenue rollup (salted_join_revenue's
    // oracle, same result by construction).
    "bucketed_join_revenue" -> prep((s, d) => {
      graft.ingest.Layout.writeBucketed(
        s.read.parquet(s"$d/lineitem.parquet")
          .select(col("l_orderkey"), col("l_extendedprice")),
        "gate_li_bkt", "l_orderkey")
      graft.ingest.Layout.writeBucketed(
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        "gate_ord_bkt", "l_orderkey")
      Engine.canonical(
        graft.ingest.Layout.bucketedJoin(s, "gate_li_bkt", "gate_ord_bkt", "l_orderkey")
          .groupBy(col("o_orderstatus"))
          .agg(count("*").as("n_items"),
            (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / 100)
              .as("revenue")))
    }),
    // Hive date-partitioned layout: events written under
    // event_date=.../ dirs, read back through a partition predicate
    // (pruned at planning time — LayoutSpec pins PartitionFilters),
    // rolled up; oracle answers the same day off the source table.
    "date_partition_scan" -> prep((s, d) => {
      val out = tmpDir("graft_datepart") + "/events_by_day"
      graft.ingest.Layout.writeDatePartitioned(
        s.read.parquet(s"$d/events.parquet"), out)
      Engine.canonical(s.read.parquet(out)
        .where(col("event_date") === "2024-01-05")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
            .as("sum_value")))
    }),
    // Z-order layout round-trip: events written z-ordered on
    // (user_id, second bucket), read back through a predicate on BOTH
    // dimensions — the layout every file/row-group skips on — and
    // rolled up. Oracle runs the same predicate on the source table,
    // so the entry proves the clustered layout preserves the data
    // bit-for-bit, not just that files got smaller.
    "zorder_scan" -> prep((s, d) => {
      val out = tmpDir("graft_zorder") + "/events_z"
      val ev = s.read.parquet(s"$d/events.parquet")
        .withColumn("ts_s", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
      graft.ingest.Layout.writeZOrdered(ev, out, "user_id", "ts_s")
      Engine.canonical(s.read.parquet(out)
        .where(col("user_id").between(3, 11) &&
          col("ts_s").between(1704499200L, 1705103999L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
            .as("sum_value")))
    }),
    // the DESCRIBE HISTORY surface as a catalog METADATA TABLE (round
    // 17, Iceberg's `table.history` shape): a scripted commit sequence
    // — overwrite, append, metadata-only DDL, checkpoint — read back
    // with plain `SELECT ... FROM graft.`t`.history`; versions,
    // operations and file counts are deterministic (the twin is the
    // hand-computed sequence) and the in-commit timestamps gate as
    // strictly positive + non-decreasing (wall clocks are not
    // replayable; their ORDER is the TIMESTAMP AS OF contract).
    "txlog_catalog_history" -> prep((s, d) => {
      val base = tmpDir("graft_cathist")
      val t = s"$base/t"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.repartition(4), t, "overwrite") // v0
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 5 === 0)
        .repartition(2), t, "append")                                 // v1
      s.sql(s"ALTER TABLE graft.`$t` ADD COLUMN note STRING")         // v2
      graft.ingest.TxLog.checkpointLog(t)                             // v3
      Engine.canonical(s.sql(
        s"""SELECT version, mode, batch_id, n_adds, n_removes,
           schema_recorded,
           commit_ts_ms > 0 AND commit_ts_ms >=
             lag(commit_ts_ms, 1, 0) OVER (ORDER BY version)
             AS ts_monotone
           FROM graft.`$t`.history"""))
    }),
    // DDL-declared clustering realized by OPTIMIZE (round 17): CREATE
    // TABLE ... CLUSTER BY records the layout property (TxLog tables
    // cluster by layout, never hive directories — Delta's liquid-
    // clustering posture), a scattered INSERT lands, and the default
    // CALL graft.system.optimize z-orders on the RECORDED columns; the
    // same two-dimensional predicate rollup as zorder_scan (whose
    // oracle this shares) answers off the clustered catalog table.
    "txlog_catalog_clustered" -> prep((s, d) => {
      val base = tmpDir("graft_catclust")
      val t = s"$base/events"
      s.sql(s"CREATE TABLE graft.`$t` (user_id BIGINT, ts_s BIGINT, " +
        s"event_type STRING, value DOUBLE) CLUSTER BY (user_id, ts_s)")
      s.read.parquet(s"$d/events.parquet")
        .withColumn("ts_s",
          expr("unix_micros(cast(ts as timestamp)) div 1000000"))
        .select("user_id", "ts_s", "event_type", "value")
        .createOrReplaceTempView("catclust_src")
      s.sql(s"INSERT INTO graft.`$t` SELECT * FROM catclust_src")
      s.sql(s"CALL graft.system.optimize('$t', 16)")
      Engine.canonical(s.sql(
        s"""SELECT event_type, count(1) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
           FROM graft.`$t`
           WHERE user_id BETWEEN 3 AND 11
             AND ts_s BETWEEN 1704499200 AND 1705103999
           GROUP BY event_type"""))
    }),
    // ---- source/sink surface: JSON landing scan + streaming path -----
    // Same oracles as the batch *_clean entries: the JSON round-trip and
    // the Structured Streaming pipeline must reproduce the batch
    // cleaning bit-for-bit (reference contract: STREAM ≡ BATCH − sort).
    "json_scan_clean" -> prep((s, d) => {
      val base = tmpDir("graft_land")
      graft.ingest.Fixtures.landBatch(s, d, base)
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.Fixtures.readTopic(s, base, "pin")).orderBy("ind")
    }),
    // Landing-zone compaction round-trip (S9's operational fix): the
    // many-small-JSON topic dir is compacted to size-targeted parquet,
    // and cleaning the compacted copy must equal cleaning the landed
    // originals — shares pin_clean's oracle.
    "compact_scan_clean" -> prep((s, d) => {
      val base = tmpDir("graft_compact")
      graft.ingest.Fixtures.landBatch(s, d, base)
      graft.ingest.Compaction.compactTopic(s,
        s"$base/topics/graft.pin/partition=0", s"$base/compacted/pin")
      graft.pipeline.Cleaning.cleanPin(
        s.read.parquet(s"$base/compacted/pin")).orderBy("ind")
    }),
    // permissive JSON ingest with corrupt-record quarantine (round 14,
    // the text-landing analog of multimodal_decode_robust): every 7th
    // doc's JSON line is deterministically truncated at half (always
    // malformed — the closing brace is gone); parsed rows land in the
    // main arm, malformed lines in the quarantine arm as raw text —
    // the oracle re-derives both arms from the id rule alone
    "json_robust_scan" -> prep((s, d) => {
      val base = tmpDir("graft_jsonrobust")
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      val line = to_json(struct(col("doc_id"), col("lang"), col("source"),
        col("n_chars")))
      docsDf.select(
        when(col("doc_id") % 7 === 0,
          line.substr(lit(1), (length(line) / 2).cast("int")))
          .otherwise(line).as("value"))
        .coalesce(2).write.text(s"$base/in")
      val (main, bad) = graft.ingest.Formats.readJsonRobust(s, s"$base/in",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"))
      val m = main.withColumn("arm", lit("main"))
      val q = bad.select(lit(null).cast("bigint").as("doc_id"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("source"),
        lit(null).cast("bigint").as("n_chars"),
        lit("quarantine").as("arm"))
      Engine.canonical(m.unionByName(q)
        .select("arm", "doc_id", "lang", "source", "n_chars"))
    }),
    // interchange-format parity: raw pin rows round-tripped through
    // header'd CSV (\N null sentinel, multiLine read, explicit schema)
    // and cleaned must equal the parquet-path clean bit-for-bit
    "csv_scan_clean" -> prep((s, d) => {
      val (rawPin, _, _) = graft.pipeline.RawDerive.tables(s, d)
      val base = tmpDir("graft_csv")
      graft.ingest.Formats.writeCsv(rawPin, s"$base/pin")
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.Formats.readCsv(s, s"$base/pin", rawPin.schema))
        .orderBy("ind")
    }),
    // same contract through ORC (the columnar half of the estate)
    "orc_scan_clean" -> prep((s, d) => {
      val (rawPin, _, _) = graft.pipeline.RawDerive.tables(s, d)
      val base = tmpDir("graft_orc")
      graft.ingest.Formats.writeOrc(rawPin, s"$base/pin")
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.Formats.readOrc(s, s"$base/pin"))
        .orderBy("ind")
    }),
    // same contract through Avro object-container files (round 14, the
    // Kafka-ecosystem interchange format): the connector jar is absent,
    // so ingest/Avro.scala implements the container format over the
    // Avro core library — distributed write (one container per
    // partition, executor-side) and distributed read (one task per
    // container) — and the round-tripped rows must clean bit-identically
    "avro_scan_clean" -> prep((s, d) => {
      val (rawPin, _, _) = graft.pipeline.RawDerive.tables(s, d)
      val base = tmpDir("graft_avro")
      graft.ingest.Avro.writeAvro(rawPin, s"$base/pin")
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.Avro.readAvro(s, s"$base/pin", rawPin.schema))
        .orderBy("ind")
    }),
    // JDBC source surface (S6 letter-parity: the reference emulators
    // read MySQL): raw pin rows round-trip through a real embedded
    // Derby database, come back via the range-partitioned JDBC read,
    // and must clean bit-identically to every other source — shares
    // pin_clean's oracle.
    "jdbc_scan_clean" -> prep((s, d) => {
      val dbDir = tmpDir("graft_jdbc") + "/db"
      val url = s"jdbc:derby:$dbDir;create=true"
      val props = new java.util.Properties
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val (rawPin, _, _) = graft.pipeline.RawDerive.tables(s, d)
      rawPin.coalesce(2).write.mode("overwrite").jdbc(url, "pinterest_data", props)
      graft.pipeline.Cleaning.cleanPin(
        graft.ingest.JdbcSource.readTable(s, url, "pinterest_data", props = props))
        .orderBy("ind")
    }),
    // Watermarked tumbling-window rollup on a live stream (operator
    // surface the reference lacks; oracle applies the same watermark
    // cutoff — only windows the final watermark released are emitted).
    "stream_events_hourly" -> prep((s, d) => {
      val base = tmpDir("graft_evstream")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.EventStream.runWindowed(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("window_start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    // Streaming IVF index maintenance: arriving embeddings (3 parquet
    // drops -> 3 micro-batches) cell-assigned against the static
    // index's centroids — stateless broadcast projection, so stream
    // assignment must equal a batch rebuild row-for-row.
    "stream_ivf_assign" -> prep((s, d) => {
      val base = tmpDir("graft_ivfstream")
      emb(s, d).repartition(3).write.mode("overwrite").parquet(s"$base/in")
      graft.streaming.CorpusStream.runIvfAssign(
        s, s"$base/in", Similarity.ivfCentroids(emb(s, d)),
        s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out").orderBy("vec_id")
    }),
    // Streaming-composed anomaly dashboard: the same z-scoring stage
    // as event_anomaly, but READ-side over the watermark-released
    // window dump of the streaming rollup — same z per window whether
    // counts arrived in one batch or many micro-batches.
    "stream_event_anomaly" -> prep((s, d) => {
      val base = tmpDir("graft_evanom")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.EventStream.runWindowed(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      Profiling.anomalyFromCounts(
        s.read.parquet(s"$base/out")
          .select(col("event_type"), col("window_start").as("hour"),
            col("n_events")))
        .select(col("event_type"), col("hour").cast("string").as("hour_str"),
          col("n_events"), col("n_hours"), col("mean_events"),
          col("var_events"), col("z"), col("is_anomaly"))
        .orderBy("event_type", "hour_str")
    }),
    // Streaming upsert-view maintenance (merge-on-read): 3 landing
    // files → 3 micro-batches, each appends its per-key latest delta;
    // the read-side compaction must equal the one-shot batch changelog
    // — shares latest_user_event's oracle
    "stream_upsert_latest" -> prep((s, d) => {
      val base = tmpDir("graft_evupsert")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(3).write.mode("overwrite")
        .option("timestampFormat", graft.streaming.EventStream.microTsFormat)
        .json(s"$base/in")
      graft.streaming.EventStream.runUpsertLatest(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      val compacted = graft.ext.Changelog.latestByKey(
        s.read.parquet(s"$base/out"), Seq("user_id"), "ts", "event_id")
      compacted.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),
    // Sliding-window rollup (1 h windows every 15 min): each event
    // fans out to 4 windows; oracle reproduces the fan-out + the same
    // watermark cutoff in integer µs arithmetic
    "stream_events_sliding" -> prep((s, d) => {
      val base = tmpDir("graft_evsliding")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite")
        .option("timestampFormat", graft.streaming.EventStream.microTsFormat)
        .json(s"$base/in")
      graft.streaming.EventStream.runSlidingWindowed(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("window_start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    // Stream-static enrichment join (events stream ⋈ broadcast customer
    // dim) feeding the watermarked rollup; same oracle cutoff rule.
    "stream_events_enriched" -> prep((s, d) => {
      val base = tmpDir("graft_evenrich")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.EventStream.runEnriched(
        s, s"$base/in", s.read.parquet(s"$d/customer.parquet"),
        s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("window_start").cast("string").as("window_start"),
          col("segment"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start").asc_nulls_first,
          col("segment").asc_nulls_first)
    }),
    // Watermarked streaming exact-dedup: events re-landed with injected
    // duplicates (id % 7 == 0 twice — an at-least-once source), one
    // landing file so the single micro-batch dedups against an
    // unadvanced watermark; oracle = the duplicate-free events table.
    "stream_dedup_events" -> prep((s, d) => {
      val base = tmpDir("graft_evdedup")
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      ev.union(ev.where(col("event_id") % 7 === 0))
        .coalesce(1).write.mode("overwrite")
        .option("timestampFormat", graft.streaming.EventStream.microTsFormat)
        .json(s"$base/in")
      graft.streaming.EventStream.runDedup(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),
    // Stream-static ingest dedup: the doc_id%5 slice streams in and is
    // filtered against the standing corpus' sha256 fingerprint index —
    // stateless streaming side, broadcast index (streaming twin of
    // incremental_dedup's exact tier); oracle = batch text anti-join
    "stream_dedup_vs_corpus" -> prep((s, d) => {
      val base = tmpDir("graft_docdedup")
      val all = docs(s, d)
      all.where(col("doc_id") % 5 === 0)
        .select("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      val index = all.where(col("doc_id") % 5 =!= 0)
        .select(sha2(col("text"), 256).as("text_sha")).distinct()
      graft.streaming.CorpusStream.runDedupVsIndex(
        s, s"$base/in", index, s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),
    // Fuzzy (MinHash-band) near-dup ingest as a STREAM: the doc_id%5
    // slice arrives as a stream and is checked STATELESS against the
    // standing corpus' broadcast band index (decontaminateFuzzy's
    // sketch tier on the stream side, est >= 0.5); oracle = the agree
    // chain restricted to stream-vs-standing pairs
    "stream_neardup_ingest" -> prep((s, d) => {
      val base = tmpDir("graft_docneardup")
      val all = docs(s, d)
      all.where(col("doc_id") % 5 === 0)
        .select("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.CorpusStream.runNearDupIngest(
        s, s"$base/in", all.where(col("doc_id") % 5 =!= 0),
        s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),
    // The COMPOSED admission chain as one stateless streaming query:
    // shape filter -> exact sha index anti-join -> MinHash band probe
    // (cost-ordered cheapest-first) — the full ingest gate a 100 TB
    // run ships; oracle = the three tiers as one statement
    "stream_full_ingest" -> prep((s, d) => {
      val base = tmpDir("graft_docfullingest")
      val all = docs(s, d)
      all.where(col("doc_id") % 5 === 0)
        .select("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.CorpusStream.runFullIngest(
        s, s"$base/in", all.where(col("doc_id") % 5 =!= 0),
        s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),
    // The batch curation tier lifted to a stream unmodified:
    // gopherRules is a pure projection, so the streaming quality gate
    // is stateless and must equal the batch pass bit-for-bit
    // the transactional table log (round 13: the Delta-sink parity gap
    // closed jar-free): v0 overwrite, v1 append, v2 overwrite — one
    // entry proves append extension, overwrite reset AND time travel
    // (v0/v1 reads see pre-overwrite data) in a single hash
    "txlog_time_travel" -> prep((s, d) => {
      val t = tmpDir("graft_txlog")
      val base = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(base.where(col("doc_id") % 2 === 0), t, "overwrite")
      graft.ingest.TxLog.write(base.where(col("doc_id") % 2 =!= 0), t, "append")
      graft.ingest.TxLog.write(base.where(col("doc_id") % 97 === 0), t, "overwrite")
      Seq(0L, 1L, 2L).map(v =>
          graft.ingest.TxLog.snapshot(s, t, Some(v))
            .withColumn("version", lit(v)))
        .reduce(_.unionByName(_))
        .orderBy("version", "doc_id")
    }),
    // exactly-once streaming ingest into the transactional table: each
    // micro-batch is one commit carrying its batch id; the snapshot
    // read proves no loss and no duplication end-to-end
    "stream_txlog_ingest" -> prep((s, d) => {
      val base = tmpDir("graft_txstream")
      docs(s, d).select("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.ingest.TxLog.runIngest(
        s, s"$base/in", s"$base/table", s"$base/ckpt").awaitTermination()
      graft.ingest.TxLog.snapshot(s, s"$base/table")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),
    // data skipping through the transactional log: commit-time footer
    // stats (per-file min/max, metadata-only) + a range-clustered
    // write let snapshotRange drop non-overlapping files at planning
    // time (TxLogSpec pins kept < total); the oracle answers the same
    // zorder_scan predicate straight off the source table — pruning
    // must be invisible in the data
    "txlog_stats_prune" -> prep((s, d) => {
      val t = tmpDir("graft_txstats")
      val ev = s.read.parquet(s"$d/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
      graft.ingest.TxLog.write(
        ev.repartitionByRange(8, col("user_id")), t, "overwrite")
      Engine.canonical(
        graft.ingest.TxLog.snapshotRange(s, t, "user_id", Some(3L), Some(11L))
          .withColumn("ts_s",
            expr("unix_micros(cast(ts as timestamp)) div 1000000"))
          .where(col("ts_s").between(1704499200L, 1705103999L))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
              .as("sum_value")))
    }),
    // OPTIMIZE ZORDER through the log: three unclustered appends (the
    // streaming-sink accretion shape — stats cover everything, prune
    // nothing), one z-ordered compaction commit, then the same
    // two-dimensional predicate rollup as zorder_scan answered through
    // snapshotRange's stats pruning — reorganization must be invisible
    // in the data (twin reads the source table directly)
    "txlog_optimize" -> prep((s, d) => {
      val t = tmpDir("graft_txopt")
      val ev = s.read.parquet(s"$d/events.parquet")
        .withColumn("ts_s",
          expr("unix_micros(cast(ts as timestamp)) div 1000000"))
        .select("event_id", "user_id", "event_type", "value", "ts_s")
      graft.ingest.TxLog.write(
        ev.where(col("event_id") % 3 === 0).repartition(4), t, "overwrite")
      graft.ingest.TxLog.write(
        ev.where(col("event_id") % 3 === 1).repartition(4), t, "append")
      graft.ingest.TxLog.write(
        ev.where(col("event_id") % 3 === 2).repartition(4), t, "append")
      graft.ingest.TxLog.compactZOrdered(s, t, "user_id", "ts_s", 8)
      Engine.canonical(
        graft.ingest.TxLog.snapshotRange(s, t, "user_id", Some(3L), Some(11L))
          .where(col("ts_s").between(1704499200L, 1705103999L))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
              .as("sum_value")))
    }),
    // additive schema evolution: a column arrives mid-history; the
    // snapshot schema comes from the LOG (no footer merge — at 100 TB
    // planning-time footer reads are themselves a job) and files
    // written before the column existed read it as NULL
    "txlog_schema_evolve" -> prep((s, d) => {
      val t = tmpDir("graft_txevolve")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
      graft.ingest.TxLog.write(docsDf.select("doc_id", "lang")
        .where(col("doc_id") < 250)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.write(docsDf.select("doc_id", "lang", "n_chars")
        .where(col("doc_id") >= 250)
        .repartitionByRange(2, col("doc_id")), t, "append", evolve = true)
      Engine.canonical(graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "n_chars"))
    }),
    // change data feed: a table is built and updated BEFORE the feed
    // window opens, then an append and a range-delete land inside it —
    // the NET diff must be exactly what entered (the appended slice)
    // and left (the deleted range, carrying its pre-window patched
    // values), while the delete-rewrite's pass-through neighbor rows
    // (which surface as file-granular delete+insert pairs) cancel out;
    // the oracle rebuilds both arms from the source table alone
    "txlog_changes" -> prep((s, d) => {
      val t = tmpDir("graft_txcdf")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 300)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.update(s, t, col("source") === "src2",
        Map("source" -> lit("patched")))
      val mark = graft.ingest.TxLog.latestVersion(t).get
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") >= 300)
        .repartitionByRange(2, col("doc_id")), t, "append")
      graft.ingest.TxLog.deleteRange(s, t, "doc_id", Some(50L), Some(99L))
      Engine.canonical(graft.ingest.TxLog.netChanges(s, t, fromV = mark)
        .select("doc_id", "lang", "source", "n_chars", "_change_type"))
    }),
    // incremental materialized view: per-lang count + n_chars sum
    // materialized at a mark version, then maintained from the NET
    // change feed alone (append + range delete + whole-row upsert land
    // after the mark) — must equal the aggregate recomputed over the
    // final table, which is what the oracle does from the source rows
    "txlog_incremental_agg" -> prep((s, d) => {
      val t = tmpDir("graft_txinc")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 400)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      val mark = graft.ingest.TxLog.latestVersion(t).get
      val state0 = graft.ingest.TxLog.aggState(
        graft.ingest.TxLog.snapshot(s, t), Seq("lang"), Seq("n_chars"))
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") >= 400)
        .repartitionByRange(2, col("doc_id")), t, "append")
      graft.ingest.TxLog.deleteRange(s, t, "doc_id", Some(100L), Some(199L))
      graft.ingest.TxLog.upsert(s, t,
        docsDf.where(col("doc_id") % 50 === 0).withColumn("n_chars", lit(-1L)),
        Seq("doc_id"))
      val net = graft.ingest.TxLog.netChanges(s, t, fromV = mark)
      Engine.canonical(
        graft.ingest.TxLog.incrementalAgg(state0, net, Seq("lang"), Seq("n_chars"))
          .select(col("lang"), col("n_rows"),
            col("sum_n_chars").as("sum_chars")))
    }),
    // streaming CDC upsert (the streaming MERGE shape): three revision
    // waves of the SAME keys land as ordered micro-batches
    // (maxFilesPerTrigger=1, staggered mtimes); the table must
    // converge to the latest revision per key — and the sink's
    // within-batch max-rev collapse keeps the result identical even
    // if the source lumps the files into fewer batches
    "stream_txlog_upsert" -> prep((s, d) => {
      val base = tmpDir("graft_txcdc")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      def emit(df: DataFrame, i: Int): Unit = {
        val stagedir = s"$base/stage$i"
        df.coalesce(1).write.json(stagedir)
        val part = new java.io.File(stagedir).listFiles()
          .filter(_.getName.endsWith(".json")).head
        val dst = java.nio.file.Paths.get(s"$base/in", f"rev$i%03d.json")
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.move(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 600000L); ()
      }
      emit(docsDf.withColumn("rev", lit(0L)), 0)
      emit(docsDf.where(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("rev", lit(1L)), 1)
      emit(docsDf.where(col("doc_id") % 25 === 0)
        .withColumn("n_chars", col("n_chars") + 2000L)
        .withColumn("rev", lit(2L)), 2)
      val in = s.readStream
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, rev BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(s"$base/in")
      graft.ingest.TxLog.streamUpsertSink(
        in, s"$base/table", Seq("doc_id"), "rev", s"$base/ckpt")
        .awaitTermination()
      Engine.canonical(graft.ingest.TxLog.snapshot(s, s"$base/table")
        .select("doc_id", "lang", "source", "n_chars", "rev"))
    }),
    // the SAME CDC stream through the MERGE-ON-READ sink
    // (mergeOnRead = true → upsertOrderedVectored per micro-batch):
    // each batch masks only the contested rows and lands the per-key
    // winners as new files — write cost ∝ contested + batch rows, not
    // touched-file bytes (the configuration that keeps up at a 100 TB
    // CDC rate). Shares the COW sink's oracle: the converged table is
    // the same pure function of the row set, so merge-on-read must be
    // invisible in the data.
    "stream_txlog_upsert_dv" -> prep((s, d) => {
      val base = tmpDir("graft_txcdcdv")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      def emit(df: DataFrame, i: Int): Unit = {
        val stagedir = s"$base/stage$i"
        df.coalesce(1).write.json(stagedir)
        val part = new java.io.File(stagedir).listFiles()
          .filter(_.getName.endsWith(".json")).head
        val dst = java.nio.file.Paths.get(s"$base/in", f"rev$i%03d.json")
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.move(part.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 600000L); ()
      }
      emit(docsDf.withColumn("rev", lit(0L)), 0)
      emit(docsDf.where(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("rev", lit(1L)), 1)
      emit(docsDf.where(col("doc_id") % 25 === 0)
        .withColumn("n_chars", col("n_chars") + 2000L)
        .withColumn("rev", lit(2L)), 2)
      val in = s.readStream
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, rev BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(s"$base/in")
      graft.ingest.TxLog.streamUpsertSink(
        in, s"$base/table", Seq("doc_id"), "rev", s"$base/ckpt",
        mergeOnRead = true)
        .awaitTermination()
      Engine.canonical(graft.ingest.TxLog.snapshot(s, s"$base/table")
        .select("doc_id", "lang", "source", "n_chars", "rev"))
    }),
    // incremental curation (round 14 capstone composition): a curated
    // TxLog table is materialized from the bronze table at a mark, the
    // bronze moves on (append + retention delete + text patch), and
    // curatedIncrement applies the NET change feed — re-scoring only
    // changed docs, upserting the passers and MERGE-deleting departed
    // or fallen keys; the maintained table must equal the oracle's
    // from-scratch recompute over the final bronze state
    "txlog_incremental_curation" -> prep((s, d) => {
      val base = tmpDir("graft_txcur")
      val bronze = s"$base/bronze"; val cur = s"$base/curated"
      val docsDf = docs(s, d).select("doc_id", "text", "lang", "source")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 350)
        .repartitionByRange(4, col("doc_id")), bronze, "overwrite")
      graft.ingest.TxLog.write(
        TextAnalysis.withQuality(graft.ingest.TxLog.snapshot(s, bronze))
          .where(col("quality") >= 0.675)
          .select("doc_id", "lang", "quality")
          .repartitionByRange(4, col("doc_id")), cur, "overwrite")
      val mark = graft.ingest.TxLog.latestVersion(bronze).get
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") >= 350)
        .repartitionByRange(2, col("doc_id")), bronze, "append")
      graft.ingest.TxLog.deleteRange(s, bronze, "doc_id", Some(50L), Some(99L))
      graft.ingest.TxLog.update(s, bronze, col("source") === "src3",
        Map("text" -> concat(col("text"), lit(" zz"))))
      graft.ext.Curation.curatedIncrement(s, bronze, cur, mark, 0.675)
      Engine.canonical(graft.ingest.TxLog.snapshot(s, cur)
        .select("doc_id", "lang", "quality"))
    }),
    // RESTORE (round 14): a good v0, a bad append and a bad patch land
    // on top, one metadata-only restore commit rolls the table back —
    // the snapshot must equal v0's content exactly (the twin is the
    // v0 set algebra on the source table), while the bad era stays
    // time-travel readable (TxLogSpec pins that half)
    "txlog_restore" -> prep((s, d) => {
      val t = tmpDir("graft_txrestore")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(base.where(col("doc_id") < 400)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.write(base.where(col("doc_id") >= 400)
        .withColumn("source", lit("corrupt")), t, "append")
      graft.ingest.TxLog.update(s, t, col("lang") === "en",
        Map("n_chars" -> lit(-1L)))
      graft.ingest.TxLog.restore(t, 0L)
      Engine.canonical(graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // SQL surface over the transactional log (round 14): snapshots —
    // latest AND time-travel-pinned — registered as temp views and
    // queried through verbatim spark.sql; the oracle answers from the
    // source table alone, so the whole log+view machinery must be
    // invisible in the data (SqlParitySpec additionally pins SQL ≡
    // API snapshot row-for-row)
    "txlog_sql_snapshot" -> prep((s, d) => {
      val t = tmpDir("graft_txsql")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(base.where(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.write(base.where(col("doc_id") % 2 =!= 0)
        .repartitionByRange(2, col("doc_id")), t, "append")
      graft.ingest.TxLog.deleteRange(s, t, "doc_id", Some(100L), Some(299L))
      graft.ingest.TxLog.registerView(s, t, "txsql_now")
      graft.ingest.TxLog.registerView(s, t, "txsql_v1", asOf = Some(1L))
      s.sql("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars, 'now' AS at
        FROM txsql_now GROUP BY lang
        UNION ALL
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars, 'v1' AS at
        FROM txsql_v1 GROUP BY lang
        ORDER BY at, lang""")
    }),
    // range-scoped OPTIMIZE (round 15, Delta's OPTIMIZE ... WHERE): a
    // deletion-vector point delete followed by a compactRange over the
    // affected key range — only stats-proven in-scope files rewrite
    // (out-of-scope files survive by name, TxLogDvSpec pins it), the
    // in-range mask materializes away, and the visible table is
    // content-neutral: the oracle is plain set algebra on the source
    "txlog_optimize_range" -> prep((s, d) => {
      val t = tmpDir("graft_txoptrange")
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        docs.repartitionByRange(8, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.deleteVectored(s, t,
        col("doc_id") >= 100L && col("doc_id") <= 199L)
      graft.ingest.TxLog.compactRange(s, t, "doc_id",
        Some(0L), Some(2500L), targetFiles = 2)
      Engine.canonical(graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // the DSv2 catalog as the pure-SQL DML surface (round 15): the
    // whole lifecycle — DELETE FROM, INSERT INTO ... SELECT, reads,
    // and VERSION AS OF time travel — runs through `graft.` SQL
    // identifiers with no Scala API in sight (SqlCatalogSpec pins
    // pushdown-in-plan, INSERT OVERWRITE, the DV boundary, and
    // time-travel-pin immutability); the oracle replays the DML as
    // set algebra on the source table
    "txlog_catalog_dml" -> prep((s, d) => {
      val t = tmpDir("graft_txcat")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), t, "overwrite")
      base.createOrReplaceTempView("catalog_dml_src")
      s.sql(s"DELETE FROM graft.`$t` WHERE doc_id BETWEEN 100 AND 299")
      s.sql(s"""INSERT INTO graft.`$t`
        SELECT doc_id + 100000, lang, 'sql-insert', n_chars
        FROM catalog_dml_src WHERE doc_id < 50""")
      Engine.canonical(s.sql(s"""
        SELECT doc_id, lang, source, n_chars, 'now' AS at FROM graft.`$t`
        UNION ALL
        SELECT doc_id, lang, source, n_chars, 'v0' AS at
        FROM graft.`$t` VERSION AS OF 0"""))
    }),
    // SQL row-level DML (round 15): UPDATE and MERGE INTO rewrite
    // through the DSv2 row-level-operation path — group-based
    // copy-on-write with Spark's runtime group filter bounding the
    // rewrite to files that hold matches (RowLevelSqlSpec pins the
    // bounded file set, `_file` provenance, the subquery-DELETE
    // fallback, constraint gating and pin immutability); the oracle
    // replays UPDATE → MERGE (update/delete/insert arms) → subquery
    // DELETE as set algebra on the source table
    "txlog_catalog_rowlevel" -> prep((s, d) => {
      val t = tmpDir("graft_txrl")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), t, "overwrite")
      base.createOrReplaceTempView("catalog_rl_src")
      s.sql(s"""UPDATE graft.`$t` SET n_chars = n_chars + 1000000
        WHERE doc_id BETWEEN 100 AND 199""")
      s.sql(s"""MERGE INTO graft.`$t` tgt
        USING (SELECT doc_id, lang, source, n_chars
                 FROM catalog_rl_src WHERE doc_id < 80
               UNION ALL
               SELECT doc_id + 900000, lang, 'merge-insert', n_chars
                 FROM catalog_rl_src WHERE doc_id < 20) src
        ON tgt.doc_id = src.doc_id
        WHEN MATCHED AND src.doc_id % 2 = 1 THEN DELETE
        WHEN MATCHED THEN UPDATE SET lang = 'merged'
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""DELETE FROM graft.`$t` WHERE doc_id IN
        (SELECT doc_id FROM catalog_rl_src WHERE doc_id BETWEEN 300 AND 349)""")
      Engine.canonical(s.sql(s"""
        SELECT doc_id, lang, source, n_chars, 'now' AS at FROM graft.`$t`
        UNION ALL
        SELECT doc_id, lang, source, n_chars, 'v0' AS at
        FROM graft.`$t` VERSION AS OF 0"""))
    }),
    // SQL DDL lifecycle through the catalog (round 16): CTAS (v0
    // records the schema, the write appends), metadata-only ALTER
    // TABLE ADD COLUMN (old rows read NULL — mtimes pinned in
    // SqlCatalogSpec), an INSERT carrying the new column, and MERGE
    // WITH SCHEMA EVOLUTION auto-adding a second new column from the
    // source (the AUTOMATIC_SCHEMA_EVOLUTION capability routing
    // through the same additive evolve); VERSION AS OF 1 then serves
    // the ORIGINAL three-column shape. Twin = set algebra.
    "txlog_catalog_ctas" -> prep((s, d) => {
      val t = tmpDir("graft_txctas")
      s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .createOrReplaceTempView("ctas_src")
      s.sql(s"""CREATE TABLE graft.`$t` AS
        SELECT doc_id, lang, n_chars FROM ctas_src WHERE doc_id < 400""")
      s.sql(s"ALTER TABLE graft.`$t` ADD COLUMN note STRING")
      s.sql(s"""INSERT INTO graft.`$t`
        SELECT doc_id + 100000, lang, n_chars, 'ins'
        FROM ctas_src WHERE doc_id < 30""")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$t` tgt
        USING (SELECT doc_id, lang, n_chars, 'm' AS note, 'tagged' AS tag
               FROM ctas_src WHERE doc_id BETWEEN 50 AND 59) src
        ON tgt.doc_id = src.doc_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      Engine.canonical(s.sql(s"""
        SELECT doc_id, lang, n_chars, note, tag, 'now' AS at
        FROM graft.`$t`
        UNION ALL
        SELECT doc_id, lang, n_chars, CAST(NULL AS STRING) AS note,
          CAST(NULL AS STRING) AS tag, 'v1' AS at
        FROM graft.`$t` VERSION AS OF 1"""))
    }),
    // the SAME SQL row-level statement sequence as
    // txlog_catalog_rowlevel, in MERGE-ON-READ mode (round 16): the
    // `write.dml.mode = merge-on-read` table property (set through
    // pure SQL via CALL graft.system.set_table_property) routes
    // UPDATE / MERGE / DELETE through deletion-vector delta writes —
    // zero original files rewritten (RowLevelSqlSpec pins mtimes and
    // dv-mode commits) — and the result must be BIT-IDENTICAL through
    // the masks: this entry shares txlog_catalog_rowlevel's oracle
    "txlog_catalog_rowlevel_mor" -> prep((s, d) => {
      val t = tmpDir("graft_txrlmor")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), t, "overwrite")
      s.sql(s"""CALL graft.system.set_table_property(
        '$t', 'write.dml.mode', 'merge-on-read')""")
      base.createOrReplaceTempView("catalog_rl_mor_src")
      s.sql(s"""UPDATE graft.`$t` SET n_chars = n_chars + 1000000
        WHERE doc_id BETWEEN 100 AND 199""")
      s.sql(s"""MERGE INTO graft.`$t` tgt
        USING (SELECT doc_id, lang, source, n_chars
                 FROM catalog_rl_mor_src WHERE doc_id < 80
               UNION ALL
               SELECT doc_id + 900000, lang, 'merge-insert', n_chars
                 FROM catalog_rl_mor_src WHERE doc_id < 20) src
        ON tgt.doc_id = src.doc_id
        WHEN MATCHED AND src.doc_id % 2 = 1 THEN DELETE
        WHEN MATCHED THEN UPDATE SET lang = 'merged'
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""DELETE FROM graft.`$t` WHERE doc_id IN
        (SELECT doc_id FROM catalog_rl_mor_src
         WHERE doc_id BETWEEN 300 AND 349)""")
      Engine.canonical(s.sql(s"""
        SELECT doc_id, lang, source, n_chars, 'now' AS at FROM graft.`$t`
        UNION ALL
        SELECT doc_id, lang, source, n_chars, 'v0' AS at
        FROM graft.`$t` VERSION AS OF 0"""))
    }),
    // merge-on-read snapshots served straight through the SQL catalog
    // (round 16): deletion-vector masks from a point DELETE and a
    // vectored UPDATE are applied by the DSv2 scan itself — one file
    // per task, masked row positions skipped with a sorted
    // executor-side cursor, NO OPTIMIZE materialization anywhere
    // (SqlCatalogSpec pins the owned-scan plan, surviving pushdown,
    // pre-mask _pos provenance, and mask-respecting SQL DML); the
    // oracle replays delete+update as set algebra on the source
    "txlog_catalog_masked_read" -> prep((s, d) => {
      val t = tmpDir("graft_txcmr")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.deleteVectored(s, t,
        col("doc_id").between(100L, 299L))
      graft.ingest.TxLog.updateVectored(s, t, col("doc_id") < 50L,
        Map("source" -> lit("mor-upd")))
      Engine.canonical(s.sql(s"""
        SELECT doc_id, lang, source, n_chars, 'now' AS at FROM graft.`$t`
        UNION ALL
        SELECT doc_id, lang, source, n_chars, 'rng' AS at FROM graft.`$t`
        WHERE doc_id BETWEEN 300 AND 399
        UNION ALL
        SELECT doc_id, lang, source, n_chars, 'v1' AS at
        FROM graft.`$t` VERSION AS OF 1"""))
    }),
    // column mapping (round 15, Delta's columnMapping.mode=name):
    // RENAME and DROP COLUMN as metadata-only commits — zero files
    // rewritten (ColumnMappingSpec pins mtimes), physical-name
    // indirection on every read/write, and the no-resurrection rule:
    // a dropped column re-added via evolve binds a FRESH physical
    // name, so old files read NULL instead of their stale bytes. The
    // arms: rename n_chars→chars, drop source, append THROUGH the
    // mapping, evolve-re-add source, a stats-pruned range read on
    // the surviving identity column, and a v0 time-travel read
    // serving the ORIGINAL names
    "txlog_column_mapping" -> prep((s, d) => {
      val t = tmpDir("graft_txcm")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.renameColumn(t, "n_chars", "chars")
      graft.ingest.TxLog.dropColumn(t, "source")
      graft.ingest.TxLog.write(
        base.where(col("doc_id") < 30).select(
          (col("doc_id") + 700000).as("doc_id"), col("lang"),
          (col("n_chars") + 1).as("chars")),
        t, "append")
      graft.ingest.TxLog.write(
        base.where(col("doc_id") < 10).select(
          (col("doc_id") + 800000).as("doc_id"), col("lang"),
          col("n_chars").as("chars"), lit("readd").as("source")),
        t, "append", evolve = true)
      val now = graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "chars", "source")
      val pruned = graft.ingest.TxLog
        .snapshotRange(s, t, "doc_id", Some(700000L), None)
        .select("doc_id", "lang", "chars", "source")
      val v0 = graft.ingest.TxLog.snapshot(s, t, Some(0L))
        .select(col("doc_id"), col("lang"),
          col("n_chars").as("chars"), col("source"))
      Engine.canonical(now.withColumn("at", lit("now"))
        .unionByName(pruned.withColumn("at", lit("pruned")))
        .unionByName(v0.withColumn("at", lit("v0"))))
    }),
    // zero-copy clone (round 15, Delta's SHALLOW CLONE strengthened):
    // the clone's live files are HARD LINKS — O(files) metadata work,
    // no data bytes copied (CloneSpec pins inode equality), and the
    // link keeps the inode alive so the SOURCE's vacuum can never
    // break the clone. After cloning, the two logs diverge
    // independently: the source takes an append, the clone a COW
    // delete; the clone's v0 time-travel still serves the cloned
    // snapshot. Twin: the three arms as set algebra
    "txlog_clone" -> prep((s, d) => {
      val src = tmpDir("graft_txclone_src")
      val dst = tmpDir("graft_txclone_dst")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), src, "overwrite")
      graft.ingest.TxLog.cloneTable(s, src, dst)
      graft.ingest.TxLog.write(
        base.where(col("doc_id") < 20).select(
          (col("doc_id") + 700000).as("doc_id"), col("lang"),
          lit("post-clone").as("source"), col("n_chars")),
        src, "append")
      graft.ingest.TxLog.deleteRange(s, dst, "doc_id",
        Some(100L), Some(199L))
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      Engine.canonical(
        graft.ingest.TxLog.snapshot(s, src).select(cols.head, cols.tail: _*)
          .withColumn("at", lit("src"))
        .unionByName(graft.ingest.TxLog.snapshot(s, dst)
          .select(cols.head, cols.tail: _*).withColumn("at", lit("dst")))
        .unionByName(graft.ingest.TxLog.snapshot(s, dst, Some(0L))
          .select(cols.head, cols.tail: _*).withColumn("at", lit("dst_v0"))))
    }),
    // SQL maintenance surface (round 15): the full table-maintenance
    // lifecycle through `CALL graft.system.*` DSv2 stored procedures
    // ONLY — zorder, zero-copy clone, metadata-only rename/drop,
    // catalog DELETE on the now-MAPPED clone, optimize, checkpoint,
    // vacuum. Every op must be invisible in the data: the source arm
    // unchanged, the clone arm = renamed/narrowed minus the deleted
    // band (SqlProcedureSpec pins each procedure's summary row)
    "txlog_sql_maintenance" -> prep((s, d) => {
      val t = tmpDir("graft_txproc")
      val dst = tmpDir("graft_txproc_clone")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("doc_id")), t, "overwrite")
      s.sql(s"CALL graft.system.zorder('$t', 'doc_id', 'n_chars', 4)")
      s.sql(s"CALL graft.system.clone_table('$t', '$dst')")
      s.sql(s"CALL graft.system.rename_column('$dst', 'n_chars', 'chars')")
      s.sql(s"CALL graft.system.drop_column('$dst', 'source')")
      s.sql(s"DELETE FROM graft.`$dst` WHERE doc_id BETWEEN 100 AND 199")
      s.sql(s"CALL graft.system.optimize('$dst', 2)")
      s.sql(s"CALL graft.system.checkpoint('$dst')")
      s.sql(s"CALL graft.system.vacuum('$dst', 0)")
      Engine.canonical(
        graft.ingest.TxLog.snapshot(s, t)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars").as("chars"))
          .withColumn("at", lit("src"))
        .unionByName(graft.ingest.TxLog.snapshot(s, dst)
          .select(col("doc_id"), col("lang"),
            lit(null: String).cast("string").as("source"), col("chars"))
          .withColumn("at", lit("dst"))))
    }),
    // generated columns (round 15, GENERATED ALWAYS AS): chars_h is
    // registered as n_chars div 100 — the append OMITS it and the
    // write computes it; a range read then prunes on the generated
    // column (the classic derive-the-skipping-column shape, correct
    // by construction: GeneratedColumnSpec pins that a disagreeing
    // supplied value aborts the commit). Twin recomputes the column
    "txlog_generated" -> prep((s, d) => {
      val t = tmpDir("graft_txgen")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      graft.ingest.TxLog.write(
        base.withColumn("chars_h", expr("n_chars div 100"))
          .repartitionByRange(8, col("chars_h")), t, "overwrite")
      graft.ingest.TxLog.addGeneratedColumn(s, t, "chars_h",
        "n_chars div 100")
      graft.ingest.TxLog.write(
        base.where(col("doc_id") < 40).select(
          (col("doc_id") + 600000).as("doc_id"), col("lang"),
          col("n_chars")),
        t, "append")
      val all = graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "n_chars", "chars_h")
      val sel = graft.ingest.TxLog
        .snapshotRange(s, t, "chars_h", Some(3L), Some(5L))
        .select("doc_id", "lang", "n_chars", "chars_h")
      Engine.canonical(all.withColumn("at", lit("all"))
        .unionByName(sel.withColumn("at", lit("sel"))))
    }),
    // per-file bloom index (round 15, Delta's bloom filter index):
    // the table clusters on n_chars, so doc_id lands SCATTERED and
    // min/max stats can never prune an id point lookup — the bloom
    // sidecars can (BloomIndexSpec pins kept<total on exactly this
    // shape, plus write-maintenance/vacuum/clone/drop). The entry
    // exercises backfill + per-write maintenance + an IN-lookup
    // spanning both; the twin answers the same lookup as plain SQL —
    // the index must be invisible in the data
    "txlog_bloom_prune" -> prep((s, d) => {
      val t = tmpDir("graft_txbloom")
      val base = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        base.repartitionByRange(8, col("n_chars")), t, "overwrite")
      graft.ingest.TxLog.addBloomIndex(s, t, "doc_id",
        expectedItems = 10000L)
      graft.ingest.TxLog.write(
        base.where(col("doc_id") < 10).select(
          (col("doc_id") + 900000).as("doc_id"), col("lang"),
          col("source"), col("n_chars")),
        t, "append")
      import graft.ingest.TxLog.Pred
      val hit = graft.ingest.TxLog.snapshotWhere(s, t,
        Seq(Pred.In("doc_id", Seq(7L, 111L, 900003L))))
      Engine.canonical(
        graft.ingest.TxLog.snapshot(s, t).withColumn("at", lit("all"))
          .unionByName(hit.withColumn("at", lit("hit"))))
    }),
    // conjunctive data skipping (round 14): the z-ordered table
    // answers a three-predicate lookup — user range AND time range AND
    // type IN-set — through snapshotWhere, which drops every file some
    // predicate's stats rule out at planning time (TxLogSpec pins the
    // conjunction pruning tighter than any single column, plus the
    // IsNull/NotNull null-count arms); the oracle answers the same
    // predicate straight off the source table — skipping must be
    // invisible in the data
    "txlog_multi_prune" -> prep((s, d) => {
      val t = tmpDir("graft_txmulti")
      val ev = s.read.parquet(s"$d/events.parquet")
        .withColumn("ts_s",
          expr("unix_micros(cast(ts as timestamp)) div 1000000"))
        .select("event_id", "user_id", "event_type", "value", "ts_s")
      graft.ingest.TxLog.write(
        graft.ingest.Layout.zOrdered(ev, "user_id", "ts_s", 8), t, "overwrite")
      import graft.ingest.TxLog.Pred
      Engine.canonical(
        graft.ingest.TxLog.snapshotWhere(s, t, Seq(
          Pred.Range("user_id", Some(3L), Some(11L)),
          Pred.Range("ts_s", Some(1704499200L), Some(1705103999L)),
          Pred.In("event_type", Seq("click", "view"))))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round(col("value") * 100).cast("long")).cast("double") / 100)
              .as("sum_value")))
    }),
    // expectation write (round 14, the DLT expect_or_drop + quarantine
    // shape): rows failing any named predicate land in the quarantine
    // table with the failed names comma-joined in name order; clean
    // rows commit to the main table — nothing dropped silently. The
    // oracle re-derives the per-row verdict and violation string from
    // the source table, so the split AND the tagging must both be
    // exact
    "txlog_expectations" -> prep((s, d) => {
      val base = tmpDir("graft_txexpect")
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.writeExpect(docsDf, s"$base/main",
        s"$base/quarantine",
        Map("long_doc" -> "n_chars >= 120", "not_src0" -> "source <> 'src0'"))
      val main = graft.ingest.TxLog.snapshot(s, s"$base/main")
        .withColumn("arm", lit("main")).withColumn("_violation", lit(""))
      val quar = graft.ingest.TxLog.snapshot(s, s"$base/quarantine")
        .withColumn("arm", lit("quarantine"))
      Engine.canonical(main.unionByName(quar)
        .select("arm", "doc_id", "lang", "source", "n_chars", "_violation"))
    }),
    // streaming expectations (round 14, the DLT streaming
    // expect_or_drop + quarantine shape): the docs stream through
    // streamExpectSink one file per trigger — every micro-batch splits
    // on the named predicates with the batch id riding BOTH commits;
    // the final main ∪ quarantine union must equal the batch
    // writeExpect verdict row-for-row, so it shares txlog_expectations'
    // oracle twin
    "stream_txlog_expect" -> prep((s, d) => {
      val base = tmpDir("graft_txsexp")
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      docsDf.coalesce(2).write.json(s"$base/in")
      val in = s.readStream
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", "1")
        .json(s"$base/in")
      graft.ingest.TxLog.streamExpectSink(in, s"$base/main",
        s"$base/quarantine",
        Map("long_doc" -> "n_chars >= 120", "not_src0" -> "source <> 'src0'"),
        s"$base/ckpt").awaitTermination()
      val main = graft.ingest.TxLog.snapshot(s, s"$base/main")
        .withColumn("arm", lit("main")).withColumn("_violation", lit(""))
      val quar = graft.ingest.TxLog.snapshot(s, s"$base/quarantine")
        .withColumn("arm", lit("quarantine"))
      Engine.canonical(main.unionByName(quar)
        .select("arm", "doc_id", "lang", "source", "n_chars", "_violation"))
    }),
    // TxLog as a streaming SOURCE (round 14, Delta's readStream.table
    // analogue): the first drain consumes the current snapshot, a new
    // commit lands, the second drain — same checkpoint — consumes
    // exactly the tail (TxLogSpec pins the append-only enforcement and
    // the commit-time publish hook); the union of both drains must be
    // every row exactly once, which is what the oracle reads off the
    // source table
    "stream_txlog_source" -> prep((s, d) => {
      val base = tmpDir("graft_txsource")
      val t = s"$base/table"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 1)
        .repartitionByRange(2, col("doc_id")), t, "append")
      def drain(): Unit =
        graft.streaming.StreamStart.parquet(
          graft.ingest.TxLog.streamSource(s, t).where(col("n_chars") >= 100),
          s"$base/out", s"$base/ckpt").awaitTermination()
      drain()
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 2)
        .repartitionByRange(2, col("doc_id")), t, "append")
      drain()
      Engine.canonical(s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // COLUMN-MAPPED streaming source (round 16): a table renamed
    // mid-life (n_chars→chars, metadata-only) keeps serving as a
    // streaming source — the file stream reads the PHYSICAL footer
    // schema (which never changes across renames) and one Project
    // restores the logical names; the consumer is drained twice
    // across an append landing THROUGH the mapping, so exactly-once
    // and the indirection are proven together. Twin = set algebra
    // under the renamed column name: the mapping machinery must be
    // invisible in the consumed rows.
    "stream_mapped_source" -> prep((s, d) => {
      val base = tmpDir("graft_cmsource")
      val t = s"$base/table"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.renameColumn(t, "n_chars", "chars")
      def drain(): Unit =
        graft.streaming.StreamStart.parquet(
          graft.ingest.TxLog.streamSource(s, t).where(col("chars") >= 100),
          s"$base/out", s"$base/ckpt").awaitTermination()
      drain()
      // an append THROUGH the mapping (stages under physical n_chars)
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").as("chars"))
        .repartitionByRange(2, col("doc_id")), t, "append")
      drain()
      Engine.canonical(s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source", "chars"))
    }),
    // the catalog micro-batch SOURCE (round 17, Delta's
    // spark.readStream.table analogue — the read twin of the
    // reference's .table() sink, REF STREAM:199-220): the SAME
    // snapshot-then-tail consumption as stream_txlog_source, but
    // expressed ENTIRELY through the SQL catalog — offsets are commit
    // versions, the immutable log is the only source-side state (no
    // publication dir). Shares stream_txlog_source's oracle: the
    // catalog machinery must be invisible in the consumed rows.
    "stream_catalog_source" -> prep((s, d) => {
      val base = tmpDir("graft_catsource")
      val t = s"$base/table"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 1)
        .repartitionByRange(2, col("doc_id")), t, "append")
      def drain(): Unit =
        graft.streaming.StreamStart.parquet(
          s.readStream.table(s"graft.`$t`").where(col("n_chars") >= 100),
          s"$base/out", s"$base/ckpt").awaitTermination()
      drain()
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 2)
        .repartitionByRange(2, col("doc_id")), t, "append")
      drain()
      Engine.canonical(s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // the catalog medallion hop (round 17): bronze streams through a
    // transform into silver with the SOURCE side pure
    // `readStream.table` — the reference's Delta readStream/.table
    // pair with zero engine-specific reader code on the consumer; the
    // exactly-once sink ledger and the growing-bronze re-drain match
    // stream_txlog_multihop, whose oracle this shares
    "stream_catalog_multihop" -> prep((s, d) => {
      val base = tmpDir("graft_cathop")
      val bronze = s"$base/bronze"; val silver = s"$base/silver"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")), bronze, "overwrite")
      def hop(): Unit =
        graft.ingest.TxLog.streamSink(
          s.readStream.table(s"graft.`$bronze`")
            .where(col("n_chars") >= 100)
            .withColumn("lang_up", upper(col("lang"))),
          silver, s"$base/ckpt").awaitTermination()
      hop()
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 2 === 1)
        .repartitionByRange(2, col("doc_id")), bronze, "append")
      hop()
      Engine.canonical(graft.ingest.TxLog.snapshot(s, silver)
        .select("doc_id", "lang", "source", "n_chars", "lang_up"))
    }),
    // the PURE-CATALOG medallion hop (round 17): readStream.table on
    // one end, writeStream.toTable on the other — the reference's
    // Delta streaming pair (REF STREAM:199-220) with ZERO
    // engine-specific code on either side; per-epoch atomic append
    // commits carry the (queryId, epochId) exactly-once ledger, and
    // the growing-bronze re-drain matches stream_txlog_multihop,
    // whose oracle this shares
    "stream_catalog_sink" -> prep((s, d) => {
      val base = tmpDir("graft_catsink")
      val bronze = s"$base/bronze"; val silver = s"$base/silver"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")), bronze, "overwrite")
      s.sql(s"CREATE TABLE graft.`$silver` (doc_id BIGINT, lang STRING, " +
        s"source STRING, n_chars BIGINT, lang_up STRING)")
      def hop(): Unit = {
        val q = s.readStream.table(s"graft.`$bronze`")
          .where(col("n_chars") >= 100)
          .withColumn("lang_up", upper(col("lang")))
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"graft.`$silver`")
        q.awaitTermination()
      }
      hop()
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 2 === 1)
        .repartitionByRange(2, col("doc_id")), bronze, "append")
      hop()
      Engine.canonical(s.sql(
        s"SELECT doc_id, lang, source, n_chars, lang_up FROM graft.`$silver`"))
    }),
    // atomic REPLACE TABLE AS SELECT through the staging catalog
    // (round 17): Spark plans the Atomic*Exec because the catalog
    // stages — the statement's schema AND data land as ONE
    // history-preserving overwrite commit (the non-atomic fallback
    // drops the table, nuking its log). The result unions the
    // replaced table with the time-traveled PRE-replace version,
    // proving the swap and the preserved history in one hash; twin =
    // set algebra over the source table
    "txlog_catalog_replace" -> prep((s, d) => {
      val t = tmpDir("graft_txreplace")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 200)
        .repartitionByRange(4, col("doc_id")), t, "overwrite") // v0
      docsDf.createOrReplaceTempView("replace_src")
      s.sql(s"""REPLACE TABLE graft.`$t` AS
        SELECT doc_id, upper(lang) AS lang_up, n_chars
        FROM replace_src WHERE doc_id BETWEEN 300 AND 499""") // v1
      Engine.canonical(s.sql(s"""
        SELECT doc_id, lang_up, n_chars, 'now' AS at FROM graft.`$t`
        UNION ALL
        SELECT doc_id, upper(lang) AS lang_up, n_chars, 'v0' AS at
        FROM graft.`$t` VERSION AS OF 0"""))
    }),
    // automatic data skipping on catalog reads (round 17, Delta's
    // planning-time file pruning): the pushed WHERE translates to the
    // engine's stats predicate vocabulary and drops non-overlapping
    // files BEFORE the scan is built — a range lookup on a
    // range-clustered table schedules O(matching) tasks, not one per
    // live file (DataSkippingSpec pins the scanned-file counts; this
    // entry pins the results stay exact)
    "txlog_catalog_skipping" -> prep((s, d) => {
      val t = tmpDir("graft_catskip")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.repartitionByRange(8, col("doc_id")),
        t, "overwrite")
      Engine.canonical(s.sql(
        s"SELECT doc_id, lang, source, n_chars FROM graft.`$t` " +
          s"WHERE doc_id BETWEEN 100 AND 199 AND lang IS NOT NULL"))
    }),
    // the change data feed THROUGH THE SQL CATALOG (round 17, Delta's
    // readChangeFeed surface as the `.changes` metadata table — the
    // `.history` shape applied to CDF so the window options never
    // change the relation's schema): the same scripted sequence as
    // txlog_changes, consumed via spark.read.option("startingVersion",
    // ...).table("graft.`t`.changes") and netted client-side — the
    // DSv2 one-file-per-task feed must carry the identical multiset,
    // so it shares txlog_changes' oracle
    "cdf_catalog_batch" -> prep((s, d) => {
      val t = tmpDir("graft_catcdf")
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 300)
        .repartitionByRange(4, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.update(s, t, col("source") === "src2",
        Map("source" -> lit("patched")))
      val mark = graft.ingest.TxLog.latestVersion(t).get
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") >= 300)
        .repartitionByRange(2, col("doc_id")), t, "append")
      graft.ingest.TxLog.deleteRange(s, t, "doc_id", Some(50L), Some(99L))
      val ch = s.read.option("startingVersion", mark + 1)
        .table(s"graft.`$t`.changes")
        .drop("_commit_version")
      val ins = ch.where(col("_change_type") === "insert")
        .drop("_change_type")
      val del = ch.where(col("_change_type") === "delete")
        .drop("_change_type")
      val net = ins.exceptAll(del).withColumn("_change_type", lit("insert"))
        .unionByName(
          del.exceptAll(ins).withColumn("_change_type", lit("delete")))
      Engine.canonical(net
        .select("doc_id", "lang", "source", "n_chars", "_change_type"))
    }),
    // the STREAMING change feed (round 17): readStream.table on
    // `.changes` serves the snapshot as inserts, then the
    // merge-on-read DELETE/UPDATE commits — which the plain source
    // refuses loudly as non-append-only — as exact row-level change
    // rows with their commit versions, exactly once across drains;
    // the oracle rebuilds every arm from the source table with
    // literal versions (the script is deterministic)
    "stream_cdf_catalog" -> prep((s, d) => {
      val base = tmpDir("graft_cdfstream")
      val t = s"$base/table"
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 300)
        .repartitionByRange(4, col("doc_id")), t, "overwrite") // v0
      s.sql(s"ALTER TABLE graft.`$t` SET TBLPROPERTIES(" +
        s"'${graft.ingest.TxLog.DmlModeProp}'=" +
        s"'${graft.ingest.TxLog.DmlModeMor}')")
      def drain(): Unit =
        graft.streaming.StreamStart.parquet(
          s.readStream.table(s"graft.`$t`.changes"),
          s"$base/out", s"$base/ckpt").awaitTermination()
      drain() // the snapshot lands as inserts stamped v0
      s.sql(s"DELETE FROM graft.`$t` WHERE doc_id BETWEEN 50 AND 99") // v1
      s.sql(s"UPDATE graft.`$t` SET source = 'patched' " +
        s"WHERE source = 'src2'") // v2
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") >= 300)
        .repartitionByRange(2, col("doc_id")), t, "append") // v3
      drain()
      Engine.canonical(s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source", "n_chars", "_change_type",
          "_commit_version"))
    }),
    // the consumer the change feed EXISTS for, end-to-end through the
    // catalog (round 17): a STREAMING MATERIALIZED VIEW — a per-lang
    // count+sum state table maintained from `readStream` over
    // `.changes` via foreachBatch + TxLog.incrementalAgg, work ∝
    // changed rows per trigger, never a base-table rescan. Count and
    // sum are self-inverting, so the RAW feed maintains the state
    // exactly (an update's delete+insert pair nets inside the
    // aggregation); each batch lands with its epoch id in the
    // exactly-once ledger, so restarts replay nothing. The merge-on-
    // read DELETE and UPDATE mid-stream are exactly the commits the
    // plain source refuses. The oracle recomputes the aggregate from
    // the FINAL logical table state — the MV must equal a full
    // recompute while never having performed one.
    "stream_cdf_mv" -> prep((s, d) => {
      val base = tmpDir("graft_cdfmv")
      val t = s"$base/table"; val m = s"$base/mv"
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") < 300)
        .repartitionByRange(4, col("doc_id")), t, "overwrite") // v0
      s.sql(s"ALTER TABLE graft.`$t` SET TBLPROPERTIES(" +
        s"'${graft.ingest.TxLog.DmlModeProp}'=" +
        s"'${graft.ingest.TxLog.DmlModeMor}')")
      // materialize the state ONCE at v0; the stream maintains it
      graft.ingest.TxLog.write(
        graft.ingest.TxLog.aggState(graft.ingest.TxLog.snapshot(s, t),
          Seq("lang"), Seq("n_chars")), m, "overwrite")
      def maintain(): Unit = {
        val q = graft.streaming.StreamStart.foreachBatch(
            s.readStream.option("startingVersion", 1)
              .table(s"graft.`$t`.changes"), s"$base/ckpt") { (batch, id) =>
          val state = graft.ingest.TxLog.snapshot(s, m)
          graft.ingest.TxLog.write(
            graft.ingest.TxLog.incrementalAgg(state,
              batch.drop("_commit_version"), Seq("lang"), Seq("n_chars")),
            m, "overwrite", batchId = id)
        }
        q.awaitTermination()
      }
      s.sql(s"DELETE FROM graft.`$t` WHERE doc_id BETWEEN 50 AND 99") // v1
      maintain()
      s.sql(s"UPDATE graft.`$t` SET source = 'patched' " +
        s"WHERE source = 'src2'") // v2: nets to zero per group
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") >= 300)
        .repartitionByRange(2, col("doc_id")), t, "append") // v3
      maintain()
      Engine.canonical(graft.ingest.TxLog.snapshot(s, m)
        .select(col("lang"), col("n_rows"),
          col("sum_n_chars").as("sum_chars")))
    }),
    // tail-only streaming start (round 17, Delta's startingVersion
    // reader option on the PLAIN source): the consumer that already
    // holds the table's past skips the snapshot and consumes appends
    // from the named version on
    "stream_catalog_tail" -> prep((s, d) => {
      val base = tmpDir("graft_cattail")
      val t = s"$base/table"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 0)
        .repartitionByRange(4, col("doc_id")), t, "overwrite") // v0
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 1)
        .repartitionByRange(2, col("doc_id")), t, "append") // v1
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 3 === 2)
        .repartitionByRange(2, col("doc_id")), t, "append") // v2
      graft.streaming.StreamStart.parquet(
        s.readStream.option("startingVersion", 2).table(s"graft.`$t`"),
        s"$base/out", s"$base/ckpt").awaitTermination()
      Engine.canonical(s.read.parquet(s"$base/out")
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // multi-hop pipeline (round 14, the bronze→silver medallion
    // shape): a TxLog table streams THROUGH a transform INTO another
    // TxLog table — streamSource's published tail on one end,
    // streamSink's batch-id exactly-once ledger on the other; run
    // twice over a growing bronze table, the silver snapshot must be
    // exactly one transformed copy of every qualifying row
    "stream_txlog_multihop" -> prep((s, d) => {
      val base = tmpDir("graft_txhop")
      val bronze = s"$base/bronze"; val silver = s"$base/silver"
      val docsDf = docs(s, d).select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")), bronze, "overwrite")
      def hop(): Unit =
        graft.ingest.TxLog.streamSink(
          graft.ingest.TxLog.streamSource(s, bronze)
            .where(col("n_chars") >= 100)
            .withColumn("lang_up", upper(col("lang"))),
          silver, s"$base/ckpt").awaitTermination()
      hop()
      graft.ingest.TxLog.write(docsDf.where(col("doc_id") % 2 === 1)
        .repartitionByRange(2, col("doc_id")), bronze, "append")
      hop()
      Engine.canonical(graft.ingest.TxLog.snapshot(s, silver)
        .select("doc_id", "lang", "source", "n_chars", "lang_up"))
    }),
    // streaming FAN-IN (round 15, Delta's per-stream txn appId): two
    // independent streams — their own checkpoints, batch ids BOTH
    // restarting at 0 — feed ONE bronze table under distinct appIds;
    // the (appId, batchId) ledger keeps each exactly-once (without the
    // scoping, stream B's every batch would be skipped as stream A's
    // replays). Both are drained TWICE (restart replays nothing). The
    // oracle is the plain union of what the two streams carried.
    "stream_txlog_fanin" -> prep((s, d) => {
      val base = tmpDir("graft_txfanin")
      val t = s"$base/table"
      val docsDf = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      def land(df: DataFrame, dir: String): Unit = {
        df.coalesce(2).write.json(dir); ()
      }
      land(docsDf.where(col("doc_id") % 2 === 0), s"$base/inA")
      land(docsDf.where(col("doc_id") % 2 =!= 0), s"$base/inB")
      def drain(in: String, ck: String, app: String): Unit =
        graft.ingest.TxLog.streamSink(
          s.readStream
            .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
            .option("maxFilesPerTrigger", "1").json(in),
          t, s"$base/$ck", appId = app).awaitTermination()
      drain(s"$base/inA", "ckA", "ingest-even")
      drain(s"$base/inB", "ckB", "ingest-odd")
      drain(s"$base/inA", "ckA", "ingest-even") // restarts: no dupes
      drain(s"$base/inB", "ckB", "ingest-odd")
      Engine.canonical(graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // THE FULL REFERENCE PIPELINE as one medallion composition on the
    // jar-free Delta stand-in (STREAM:33-232 + BATCH:165-484 end to
    // end): Kinesis-envelope landing → streaming bytes→string →
    // from_json flatten → exactly-once TxLog BRONZE ingest
    // (streamSink's batch ledger) → TxLog streamSource multi-hop →
    // the reference's cleaning → TxLog SILVER → pin_q1 over
    // registerView SQL-surface snapshots. Every stage is individually
    // gated elsewhere; this entry proves the COMPOSITION — its twin is
    // pin_q1's own oracle, so the whole streaming+table machinery must
    // be invisible in the analytics result.
    // the flagship medallion entry keeps a temp-view + SQL-name hop
    // in front of q1 (the registerView-equivalent surface; the
    // snapshot-backed registerView path itself is gated by
    // txlog_sql_snapshot); q2-q9 read the shared pinned snapshots
    // directly (see medallionTables)
    "medallion_pin_q1" -> prep((s, d) => {
      val (pin, geo, _) = medallionTables(s, d)
      pin.createOrReplaceTempView("medallion_pin")
      geo.createOrReplaceTempView("medallion_geo")
      Engine.canonical(graft.pipeline.PinQueries.q1(
        s.table("medallion_pin"), s.table("medallion_geo")))
    }),
    // medallion breadth (round 16): ALL NINE reference queries over
    // the same single bronze→silver composition, each hash-checked
    // against its own pin oracle
    "medallion_pin_q2" -> medallionEntry((p, g, _) =>
      graft.pipeline.PinQueries.q2(p, g)) _,
    "medallion_pin_q3" -> medallionEntry((p, g, _) =>
      graft.pipeline.PinQueries.q3(p, g)) _,
    "medallion_pin_q4" -> medallionEntry((p, g, _) =>
      graft.pipeline.PinQueries.q4(p, g)) _,
    "medallion_pin_q5" -> medallionEntry((p, _, u) =>
      graft.pipeline.PinQueries.q5(p, u)) _,
    "medallion_pin_q6" -> medallionEntry((p, _, u) =>
      graft.pipeline.PinQueries.q6(p, u)) _,
    "medallion_pin_q7" -> medallionEntry((_, _, u) =>
      graft.pipeline.PinQueries.q7(u)) _,
    "medallion_pin_q8" -> medallionEntry((p, _, u) =>
      graft.pipeline.PinQueries.q8(p, u)) _,
    "medallion_pin_q9" -> medallionEntry((p, _, u) =>
      graft.pipeline.PinQueries.q9(p, u)) _,
    // row-level ops through the transactional log: copy-on-write
    // DELETE (range + predicate), UPDATE, and whole-row UPSERT by key
    // — each one atomic rewrite commit touching only matching files
    // (TxLogSpec pins the untouched-files and time-travel properties);
    // the oracle replays the same sequence as pure set algebra on the
    // source table, so tombstones and rewrites must be invisible
    "txlog_rowops" -> prep((s, d) => {
      val t = tmpDir("graft_txrowops")
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        docs.repartitionByRange(8, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.deleteRange(s, t, "doc_id", Some(100L), Some(199L))
      graft.ingest.TxLog.delete(s, t, col("lang") === "de")
      graft.ingest.TxLog.update(s, t, col("source") === "src1",
        Map("source" -> lit("src1-clean")))
      graft.ingest.TxLog.upsert(s, t,
        docs.where(col("doc_id") % 50 === 0).withColumn("n_chars", lit(-1L)),
        Seq("doc_id"))
      Engine.canonical(graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // the SAME delete→update→upsert sequence through MERGE-ON-READ
    // deletion vectors: no data file is rewritten by the deletes/
    // update masks (write cost ∝ matched rows, never file bytes — the
    // 100 TB CDC-rate shape), reads apply the masks at scan time, and
    // the final state must be bit-identical to the COW path's — it
    // shares txlog_rowops' set-algebra oracle. TxLogDvSpec pins the
    // no-rewrite property, CDF interaction, conflict detection, and
    // OPTIMIZE materialization.
    "txlog_dv" -> prep((s, d) => {
      val t = tmpDir("graft_txdv")
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      graft.ingest.TxLog.write(
        docs.repartitionByRange(8, col("doc_id")), t, "overwrite")
      graft.ingest.TxLog.deleteVectored(s, t,
        col("doc_id") >= 100L && col("doc_id") <= 199L)
      graft.ingest.TxLog.deleteVectored(s, t, col("lang") === "de")
      graft.ingest.TxLog.updateVectored(s, t, col("source") === "src1",
        Map("source" -> lit("src1-clean")))
      graft.ingest.TxLog.upsertVectored(s, t,
        docs.where(col("doc_id") % 50 === 0).withColumn("n_chars", lit(-1L)),
        Seq("doc_id"))
      Engine.canonical(graft.ingest.TxLog.snapshot(s, t)
        .select("doc_id", "lang", "source", "n_chars"))
    }),
    // the robust codec tier as a live stream: stateless narrow decode
    // map, malformed payloads quarantined as ok=false rows in-line
    // (shares the batch twin — stream == batch doc-for-doc)
    "stream_multimodal_decode" -> prep((s, d) => {
      val base = tmpDir("graft_streamdecode")
      docs(s, d).select("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.CorpusStream.runDecodeStats(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out").orderBy("asset_id")
    }),
    "stream_quality_filter" -> prep((s, d) => {
      val base = tmpDir("graft_docquality")
      docs(s, d).select("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").json(s"$base/in")
      graft.streaming.CorpusStream.runShapeFilter(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out").orderBy("doc_id")
    }),
    // flatMapGroupsWithState gap-sessionization as a live stream:
    // closed-by-gap sessions emit when a later event proves the gap;
    // each user's final session emits only if the final watermark
    // (max ts − 10 min lateness) passed its event-time timeout
    // (end + 30 min gap) — the oracle applies the same rule.
    "stream_sessionize" -> prep((s, d) => {
      val base = tmpDir("graft_evsess")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite")
        .option("timestampFormat", graft.streaming.EventStream.microTsFormat)
        .json(s"$base/in")
      graft.streaming.EventStream.runSessionize(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"), col("n_events"),
          col("sum_value"))
        .orderBy("user_id", "start_us")
    }),
    // The same sessionization through the Spark-4 transformWithState
    // processor (named ValueState + event-time timers, RocksDB
    // provider) — identical emit contract, so it shares
    // stream_sessionize's oracle; the gate proves the two state APIs
    // agree end-to-end, not just in specs.
    "stream_sessionize_tws" -> prep((s, d) => {
      val base = tmpDir("graft_evsesstws")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite")
        .option("timestampFormat", graft.streaming.EventStream.microTsFormat)
        .json(s"$base/in")
      graft.streaming.EventStream.runSessionizeTws(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"), col("n_events"),
          col("sum_value"))
        .orderBy("user_id", "start_us")
    }),
    // Watermarked stream-stream interval join (purchase ⋈ prior views
    // within 1h, both sides live streams); inner join emits on match so
    // the AvailableNow run equals the batch interval join the oracle runs.
    "stream_attribution" -> prep((s, d) => {
      val base = tmpDir("graft_evattr")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite")
        .option("timestampFormat", graft.streaming.EventStream.microTsFormat)
        .json(s"$base/in")
      graft.streaming.EventStream.runAttribution(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("purchase_id"), col("view_id"), col("user_id"),
          unix_micros(col("p_ts")).as("p_ts_us"),
          unix_micros(col("v_ts")).as("v_ts_us"), col("value"))
        .orderBy("purchase_id", "view_id")
    }),
    "stream_pin_clean" -> streamEntry("pin", df => df.orderBy("ind")),
    "stream_geo_clean" -> streamEntry("geo", df => df.select(col("ind"),
      col("country"), concat_ws("|", col("coordinates")).as("coordinates_str"),
      col("timestamp").cast("string").as("timestamp_str")).orderBy("ind")),
    "stream_user_clean" -> streamEntry("user", df => df.select(col("ind"),
      col("user_name"), col("age"),
      col("date_joined").cast("string").as("date_joined_str")).orderBy("ind")),
    // ---- multimodal plumbing (stubbed codec, real Spark contract) ----
    "multimodal_features" -> prep((s, d) =>
      graft.ext.Multimodal.pipeline(s, docs(s, d)).orderBy("asset_id")),
    // oracle-checked: resizeSummary's luma_sum depends on every output
    // byte and DuckDB recomputes the full box filter in SQL.
    "multimodal_resize" -> prep((s, d) =>
      graft.ext.Multimodal.resizeSummary(s, graft.ext.Multimodal.toAssets(docs(s, d)))
        .orderBy("asset_id")),
    // oracle-checked: kept-frame count per asset is pure arithmetic on
    // the payload length (frames of 64 bytes, every 4th kept).
    "multimodal_frames" -> prep((s, d) =>
      graft.ext.Multimodal.frameSample(s, graft.ext.Multimodal.toAssets(docs(s, d)))
        .groupBy(col("asset_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("frame_bytes"))
        .orderBy("asset_id")),
    // REAL codec (round 12): deterministic synthetic images serialized
    // through genuine containers (24-bit BMP / binary P6 PPM), parsed
    // back by ImageCodec, exact integer luma stats; the position-
    // weighted checksum makes stride/flip/channel bugs hash-fail.
    "multimodal_decode" -> prep((s, d) =>
      graft.ext.Multimodal.decodeStats(s, docs(s, d)).orderBy("asset_id")),
    // the aHash near-dup chain on DECODED real pixel bytes — the
    // codec seam closed end-to-end (synthesize -> BMP/PPM -> parse ->
    // luma -> thumbnail -> hash -> collapsed pair join)
    "image_dup_decoded" -> prep((s, d) =>
      graft.ext.Multimodal.decodedDupCandidates(s, docs(s, d))
        .orderBy("a_id", "b_id")),
    // dirty-corpus decode (round 13): all three containers (the P5
    // grayscale arm included) with deterministically-injected
    // malformed payloads; garbage rows survive as ok=false + NULL
    // stats instead of failing the task
    "multimodal_decode_robust" -> prep((s, d) =>
      graft.ext.Multimodal.decodeStatsRobust(s, docs(s, d))
        .orderBy("asset_id")),
    // compressed real-world containers through JDK ImageIO (round 14):
    // PNG arm is lossless (exact luma sums, oracle re-derives them),
    // JPEG arm is lossy (tolerance verdict), corruption injection as
    // in the robust tier
    "multimodal_decode_imageio" -> prep((s, d) =>
      graft.ext.Multimodal.decodeStatsImageIo(s, docs(s, d))
        .orderBy("asset_id")),
    // the SECOND real modality (round 14): deterministic PCM waveforms
    // through a genuine RIFF/WAVE container — mono/stereo arms,
    // corruption injection, exact integer stats of the DECODED stream
    "multimodal_audio_stats" -> prep((s, d) =>
      graft.ext.Multimodal.audioStats(s, docs(s, d))
        .orderBy("asset_id")),
    // frame-level feature pass over decoded audio: per-256-sample
    // window Σ s² (the VAD/loudness-normalization starting point)
    "audio_frame_energy" -> prep((s, d) =>
      graft.ext.Multimodal.audioFrameEnergy(s, docs(s, d))
        .orderBy("asset_id", "frame_idx")),
    // the THIRD modality (round 14): keyframe sampling over a real
    // multi-frame container — grayscale animated GIF (lossless at 256
    // grays), every 2nd frame's exact luma sum
    "video_frame_luma" -> prep((s, d) =>
      graft.ext.Multimodal.videoFrameLuma(s, docs(s, d))
        .orderBy("asset_id", "frame_no")),
    // the training-manifest composition: one row per doc joining all
    // three modality tiers, per-arm quarantine NULLs intact
    "multimodal_manifest" -> prep((s, d) =>
      graft.ext.Multimodal.multimodalManifest(s, docs(s, d))
        .orderBy("asset_id")),
    // quality-aware canonical dedup: keep each near-dup cluster's
    // highest-quality member, not the arbitrary min-id one
    // (MinHash pair feeder, same rationale as leakage_safe_split)
    "dedup_keep_best" -> prep((s, d) =>
      Dedup.dedupKeepBest(docs(s, d), Dedup.minhashLshPairsPortable(docs(s, d)))
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // KMV distinct-token cardinality per source: native constant-state
    // TypedImperativeAggregate; the k minima of polyhash64 are a pure
    // function of the data, so DuckDB reproduces them exactly
    "kmv_cardinality" -> prep((s, d) =>
      graft.ext.Sketches.kmvCardinality(docs(s, d)).orderBy("source")),
    // HLL distinct-token cardinality per source (third native sketch
    // aggregate): 2^10 byte registers per source, elementwise-max
    // merge; exact distinct + basis-point error audit columns
    // deterministic approximate quantiles (round 13): bottom-k-by-
    // hash sample (mergeable state, TakeOrderedAndProject partial
    // top-k) + exact interpolated percentiles of the sample — replaces
    // the engine-opaque percentile_approx whose GK merge order is
    // partition-dependent
    "approx_quantiles" -> prep((s, d) =>
      graft.ext.Sketches.approxQuantiles(
        s.read.parquet(s"$d/events.parquet"),
        col("value"), col("event_id"),
        Seq(0.25, 0.5, 0.75, 0.9, 0.99)).orderBy("quantile")),
    // the per-group variant: k-per-group rank window (map-side
    // WindowGroupLimit) + exact per-group percentiles of the sample
    "approx_quantiles_by_type" -> prep((s, d) =>
      graft.ext.Sketches.approxQuantilesByGroup(
        s.read.parquet(s"$d/events.parquet"), "event_type",
        col("value"), col("event_id"), Seq(0.5, 0.9, 0.99), k = 256)
        .orderBy("event_type", "quantile")),
    "hll_cardinality" -> prep((s, d) =>
      graft.ext.Sketches.hllCardinality(docs(s, d)).orderBy("source")),
    // pairwise cross-source vocabulary overlap from merged HLL
    // registers: union/intersection/jaccard estimated WITHOUT
    // co-shuffling any two sources' tokens (registers union by max)
    "hll_union_sources" -> prep((s, d) =>
      graft.ext.Sketches.hllUnionSources(docs(s, d))
        .orderBy("source_a", "source_b")),
    // per-source type-token ratio + hapax rate (template-farm detector)
    "lexical_diversity" -> prep((s, d) =>
      graft.ext.TextAnalysis.lexicalDiversity(docs(s, d)).orderBy("source")),
    // reliability diagram: cheap quality deciles vs Gopher pass rate
    "quality_calibration" -> prep((s, d) =>
      graft.ext.TextAnalysis.qualityCalibration(docs(s, d)).orderBy("bin")),
    // Cohen's kappa between the median-quality cut and the Gopher pass
    "filter_agreement" -> prep((s, d) =>
      graft.ext.TextAnalysis.filterAgreement(docs(s, d))),
    // deterministic stride negatives over stable positions (the
    // contrastive-training counterpart of contrastive_crops positives)
    "negative_samples" -> prep((s, d) =>
      Sampling.negativeSamples(docs(s, d)).orderBy("doc_id", "neg_rank")),
    // per-dimension embedding moments (dead-dim / centering audit)
    "embedding_dim_stats" -> prep((s, d) =>
      Similarity.embeddingDimStats(emb(s, d)).orderBy("dim")),
    // paraphrase-robust MinHash decontamination: corpus docs resembling
    // any benchmark doc (doc_id % 97, incl. verbatim copies) dropped;
    // benchmark bands broadcast — the corpus never shuffles candidates
    "decontaminate_fuzzy" -> prep((s, d) =>
      Dedup.decontaminateFuzzy(docs(s, d),
        docs(s, d).where(col("doc_id") % 97 === 0))
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // pairwise source duplication matrix (mirror detection dashboard)
    "dedup_cross_source" -> prep((s, d) =>
      Dedup.dedupCrossSource(docs(s, d), Dedup.minhashLshPairsPortable(docs(s, d)))
        .orderBy("source_a", "source_b")),
    // per-language OOV rate vs the corpus' own top-1000 vocabulary
    // (tokenizer-budget diagnostic needing only counts)
    "oov_rate" -> prep((s, d) =>
      TextAnalysis.oovRate(docs(s, d)).orderBy("lang")),
    // per-source exact p50/p90/p99 token-length quantiles (truncation
    // and packing planning; weighted-frequency percentile state)
    "length_quantiles" -> prep((s, d) =>
      TextAnalysis.lengthQuantiles(docs(s, d)).orderBy("source")),
    // equi-depth value histogram (10 ~equal-mass bins with ranges;
    // the tail-adaptive distribution summary, exact-percentile cuts)
    "equidepth_histogram" -> prep((s, d) =>
      Profiling.equiDepthHistogram(
        s.read.parquet(s"$d/events.parquet"), "value")
        .orderBy("bin")),
    // join-key skew pre-flight: hottest keys + skew-vs-mean ratio
    // (sizes the salt factor before a 100 TB join)
    "skew_report" -> prep((s, d) =>
      SkewJoin.skewReport(
        s.read.parquet(s"$d/events.parquet"), "event_type")
        .orderBy("key_value")),
    // PSI value-distribution drift between time halves (the model-
    // monitoring staple; sum of psi_contrib IS the PSI)
    "psi_drift" -> prep((s, d) =>
      Profiling.psiDrift(s.read.parquet(s"$d/events.parquet"))
        .orderBy("bin")),
    // consistent-hash resharding cost (rendezvous 1/to vs mod
    // (to-1)/to moved keys — the re-shard planning number)
    "reshard_report" -> prep((s, d) =>
      Sampling.reshardReport(
        s.read.parquet(s"$d/events.parquet"), "user_id")),
    // native Count-Min point frequencies (second native
    // TypedImperativeAggregate): constant 4x1024 matrix state, every
    // cell oracle-recomputed; exact counts as the honesty column
    "cms_token_freq" -> prep((s, d) =>
      graft.ext.Sketches.cmsTokenFreq(docs(s, d),
        Seq("spark", "merge", "vector")).orderBy("token")),
    // CMS heavy hitters: deterministic instance-sample candidates →
    // upper-biased CMS screen → exact verify of the kept sliver only;
    // is_heavy exposes the sketch's false positives
    "cms_heavy_hitters" -> prep((s, d) =>
      graft.ext.Sketches.cmsHeavyHitters(docs(s, d)).orderBy("token")),
    // bloom false-positive audit: measured FPR of the portable bloom
    // (disjoint even/odd key split) vs the (1-e^(-kn/m))^k bound
    "bloom_fpr_audit" -> prep((s, d) =>
      graft.ext.Sketches.bloomFprAudit(docs(s, d))),
    // KMV join-size estimation (Beyer et al. set-operation estimators):
    // distinct keys per side + key-overlap estimate from two constant-
    // size sketches — the broadcast-vs-shuffle decision BEFORE the
    // exchange
    "join_cardinality" -> prep((s, d) =>
      graft.ext.Sketches.joinCardinalityEstimate(
        ShapeQueries.orders(s, d), "o_custkey",
        ShapeQueries.customer(s, d), "c_custkey")),
    // first-order user-journey transition matrix (the Markov view
    // that discovers the funnels worth defining)
    "event_transitions" -> prep((s, d) =>
      ShapeQueries.eventTransitions(s, d).orderBy("from_type", "to_type")),
    // hourly event-volume z-scores per type (stuck-producer / replay-
    // storm dashboard; decimal moment sums, NULL z at zero variance)
    "event_anomaly" -> prep((s, d) =>
      Profiling.eventAnomaly(s.read.parquet(s"$d/events.parquet"))
        .select(col("event_type"), col("hour").cast("string").as("hour_str"),
          col("n_events"), col("n_hours"), col("mean_events"),
          col("var_events"), col("z"), col("is_anomaly"))
        .orderBy("event_type", "hour_str")),
    // source vocabulary-overlap matrix (lexical mirror detector —
    // paraphrased/translated mirrors share vocab before near-dup pairs)
    "vocab_overlap" -> prep((s, d) =>
      TextAnalysis.vocabOverlapMatrix(docs(s, d))
        .orderBy("source_a", "source_b")),
    // the one-table per-source health dashboard (diversity + KL +
    // Zipf + entropy + length posture; token counts exchange-shared)
    "source_health" -> prep((s, d) =>
      TextAnalysis.sourceHealthReport(docs(s, d)).orderBy("source")),
    // exact dedup over NFC-normalized text (composition: case/space/
    // unicode-form variants collapse before hashing)
    "dedup_normalized" -> prep((s, d) => Engine.canonical(
      Dedup.exact(TextAnalysis.normalizeText(docs(s, d))
        .select(col("doc_id"), col("text_norm").as("text"))))),
    // CCNet per-domain bucketing: LM score z-scored within source +
    // head/middle/tail tertiles from broadcast cuts (no per-source sort)
    "lm_quality_buckets" -> prep((s, d) =>
      TextAnalysis.lmQualityBuckets(docs(s, d)).orderBy("doc_id")),
    // per-source language-metadata mismatch rate (langId vs the
    // shipped lang column — the crawl-metadata-lies triage table)
    "lang_mismatch" -> prep((s, d) =>
      TextAnalysis.langMismatch(docs(s, d)).orderBy("source")),
    // k-anonymity risk audit over (event_type, day) quasi-identifiers
    // (governance complement to scrubPii: combinations leak, not cols)
    "k_anonymity" -> prep((s, d) =>
      Profiling.kAnonymity(
        s.read.parquet(s"$d/events.parquet")
          .select(col("event_type"), date_trunc("day", col("ts")).as("day")),
        Seq("event_type", "day"))),
    // global transitivity of the near-dup pair graph (threshold-
    // quality dashboard: C -> 1 = safe to collapse clusters)
    "dup_graph_transitivity" -> prep((s, d) =>
      Dedup.dupGraphTransitivity(Dedup.minhashLshPairsPortable(docs(s, d)))),
    // perceptual-hash (aHash) image near-dup candidates over the
    // multimodal assets plus injected near-variants (one appended
    // byte perturbs the thumbnail a few bits): 8x8 box resize ->
    // 64-bit hash -> exact-hash GROUP collapse -> simhash chunk
    // blocking over distinct hashes; representative pairs carry
    // group sizes (the quadratic-mass fix the ScaleProbe trajectory
    // forced)
    "image_dup_candidates" -> prep((s, d) => {
      val base = docs(s, d)
      // uppercasing the first 12 chars drops that thumbnail cell's
      // mean by ~32 — flips a FEW bits, not zero and not all; width
      // 32 keeps the fixture thumbnails 2-D (the n_chars-wide layout
      // makes single-row images whose 8 thumbnail rows all repeat —
      // hamming then quantizes to multiples of 8 and nothing lands
      // within <= 3)
      val variants = base.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(upper(substring(text, 1, 12)), substring(text, 13))")
          .as("text"))
      val assets = base.select(col("doc_id"), col("text"))
        .unionByName(variants)
        .select(col("doc_id").as("asset_id"),
          encode(col("text"), "UTF-8").as("media"),
          element_at(array(lit("png"), lit("jpeg"), lit("webp")),
            (col("doc_id") % 3 + 1).cast("int")).as("format"),
          lit(32).as("width"), lit(32).as("height"))
      graft.ext.Multimodal.imageDupCandidates(s, assets)
        .orderBy("a_id", "b_id")
    }),
    // the VERIFIED image chain (sketch recall -> exact precision,
    // mirroring dedup_corpus_verified): exact-THUMBNAIL collapse,
    // aHash chunk blocking over distinct thumbnails (includes the
    // hamming-0 different-content collisions the candidates tier
    // trusts blindly), cell-level sum-abs-diff verification
    "image_dup_verified" -> prep((s, d) => {
      val base = docs(s, d)
      val variants = base.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(upper(substring(text, 1, 12)), substring(text, 13))")
          .as("text"))
      val assets = base.select(col("doc_id"), col("text"))
        .unionByName(variants)
        .select(col("doc_id").as("asset_id"),
          encode(col("text"), "UTF-8").as("media"),
          element_at(array(lit("png"), lit("jpeg"), lit("webp")),
            (col("doc_id") % 3 + 1).cast("int")).as("format"),
          lit(32).as("width"), lit(32).as("height"))
      graft.ext.Multimodal.imageDupVerified(s, assets)
        .orderBy("a_id", "b_id")
    }),
    // top-50 PMI collocations (phrase mining; minCount=5 Zipf-tail
    // gate before any join, TakeOrderedAndProject cut)
    "bigram_pmi" -> prep((s, d) =>
      TextAnalysis.bigramPmi(docs(s, d)).orderBy("tok", "next")),
    // per-vector centroid-distance z-scores within each kmeans cluster
    // (garbage-vector audit before trusting ANN/SemDeDup spaces)
    "embedding_outliers" -> prep((s, d) =>
      Similarity.embeddingOutliers(emb(s, d)).orderBy("vec_id")),
    // c-TF-IDF cluster labeling: top-5 distinctive terms per kmeans
    // embedding cluster (docs joined by the aligned-id convention)
    "cluster_top_terms" -> prep((s, d) =>
      TextAnalysis.clusterTopTerms(docs(s, d),
        Similarity.kmeansAssign(emb(s, d), k = 8, iters = 2))
        .orderBy("cluster", "tok")),
    // temperature-scaled mixture weights (tokens^0.7): the
    // upsample-small-sources rule, weights quantized for budgetMix
    "temperature_weights" -> prep((s, d) =>
      Sampling.temperatureWeights(docs(s, d)).orderBy("source")),
    // MOSS winnowing: partial-overlap candidates from shared
    // window-minimum fingerprints (shift-robust, density 2/(w+1))
    "winnow_candidates" -> prep((s, d) =>
      Dedup.winnowCandidates(docs(s, d)).orderBy("a_id", "b_id")),
    // per-source unigram KL divergence vs the corpus distribution
    // (domain-shift dashboard; quantized-log exact integer sums)
    "source_kl" -> prep((s, d) =>
      TextAnalysis.klDivergence(docs(s, d)).orderBy("source")),
    // per-source Zipf slope over the top-500 tokens (corpus-health
    // regression from quantized-log moment sums; natural text ~ -1)
    "zipf_fit" -> prep((s, d) =>
      TextAnalysis.zipfFit(docs(s, d)).orderBy("source")),
    // per-source character-level Shannon entropy (base64/hex-dump
    // detector; quantized-log decimal sums like source_kl)
    "char_entropy" -> prep((s, d) =>
      TextAnalysis.charEntropy(docs(s, d)).orderBy("source")),
    // cumulative token coverage at vocab sizes 100/1k/10k (the
    // tokenizer vocab-budget curve; all cuts in one head-sliver pass)
    "vocab_coverage" -> prep((s, d) =>
      TextAnalysis.vocabCoverage(docs(s, d)).orderBy("vocab_size")),
    // near-dup cluster size histogram (keep-one vs source-exclusion
    // decision dashboard; MinHash pair feeder like every consumer)
    "cluster_size_histogram" -> prep((s, d) =>
      Dedup.clusterSizeHistogram(Dedup.minhashLshPairsPortable(docs(s, d)))
        .orderBy("cluster_size")),
    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical arm
    // and a brute-cosine vector arm (query q <-> probe vec q, the
    // aligned-id fixture convention); rank-space fusion needs no score
    // calibration between incomparable arms
    "hybrid_rrf" -> prep((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val q = Seq((1L, "spark"), (1L, "merge"), (2L, "vector"),
        (2L, "spark"), (3L, "merge"), (3L, "vector"))
        .toDF("query_id", "term")
      val wa = Window.partitionBy(col("query_id"))
        .orderBy(col("q_bm25").desc, col("doc_id").asc)
      val armA = TextAnalysis.bm25MultiTopK(docs(s, d), q, k = 5)
        .withColumn("rank", row_number().over(wa).cast("long"))
        .select("query_id", "doc_id", "rank")
      val wb = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine_sim").desc, col("vec_id").asc)
      val armB = Similarity.annTopK(emb(s, d),
          emb(s, d).where(col("vec_id").isin(1L, 2L, 3L)),
          k = 5, strategy = "brute")
        .withColumn("rank", row_number().over(wb).cast("long"))
        .select(col("probe_id").as("query_id"),
          col("vec_id").as("doc_id"), col("rank"))
      TextAnalysis.rrfFuse(armA, armB, k = 5).orderBy("query_id", "doc_id")
    }),
    // ranked-retrieval eval: recall@5 / MRR / binary nDCG@5 of the
    // BM25 lexical run against the brute-cosine gold (query q <->
    // probe vec q) — the metrics loop over the retrieval stack
    "retrieval_metrics" -> prep((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val q = Seq((1L, "spark"), (1L, "merge"), (2L, "vector"),
        (2L, "spark"), (3L, "merge"), (3L, "vector"))
        .toDF("query_id", "term")
      val wa = Window.partitionBy(col("query_id"))
        .orderBy(col("q_bm25").desc, col("doc_id").asc)
      val run = TextAnalysis.bm25MultiTopK(docs(s, d), q, k = 5)
        .withColumn("rank", row_number().over(wa).cast("long"))
        .select("query_id", "doc_id", "rank")
      val gold = Similarity.annTopK(emb(s, d),
          emb(s, d).where(col("vec_id").isin(1L, 2L, 3L)),
          k = 5, strategy = "brute")
        .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"))
      TextAnalysis.retrievalMetrics(run, gold, k = 5).orderBy("query_id")
    }),
    // streaming unique-visitor cardinality via the native KMV sketch:
    // stateless per-batch partial minima appended by foreachBatch,
    // merged minima-of-minima at read (the sketch's defining merge) —
    // deterministic, so the oracle recomputes the exact same minima.
    // 3 landing files → 3 micro-batches prove the cross-batch merge.
    // streaming token-frequency CMS: per-batch matrix partials merged
    // by per-cell SUM at read (counts are linear) — every native
    // sketch now streams via its defining mergeable-partials split
    "stream_cms_tokens" -> prep((s, d) => {
      val base = tmpDir("graft_doccms")
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .repartition(3).write.mode("overwrite").json(s"$base/in")
      graft.streaming.CorpusStream.runCmsTokens(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      graft.streaming.CorpusStream.cmsTokensCompact(
        s.read.parquet(s"$base/out"), Seq("spark", "merge", "vector"))
        .orderBy("token")
    }),
    // streaming unique-visitor cardinality via the native HLL sketch:
    // per-batch register partials appended by foreachBatch, merged by
    // per-bucket max at read (HLL's defining merge) — deterministic,
    // so the oracle recomputes every register. 3 landing files →
    // 3 micro-batches prove the cross-batch register merge.
    "stream_hll_users" -> prep((s, d) => {
      val base = tmpDir("graft_evhll")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(3).write.mode("overwrite").json(s"$base/in")
      graft.streaming.EventStream.runHllUsers(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      graft.streaming.EventStream.hllUsersCompact(s.read.parquet(s"$base/out"))
        .select(col("window_start").cast("string").as("window_start"),
          col("event_type"), col("v_zero"), col("est_distinct"))
        .orderBy(col("window_start").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    "stream_kmv_users" -> prep((s, d) => {
      val base = tmpDir("graft_evkmv")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"),
          col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(3).write.mode("overwrite").json(s"$base/in")
      graft.streaming.EventStream.runKmvUsers(
        s, s"$base/in", s"$base/out", s"$base/ckpt").awaitTermination()
      graft.streaming.EventStream.kmvUsersCompact(s.read.parquet(s"$base/out"))
        .select(col("window_start").cast("string").as("window_start"),
          col("event_type"), col("n_kept"), col("kth_hash"),
          col("est_distinct"))
        .orderBy(col("window_start").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
  )

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def streamEntry(table: String, post: DataFrame => DataFrame):
      (SparkSession, String) => DataFrame = prep { (s, d) =>
    val base = tmpDir(s"graft_stream_$table")
    graft.ingest.Fixtures.landStream(s, d, base)
    graft.streaming.StreamJob.runOne(s, base, table, s"$base/out", s"$base/ckpt")
    post(s.read.parquet(s"$base/out/$table"))
  }

  /** documents/embeddings, repartitioned to the session's parallelism
    * and cached per (session, path). The testdata parquet is a single
    * small file = ONE input split; without an explicit redistribution
    * every expensive projection above it (shingling, minhash, simhash,
    * token stats) runs on a single task no matter how many cores the
    * session has. The cache() is the materialization boundary that pins
    * the parallelism (and shares one scan across the many doc/emb
    * entries). On a real cluster the input arrives in many splits and
    * this collapses to a plain cached scan. */
  private val readCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** Fixture-scan parallelism, SIZE-adaptive (r19): ceil(rows/512)
    * partitions, capped at one wave of the session's cores. The r18
    * constant (defaultParallelism × 2) was a core-count fan tuned for
    * straggler coverage, but per-row work over the fixture is uniform
    * and the per-task fixed cost dominated KB-scale stages — and that
    * fixed cost is mostly COLD-CODE execution of the per-task
    * machinery (the same entry's floor falls 8.4 → 1.4 s CPU between
    * invocation 60 and 200 of a single-entry loop as tiered
    * compilation settles; a 2-sample bench never gets there), so it
    * scales with task count, not bytes. The r19 A/B at 32 cores
    * measured 64 → 16 → 8 partitions as bpe_apply_count 2.09 → 0.87 →
    * 0.75 s wall (CPU 21.7 → 5.3 → 3.8 s), curated_corpus
    * 1.23 → 0.55 → 0.66, systematic_sample 1.18 → 0.53 → 0.41, with
    * no entry slower — wall flattens at 8–16 while CPU keeps falling.
    * ≥512 rows per task amortizes the fixed cost (5000-row fixtures →
    * 10 partitions); the cap keeps one wave (a second wave buys
    * nothing on uniform work); bigger inputs widen toward full
    * parallelism automatically (the rows count is a parquet
    * footer-metadata job, paid once per (session, file)). */
  private def fixtureParts(s: SparkSession, rows: Long): Int = {
    val p = s.sparkContext.defaultParallelism.toLong
    math.max(1L, math.min(p, (rows + 511) / 512)).toInt
  }
  private def sharedRead(s: SparkSession, path: String): DataFrame =
    readCache.getOrElseUpdate((s, path), {
      // localCheckpoint, not cache (r19): a cached fixture ships the
      // full pre-cache plan (parquet scan + repartition) inside EVERY
      // consumer task's binary — the per-task plan-deserialization
      // floor r18 measured (~0.1-0.2 s CPU/task) — while a checkpoint
      // stub serializes as a scan over materialized partitions. Same
      // storage class (executor memory-and-disk), same one-time
      // materialization, smaller task binaries for ~150 entries.
      val raw = s.read.parquet(path)
      raw.repartition(fixtureParts(s, raw.count())).localCheckpoint()
    })
  private def docs(s: SparkSession, dir: String): DataFrame =
    sharedRead(s, s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    sharedRead(s, s"$dir/embeddings.parquet")
  private def prep(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => { Engine.prepare(s); f(s, d) }
  /** The fixture docs are single-line; line-level entries derive a
    * deterministic multi-line corpus (10-token lines) that the oracle
    * twins re-derive identically. */
  private def tenTokenLines(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        array_join(transform(
          sequence(lit(1), greatest(
            ceil(size(col("w")).cast("double") / 10.0).cast("int"), lit(1))),
          i => concat_ws(" ", slice(col("w"), (i - 1) * 10 + 1, lit(10)))),
          "\n").as("text"))

  /** DuckDB twins for the driver's correctness gate. */
  def oracleSql: Map[String, String] = Map(
    "pin_clean" -> PinOracle.pinClean,
    "geo_clean" -> PinOracle.geoClean,
    "user_clean" -> PinOracle.userClean,
    "pin_q1" -> PinOracle.q1,
    // the medallion composition must reproduce pin_q1 exactly — the
    // bronze/silver streaming-table machinery is invisible in the data
    "medallion_pin_q1" -> PinOracle.q1,
    "medallion_pin_q2" -> PinOracle.q2,
    "medallion_pin_q3" -> PinOracle.q3,
    "medallion_pin_q4" -> PinOracle.q4,
    "medallion_pin_q5" -> PinOracle.q5,
    "medallion_pin_q6" -> PinOracle.q6,
    "medallion_pin_q7" -> PinOracle.q7,
    "medallion_pin_q8" -> PinOracle.q8,
    "medallion_pin_q9" -> PinOracle.q9,
    "pin_q2" -> PinOracle.q2,
    "pin_q3" -> PinOracle.q3,
    "pin_q4" -> PinOracle.q4,
    "pin_q5" -> PinOracle.q5,
    "pin_q6" -> PinOracle.q6,
    "pin_q7" -> PinOracle.q7,
    "pin_q8" -> PinOracle.q8,
    "pin_q9" -> PinOracle.q9,
    "pin_q1_sql" -> PinOracle.q1,   // verbatim-SQL surface, same oracle
    "pin_q8_sql" -> PinOracle.q8,
    "kafka_envelope_clean" -> PinOracle.pinClean,
    "kinesis_envelope_clean" -> PinOracle.pinClean,
    "csv_scan_clean" -> PinOracle.pinClean,
    "avro_scan_clean" -> PinOracle.pinClean,
    "json_robust_scan" -> ExtOracle.jsonRobustScan,
    "orc_scan_clean" -> PinOracle.pinClean,
    "agg_pricing" -> ExtOracle.aggPricing,
    "revenue_by_nation" -> ExtOracle.revenueByNation,
    "top_customers" -> ExtOracle.topCustomers,
    "events_hourly" -> ExtOracle.eventsHourly,
    "zorder_scan" -> ExtOracle.zorderScan,
    "txlog_catalog_clustered" -> ExtOracle.zorderScan,
    "txlog_catalog_history" -> ExtOracle.txlogCatalogHistory,
    "bucketed_join_revenue" -> ExtOracle.saltedJoinRevenue, // same result, bucketed path
    "date_partition_scan" -> ExtOracle.datePartitionScan,
    "sessionize_batch" -> ExtOracle.sessionizeBatch,
    "asof_last_purchase" -> ExtOracle.asofLastPurchase,
    "range_join_campaigns" -> ExtOracle.rangeJoinCampaigns,
    "latest_user_event" -> ExtOracle.latestUserEvent,
    "stream_upsert_latest" -> ExtOracle.latestUserEvent, // same contract, stream-maintained
    "stream_events_hourly" -> ExtOracle.streamEventsHourly,
    "stream_events_sliding" -> ExtOracle.streamEventsSliding,
    "stream_dedup_events" -> ExtOracle.streamDedupEvents,
    "stream_dedup_vs_corpus" -> ExtOracle.streamDedupVsCorpus,
    "stream_neardup_ingest" -> ExtOracle.streamNearDupIngest,
    "stream_full_ingest" -> ExtOracle.streamFullIngest,
    "txlog_time_travel" -> ExtOracle.txlogTimeTravel,
    "txlog_sql_snapshot" -> ExtOracle.txlogSqlSnapshot,
    "txlog_catalog_dml" -> ExtOracle.txlogCatalogDml,
    "txlog_catalog_rowlevel" -> ExtOracle.txlogCatalogRowLevel,
    // MoR must be bit-identical to COW through the masks: same twin
    "txlog_catalog_rowlevel_mor" -> ExtOracle.txlogCatalogRowLevel,
    "txlog_catalog_ctas" -> ExtOracle.txlogCatalogCtas,
    "txlog_catalog_masked_read" -> ExtOracle.txlogCatalogMaskedRead,
    "txlog_column_mapping" -> ExtOracle.txlogColumnMapping,
    "txlog_clone" -> ExtOracle.txlogClone,
    "txlog_sql_maintenance" -> ExtOracle.txlogSqlMaintenance,
    "txlog_generated" -> ExtOracle.txlogGenerated,
    "txlog_bloom_prune" -> ExtOracle.txlogBloomPrune,
    "txlog_optimize_range" -> ExtOracle.txlogOptimizeRange,
    "stream_txlog_fanin" -> ExtOracle.txlogFanin,
    "txlog_restore" -> ExtOracle.txlogRestore,
    "txlog_multi_prune" -> ExtOracle.txlogMultiPrune,
    "txlog_expectations" -> ExtOracle.txlogExpectations,
    "stream_txlog_source" -> ExtOracle.streamTxlogSource,
    "stream_catalog_source" -> ExtOracle.streamTxlogSource,
    "stream_catalog_multihop" -> ExtOracle.streamTxlogMultihop,
    "stream_catalog_sink" -> ExtOracle.streamTxlogMultihop,
    "stream_mapped_source" -> ExtOracle.streamMappedSource,
    "txlog_catalog_skipping" -> ExtOracle.catalogSkipping,
    "txlog_catalog_replace" -> ExtOracle.catalogReplace,
    "cdf_catalog_batch" -> ExtOracle.txlogChanges,
    "stream_cdf_catalog" -> ExtOracle.streamCdfCatalog,
    "stream_cdf_mv" -> ExtOracle.streamCdfMv,
    "stream_catalog_tail" -> ExtOracle.streamCatalogTail,
    "stream_txlog_multihop" -> ExtOracle.streamTxlogMultihop,
    // same verdict contract as the batch writeExpect — stream chopping
    // must be invisible in the split
    "stream_txlog_expect" -> ExtOracle.txlogExpectations,
    "txlog_incremental_curation" -> ExtOracle.txlogIncrementalCuration,
    "stream_txlog_ingest" -> ExtOracle.streamTxlogIngest,
    "txlog_stats_prune" -> ExtOracle.zorderScan, // same predicate+rollup, stats-pruned file list
    "txlog_rowops" -> ExtOracle.txlogRowOps,
    // identical sequence through deletion vectors — the merge-on-read
    // machinery (masks, dv commits, scan-time anti-join) must be
    // invisible in the data, so it shares the COW path's oracle
    "txlog_dv" -> ExtOracle.txlogRowOps,
    "stream_txlog_upsert" -> ExtOracle.streamTxlogUpsert,
    // merge-on-read CDC sink: converges to the identical table, so it
    // shares the COW sink's oracle
    "stream_txlog_upsert_dv" -> ExtOracle.streamTxlogUpsert,
    "txlog_changes" -> ExtOracle.txlogChanges,
    "txlog_schema_evolve" -> ExtOracle.txlogSchemaEvolve,
    "txlog_optimize" -> ExtOracle.zorderScan, // same predicate+rollup through the optimized log
    "txlog_incremental_agg" -> ExtOracle.txlogIncrementalAgg,

    "stream_multimodal_decode" -> ExtOracle.multimodalDecodeRobust,
    "stream_quality_filter" -> ExtOracle.streamQualityFilter,
    "stream_attribution" -> ExtOracle.streamAttribution,
    "stream_sessionize" -> ExtOracle.streamSessionize,
    "stream_sessionize_tws" -> ExtOracle.streamSessionize, // same contract, Spark-4 state API
    "stream_events_enriched" -> ExtOracle.streamEventsEnriched,
    "user_top_events" -> ExtOracle.userTopEvents,
    "event_funnel" -> ExtOracle.eventFunnel,
    "profile_events" -> ExtOracle.profileEvents,
    "referential_audit" -> ExtOracle.referentialAudit,
    "snapshot_diff" -> ExtOracle.snapshotDiff,
    "quality_tiers" -> ExtOracle.qualityTiers,
    "curriculum_order" -> ExtOracle.curriculumOrder,
    "dedup_scorecard" -> ExtOracle.dedupScorecard,
    "editdist_verify" -> ExtOracle.editdistVerify,
    "source_cap" -> ExtOracle.sourceCap,
    "shard_manifest" -> ExtOracle.shardManifest,
    "length_batches" -> ExtOracle.lengthBatches,
    "systematic_sample" -> ExtOracle.systematicSample,
    "weighted_sample" -> ExtOracle.weightedSample,
    "weighted_sample_by_source" -> ExtOracle.weightedSampleBySource,
    "epochs_report" -> ExtOracle.epochsReport,
    "containment_pairs" -> ExtOracle.containmentPairs,
    "normalize_text" -> ExtOracle.normalizeText,
    "dsir_select" -> ExtOracle.dsirSelect,
    "span_corruption" -> ExtOracle.spanCorruption,
    "signal_correlation" -> ExtOracle.signalCorrelation,
    "tokenizer_fertility" -> ExtOracle.tokenizerFertility,
    "contrastive_crops" -> ExtOracle.contrastiveCrops,
    "source_scorecard" -> ExtOracle.sourceScorecard,
    "retention_cohorts" -> ExtOracle.retentionCohorts,
    "text_stats" -> ExtOracle.textStats,
    "vocab_size" -> ExtOracle.vocabSize,
    "token_freq_topk" -> ExtOracle.tokenFreqTopK,
    "quality_score" -> ExtOracle.qualityScore,
    "quality_percentile_filter" -> ExtOracle.qualityPercentileFilter,
    "rp_project" -> ExtOracle.rpProject,
    "bpe_token_count" -> ExtOracle.bpeTokenCount,
    "bpe_merges" -> ExtOracle.bpeMerges,
    "bpe_apply_count" -> ExtOracle.bpeApplyCount,
    "lang_id" -> ExtOracle.langId,
    "curated_corpus" -> ExtOracle.curated,
    "pretraining_corpus" -> ExtOracle.pretrainingCorpus,
    "curation_funnel" -> ExtOracle.curationFunnel,
    "train_test_split" -> ExtOracle.trainTestSplit,
    "leakage_safe_split" -> ExtOracle.leakageSafeSplit,
    "split_leakage_audit" -> ExtOracle.splitLeakageAudit,
    "split_leakage_audit_safe" -> ExtOracle.splitLeakageAuditSafe,
    "kfold_split" -> ExtOracle.kfoldSplit,
    "stratified_sample" -> ExtOracle.stratifiedSample,
    "mixture_sample" -> ExtOracle.mixtureSample,
    "pack_shards" -> ExtOracle.packShards,
    "packing_report" -> ExtOracle.packingReport,
    "pack_sequences" -> ExtOracle.packSequences,
    "dedup_clusters" -> ExtOracle.dedupClusters,
    "dedup_corpus" -> ExtOracle.dedupCorpus,
    "dedup_corpus_minhash" -> ExtOracle.dedupCorpusMinhash,
    "dedup_corpus_verified" -> ExtOracle.dedupCorpusVerified,
    "contamination_report" -> ExtOracle.contaminationReport,
    "source_resemblance" -> ExtOracle.sourceResemblance,
    "line_dedup" -> ExtOracle.lineDedup,
    "boilerplate_strip" -> ExtOracle.boilerplateStrip,
    "c4_clean" -> ExtOracle.c4Clean,
    "incremental_dedup" -> ExtOracle.incrementalDedup,
    "decontaminate" -> ExtOracle.decontaminate,
    "decontaminate_bloom" -> ExtOracle.decontaminate, // same result, bloom path
    "chunk_docs" -> ExtOracle.chunkDocs,
    "salted_join_revenue" -> ExtOracle.saltedJoinRevenue,
    "multimodal_frames" -> ExtOracle.multimodalFrames,
    "dedup_exact" -> ExtOracle.dedupExact,
    "minhash_pairs_portable" -> ExtOracle.minhashPairsPortable,
    "simhash_pairs_portable" -> ExtOracle.simhashPairsPortable,
    "ngram_jaccard" -> ExtOracle.ngramJaccard,
    "ngram_jaccard_prefix" -> ExtOracle.ngramJaccard, // same output, pruned path
    "ann_cosine_topk" -> ExtOracle.annCosineTopK,
    "ann_brute_batch" -> ExtOracle.annBruteBatch,
    "ann_lsh_topk" -> ExtOracle.annLshTopK,
    "neardup_embeddings" -> ExtOracle.nearDupEmbeddings,
    "semantic_dedup" -> ExtOracle.semanticDedup,
    "kmeans_assign" -> ExtOracle.kmeansAssign,
    "cluster_balanced_sample" -> ExtOracle.clusterBalancedSample,
    "tfidf_top_terms" -> ExtOracle.tfidfTopTerms,
    "bm25_topk" -> ExtOracle.bm25TopK,
    "bm25_multiquery" -> ExtOracle.bm25Multiquery,
    "feature_hash_vectors" -> ExtOracle.featureHashVectors,
    "classifier_score" -> ExtOracle.classifierScore,
    "ann_ivf_topk" -> ExtOracle.ivfTopK,
    "ann_ivf_postings_scan" -> ExtOracle.ivfTopK, // persisted-layout path, same result
    "hard_negatives" -> ExtOracle.hardNegatives,
    "kcenter_sample" -> ExtOracle.kcenterSample,
    "pq_encode" -> ExtOracle.pqEncode,
    "sq_encode" -> ExtOracle.sqEncode,
    "knn_graph" -> ExtOracle.knnGraph,
    "knn_pagerank" -> ExtOracle.knnPageRank,
    "knn_pagerank_shared" -> ExtOracle.knnPageRankShared,
    "knn_communities" -> ExtOracle.knnCommunities,
    "knn_label_accuracy" -> ExtOracle.knnLabelAccuracy,
    "budget_mix" -> ExtOracle.budgetMix,
    "ann_ivfpq_residual" -> ExtOracle.ivfPqResidual,
    "ann_sq_topk" -> ExtOracle.sqTopK,
    "ann_matryoshka" -> ExtOracle.matryoshkaTopK,
    "ann_pq_topk" -> ExtOracle.pqTopK,
    "ann_ivfpq_topk" -> ExtOracle.ivfPqTopK,
    "ann_ivfpq_rerank" -> ExtOracle.ivfPqRerank,
    "multimodal_features" -> ExtOracle.multimodalFeatures,
    "multimodal_resize" -> ExtOracle.multimodalResize,
    "multimodal_decode" -> ExtOracle.multimodalDecode,
    "image_dup_decoded" -> ExtOracle.imageDupDecoded,
    "multimodal_decode_robust" -> ExtOracle.multimodalDecodeRobust,
    "multimodal_decode_imageio" -> ExtOracle.multimodalDecodeImageIo,
    "multimodal_audio_stats" -> ExtOracle.multimodalAudioStats,
    "audio_frame_energy" -> ExtOracle.audioFrameEnergy,
    "video_frame_luma" -> ExtOracle.videoFrameLuma,
    "multimodal_manifest" -> ExtOracle.multimodalManifest,
    "fingerprint_docs" -> ExtOracle.fingerprintDocs,
    "pii_scrub" -> ExtOracle.piiScrub,
    "stable_row_ids" -> ExtOracle.stableRowIds,
    "repetition_score" -> ExtOracle.repetitionScore,
    "gopher_rules" -> ExtOracle.gopherRules,
    "lm_quality" -> ExtOracle.lmQuality,
    "dsir_weights" -> ExtOracle.dsirWeights,
    "bigram_lm_quality" -> ExtOracle.bigramLmQuality,
    "bigram_lm_pruned" -> ExtOracle.bigramLmPruned,
    "bigram_lm_interp" -> ExtOracle.bigramLmInterp,
    "lm_heldout" -> ExtOracle.lmHeldOut,
    "calibration_report" -> ExtOracle.calibrationReport,
    "span_dup_score" -> ExtOracle.spanDupScore,
    "novelty_score" -> ExtOracle.noveltyScore,
    "substring_dedup" -> ExtOracle.substringDedup,
    "embedding_centroids" -> ExtOracle.embeddingCentroids,
    "json_scan_clean" -> PinOracle.pinClean,
    "jdbc_scan_clean" -> PinOracle.pinClean,
    "compact_scan_clean" -> PinOracle.pinClean,
    "stream_pin_clean" -> PinOracle.pinClean,
    "stream_geo_clean" -> PinOracle.geoClean,
    "stream_user_clean" -> PinOracle.userClean,
    "dedup_keep_best" -> ExtOracle.dedupKeepBest,
    "kmv_cardinality" -> ExtOracle.kmvCardinality,
    "approx_quantiles" -> ExtOracle.approxQuantiles,
    "approx_quantiles_by_type" -> ExtOracle.approxQuantilesByType,
    "hll_cardinality" -> ExtOracle.hllCardinality,
    "hll_union_sources" -> ExtOracle.hllUnionSources,
    "lexical_diversity" -> ExtOracle.lexicalDiversity,
    "quality_calibration" -> ExtOracle.qualityCalibration,
    "filter_agreement" -> ExtOracle.filterAgreement,
    "negative_samples" -> ExtOracle.negativeSamples,
    "embedding_dim_stats" -> ExtOracle.embeddingDimStats,
    "decontaminate_fuzzy" -> ExtOracle.decontaminateFuzzy,
    "dedup_cross_source" -> ExtOracle.dedupCrossSource,
    "stream_kmv_users" -> ExtOracle.streamKmvUsers,
    "stream_hll_users" -> ExtOracle.streamHllUsers,
    "stream_cms_tokens" -> ExtOracle.streamCmsTokens,
    "hybrid_rrf" -> ExtOracle.hybridRrf,
    "retrieval_metrics" -> ExtOracle.retrievalMetrics,
    "oov_rate" -> ExtOracle.oovRate,
    "source_kl" -> ExtOracle.klDivergence,
    "winnow_candidates" -> ExtOracle.winnowCandidates,
    "cluster_top_terms" -> ExtOracle.clusterTopTerms,
    "temperature_weights" -> ExtOracle.temperatureWeights,
    "zipf_fit" -> ExtOracle.zipfFit,
    "char_entropy" -> ExtOracle.charEntropy,
    "vocab_coverage" -> ExtOracle.vocabCoverage,
    "event_anomaly" -> ExtOracle.eventAnomaly,
    "stream_event_anomaly" -> ExtOracle.streamEventAnomaly,
    "bigram_pmi" -> ExtOracle.bigramPmi,
    "embedding_outliers" -> ExtOracle.embeddingOutliers,
    "image_dup_candidates" -> ExtOracle.imageDupCandidates,
    "image_dup_verified" -> ExtOracle.imageDupVerified,
    "dup_graph_transitivity" -> ExtOracle.dupGraphTransitivity,
    "k_anonymity" -> ExtOracle.kAnonymity,
    "stream_ivf_assign" -> ExtOracle.streamIvfAssign,
    "lang_mismatch" -> ExtOracle.langMismatch,
    "lm_quality_buckets" -> ExtOracle.lmQualityBuckets,
    "source_health" -> ExtOracle.sourceHealthReport,
    "dedup_normalized" -> ExtOracle.dedupNormalized,
    "event_transitions" -> ExtOracle.eventTransitions,
    "join_cardinality" -> ExtOracle.joinCardinality,
    "skew_report" -> ExtOracle.skewReport,
    "equidepth_histogram" -> ExtOracle.equiDepthHistogram,
    "cms_token_freq" -> ExtOracle.cmsTokenFreq,
    "cms_heavy_hitters" -> ExtOracle.cmsHeavyHitters,
    "bloom_fpr_audit" -> ExtOracle.bloomFprAudit,
    "vocab_overlap" -> ExtOracle.vocabOverlapMatrix,
    "reshard_report" -> ExtOracle.reshardReport,
    "psi_drift" -> ExtOracle.psiDrift,
    "length_quantiles" -> ExtOracle.lengthQuantiles,
    "cluster_size_histogram" -> ExtOracle.clusterSizeHistogram,
  )
}
