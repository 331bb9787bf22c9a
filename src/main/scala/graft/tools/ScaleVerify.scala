package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft._

/** Correctness-at-scale spot check (round 13): the sf0.01 gate proves
  * result hashes against the DuckDB oracle and ScaleProbe proves
  * wall-time trajectories, but neither proves RESULT invariance at
  * scale. This harness runs the heaviest gate entries (the quiet-box
  * bench top-10 plus the codec seam entries) on the 4× replicated
  * sf0.1 corpus TWICE — once against a 32-file hash-layout copy and
  * once against a 13-range-partition, reverse-sorted copy of the
  * IDENTICAL rows — and asserts the unordered result hashes match.
  * Engine-vs-engine, no oracle needed: any partition-order
  * dependence, driver merge-order sensitivity, or non-deterministic
  * tie-break that survives the small-scale gate hash-fails here.
  *
  * The hash is the driver-gate shape made order-independent: per row,
  * xxhash64 of the JSON of the column-name-sorted struct; per result,
  * the wrapping Σ (commutative, so layout/order free) plus the row
  * count and the schema string.
  *
  * Writes replicas under /tmp; the artifact lands in the repo as
  * SCALEVERIFY.json + SCALEVERIFY.md.
  * Run: `sbt 'runMain graft.tools.ScaleVerify'` (optional arg:
  * comma-separated entry filter). */
object ScaleVerify {

  /** Quiet-box bench top-10 (BENCH_JUDGE_r12.json) + multimodal_decode
    * (the round-12 codec entry the verdict names explicitly), widened
    * (round-13 continuation) with the next docs/emb-only tier:
    * driver-state consumers (k-center's per-round collect, mutual-kNN
    * components' union-find), the sketch pair tiers, fusion, and the
    * new robust decode entry. */
  val defaultEntries: Seq[String] = Seq(
    "knn_pagerank", "knn_pagerank_shared", "image_dup_verified",
    "pretraining_corpus", "image_dup_decoded", "source_health",
    "cluster_top_terms", "image_dup_candidates", "lm_quality_buckets",
    "bigram_lm_interp", "multimodal_decode",
    "kcenter_sample", "knn_communities", "embedding_outliers",
    "bigram_pmi", "hybrid_rrf", "decontaminate",
    "minhash_pairs_portable", "multimodal_decode_robust",
    // the transactional-log row ops: the two layouts produce DIFFERENT
    // file groupings, hence different rewrite/remove sets — the final
    // snapshot (and the incremental view maintained from the net
    // change feed) must be identical anyway (COW is invisible)
    "txlog_rowops", "txlog_time_travel", "txlog_incremental_agg",
    // round-14 additions: the compressed-image and audio codec tiers
    // (typed maps — layout invariance is about the injected id rules
    // surviving any partitioning) and the restore/SQL log surfaces
    // (different layouts produce different file sets; the rolled-back
    // snapshot and the view rollups must be identical anyway)
    "multimodal_decode_imageio", "multimodal_audio_stats",
    "audio_frame_energy", "video_frame_luma",
    "txlog_restore", "txlog_sql_snapshot",
    // round-14 continuation: the expectation split (per-row verdicts +
    // violation tagging must survive any partitioning) and the
    // streaming source (snapshot-then-tail consumption over tables
    // whose file sets DIFFER between the layouts)
    "txlog_expectations", "stream_txlog_source", "stream_txlog_multihop",
    "stream_txlog_expect", "json_robust_scan", "txlog_incremental_curation",
    // round-15: the deletion-vector row-op sequence (different layouts
    // produce different file groupings, hence different MASK sets —
    // the visible snapshot must be identical anyway: merge-on-read is
    // invisible) and the SQL-DML lifecycle through the DSv2 catalog
    "txlog_dv", "txlog_catalog_dml",
    // round-15 continuation: SQL UPDATE/MERGE through the row-level
    // path (different layouts → different matched-file sets and
    // replacement groupings — the final table must be identical),
    // column mapping (rename/drop/re-add metadata must be invisible
    // however the files are cut) and the zero-copy clone divergence
    "txlog_catalog_rowlevel", "txlog_column_mapping", "txlog_clone",
    "txlog_sql_maintenance", "txlog_generated", "txlog_bloom_prune",
    // round-16: DV-masked snapshots SERVED through the SQL catalog
    // (different layouts → different mask sets and per-file skip
    // cursors — the served rows must be identical), the merge-on-read
    // SQL DML lifecycle (same statements as the COW row-level entry,
    // dv commits instead of rewrites — same final table), and the
    // SQL DDL lifecycle (CTAS + evolve + schema-evolution MERGE)
    "txlog_catalog_masked_read", "txlog_catalog_rowlevel_mor",
    "txlog_catalog_ctas", "stream_mapped_source",
    // round-17: the catalog streaming pair (snapshot-then-tail reads
    // and per-epoch sink commits over tables whose file sets DIFFER
    // between the layouts — the consumed/landed rows must be
    // identical), the pure-catalog hop, DDL-declared clustering
    // (different input layouts → different pre-OPTIMIZE file sets;
    // the clustered read must answer identically) and the history
    // metadata table (a fully scripted sequence — constant by
    // construction under any layout)
    "stream_catalog_source", "stream_catalog_multihop",
    "stream_catalog_sink", "txlog_catalog_clustered",
    "txlog_catalog_history",
    // round-17 continuation: the change feed through the catalog —
    // different layouts produce DIFFERENT file groupings, rewrite
    // sets and dv masks, so the raw feeds differ file-granularly; the
    // NETTED batch feed and the merge-on-read streaming feed (exact
    // by construction) must be identical anyway — and the tail-only
    // stream must serve exactly its commit regardless of layout
    "cdf_catalog_batch", "stream_cdf_catalog", "stream_catalog_tail",
    // automatic data skipping: the two layouts record DIFFERENT
    // per-file stats (range-clustered vs scattered), so the pruned
    // file sets differ wildly — the answered rows must be identical
    "txlog_catalog_skipping",
    // atomic RTAS: the two layouts stage different file sets into the
    // replace commit — the replaced table + its time-traveled past
    // must hash identically anyway
    "txlog_catalog_replace",
    // the streaming materialized view: different layouts → different
    // files, masks and feed batching; the incrementally-maintained
    // state must equal the same full recompute regardless
    "stream_cdf_mv")

  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val probeOut = "/tmp/scaleprobe" // replicas shared with ScaleProbe
    val sv = "/tmp/scaleverify"
    val spark = Engine.session()
    val entries =
      if (args.nonEmpty) defaultEntries.filter(args(0).split(",").toSet)
      else defaultEntries

    Replicas.ensure(spark, d, probeOut, 4)
    Replicas.ensurePlainDocs(spark, d, probeOut, 4)

    /** Entries whose natural-language filters (stopword ratio, lang
      * id) reject every copy-tagged doc — they verify against the
      * plain-text exact-dup replica instead (ids shifted, text
      * untouched), where their dedup tiers carry the load. */
    val plainDocsEntries = Set("pretraining_corpus")

    // two physical layouts of the identical 4x corpus: different file
    // counts, partitioners (hash vs range) and row orders — the same
    // logical table a 1000-executor cluster might hold either way
    def stage(tag: String, src: String, name: String,
        relayout: DataFrame => DataFrame): Unit = {
      val dst = s"$sv/$tag/$name.parquet"
      if (!new java.io.File(s"$dst/_SUCCESS").exists())
        relayout(spark.read.parquet(src))
          .write.mode("overwrite").parquet(dst)
    }
    stage("a", Replicas.docsPath(probeOut, 4), "documents",
      _.repartition(32))
    stage("a", Replicas.embPath(probeOut, 4), "embeddings",
      _.repartition(32))
    stage("b", Replicas.docsPath(probeOut, 4), "documents",
      _.repartitionByRange(13, col("doc_id").desc)
        .sortWithinPartitions(col("doc_id").desc))
    stage("b", Replicas.embPath(probeOut, 4), "embeddings",
      _.repartitionByRange(13, col("vec_id").desc)
        .sortWithinPartitions(col("vec_id").desc))
    // events at source scale (not replicated — the clustered-DDL entry
    // is layout-sensitive on its INPUT file cut, which is exactly the
    // degree of freedom the two stagings vary)
    stage("a", s"$d/events.parquet", "events", _.repartition(32))
    stage("b", s"$d/events.parquet", "events",
      _.repartitionByRange(13, col("event_id").desc)
        .sortWithinPartitions(col("event_id").desc))
    stage("ap", Replicas.plainDocsPath(probeOut, 4), "documents",
      _.repartition(32))
    stage("ap", Replicas.embPath(probeOut, 4), "embeddings",
      _.repartition(32))
    stage("bp", Replicas.plainDocsPath(probeOut, 4), "documents",
      _.repartitionByRange(13, col("doc_id").desc)
        .sortWithinPartitions(col("doc_id").desc))
    stage("bp", Replicas.embPath(probeOut, 4), "embeddings",
      _.repartitionByRange(13, col("vec_id").desc)
        .sortWithinPartitions(col("vec_id").desc))

    /** Order-independent result digest: (Σ xxhash64(row json), rows,
      * schema). Wrapping add is commutative, so the digest is a pure
      * function of the result SET. */
    def digest(df: DataFrame): (Long, Long, String) = {
      val cols = df.columns.sorted.map(c => col(s"`$c`"))
      val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
        .agg(sum(col("h")).as("hs"), count(lit(1)).as("n")).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1),
        df.schema.map(f => s"${f.name}:${f.dataType.simpleString}")
          .sorted.mkString(","))
    }

    val rows = entries.map { name =>
      val q = SparkEntry.queries(name)
      def run(dir: String): (Long, Long, String, Double) = {
        val t0 = System.nanoTime()
        val (h, n, sch) = digest(q(spark, dir))
        (h, n, sch, (System.nanoTime() - t0) / 1e9)
      }
      val (da, db) =
        if (plainDocsEntries(name)) (s"$sv/ap", s"$sv/bp") else (s"$sv/a", s"$sv/b")
      val (ha, na, sa, ta) = run(da)
      val (hb, nb, sb, tb) = run(db)
      // a 0-row result proves nothing — count it as a failure, not a
      // vacuous pass
      val ok = ha == hb && na == nb && sa == sb && na > 0
      println(f"[scaleverify] $name%-24s ${if (ok) "OK " else "MISMATCH"} " +
        f"rows=$na%-8d hash=$ha%20d  a=$ta%6.2fs b=$tb%6.2fs" +
        (if (ok) "" else f"  (b: rows=$nb hash=$hb)"))
      (name, ok, na, nb, ha, hb, ta, tb)
    }

    // ---- streaming tier (round 14): micro-batch-boundary invariance.
    // The batch rows prove layout invariance of PLANS; a stream's
    // analog degree of freedom is WHERE the file source chops
    // micro-batches. Same 4× rows under two chop layouts — and for the
    // CDC upsert sink, layout B additionally REORDERS revision arrival
    // (the rev-2 wave lands before rev-1), so the r14 sequence-aware
    // merge is what keeps the converged table identical. The digest of
    // the final at-rest table must match exactly.
    def rmrf(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isDirectory(root)) {
        val w = java.nio.file.Files.walk(root)
        val all = try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
          finally w.close()
        all.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_)); ()
      }
    }
    /** Land `df` into `dir` as `parts` mtime-controlled json files. */
    def emitWave(dir: String, df: DataFrame, parts: Int, idx: Int,
        mtime: Long): Unit = {
      val stage = s"$dir-stage$idx"
      df.repartition(parts).write.mode("overwrite").json(stage)
      val fs = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      fs.zipWithIndex.foreach { case (f, i) =>
        val dst = java.nio.file.Paths.get(dir, f"w$idx%02d-$i%02d.json")
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.move(f.toPath, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(mtime + i * 1000L); ()
      }
    }
    val streamRows: Seq[(String, Boolean, Long, Long, Long, Long, Double, Double)] = {
      import graft.ingest.TxLog
      val docs4 = spark.read.parquet(Replicas.docsPath(probeOut, 4))
      val keyed = docs4.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"))
      val waves = Seq(
        keyed.withColumn("rev", lit(0L)),
        keyed.where(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("rev", lit(1L)),
        keyed.where(col("doc_id") % 25 === 0)
          .withColumn("n_chars", col("n_chars") + 2000L)
          .withColumn("rev", lit(2L)))
      val t0 = 1700000000000L
      def runUpsert(tag: String, chop: Seq[(Int, Int, Long)],
          mergeOnRead: Boolean = false): (Long, Long, String, Double) = {
        val base = s"$sv/stream_upsert_$tag"
        rmrf(base)
        chop.foreach { case (waveIdx, parts, mt) =>
          emitWave(s"$base/in", waves(waveIdx), parts, waveIdx, mt) }
        val s0 = System.nanoTime()
        TxLog.streamUpsertSink(
          spark.readStream
            .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, rev BIGINT")
            .option("maxFilesPerTrigger", "1").json(s"$base/in"),
          s"$base/table", Seq("doc_id"), "rev", s"$base/ckpt",
          mergeOnRead = mergeOnRead)
          .awaitTermination()
        val (h, n, sch) = digest(TxLog.snapshot(spark, s"$base/table")
          .select("doc_id", "lang", "source", "n_chars", "rev"))
        (h, n, sch, (System.nanoTime() - s0) / 1e9)
      }
      // A: one file per wave, in revision order
      val (ha, na, sa, ta) = runUpsert("a",
        Seq((0, 1, t0), (1, 1, t0 + 3600000L), (2, 1, t0 + 7200000L)))
      // B: four chunks per wave, rev 2 arriving BEFORE rev 1
      val (hb, nb, sb, tb) = runUpsert("b",
        Seq((0, 4, t0), (2, 4, t0 + 60000L), (1, 4, t0 + 120000L)))
      val okU = ha == hb && na == nb && sa == sb && na > 0
      println(f"[scaleverify] stream_txlog_upsert     ${if (okU) "OK " else "MISMATCH"} " +
        f"rows=$na%-8d hash=$ha%20d  a=$ta%6.2fs b=$tb%6.2fs" +
        (if (okU) "" else f"  (b: rows=$nb hash=$hb)"))

      // the MERGE-ON-READ sink (round 15) under the same two chop
      // layouts, INCLUDING the reordered-arrival one — and the digest
      // must equal the COW sink's (three-way: MoR-A == MoR-B == COW):
      // masks + winner re-lands are invisible at rest
      val (hma, nma, sma, tma) = runUpsert("dva",
        Seq((0, 1, t0), (1, 1, t0 + 3600000L), (2, 1, t0 + 7200000L)),
        mergeOnRead = true)
      val (hmb, nmb, smb, tmb) = runUpsert("dvb",
        Seq((0, 4, t0), (2, 4, t0 + 60000L), (1, 4, t0 + 120000L)),
        mergeOnRead = true)
      val okM = hma == hmb && nma == nmb && sma == smb && nma > 0 &&
        hma == ha && nma == na
      println(f"[scaleverify] stream_txlog_upsert_dv  ${if (okM) "OK " else "MISMATCH"} " +
        f"rows=$nma%-8d hash=$hma%20d  a=$tma%6.2fs b=$tmb%6.2fs" +
        (if (okM) "" else f"  (b: rows=$nmb hash=$hmb; cow: rows=$na hash=$ha)"))

      // CMS token partials: per-batch matrices differ with the chop;
      // the compacted (token, est_freq) table must not
      val textDocs = docs4.select(col("doc_id"), col("text"), col("lang"),
        col("source"))
      val probes = Seq("the", "and", "data", "pipeline", "image", "graft")
      def runCms(tag: String, parts: Int): (Long, Long, String, Double) = {
        val base = s"$sv/stream_cms_$tag"
        rmrf(base)
        emitWave(s"$base/in", textDocs, parts, 0, t0)
        val s0 = System.nanoTime()
        graft.streaming.CorpusStream.runCmsTokens(
          spark, s"$base/in", s"$base/out", s"$base/ckpt")
          .awaitTermination()
        val (h, n, sch) = digest(graft.streaming.CorpusStream.cmsTokensCompact(
          spark.read.parquet(s"$base/out"), probes))
        (h, n, sch, (System.nanoTime() - s0) / 1e9)
      }
      val (hc, nc, sc, tc) = runCms("a", 4)
      val (hd, nd, sd, td) = runCms("b", 13)
      val okC = hc == hd && nc == nd && sc == sd && nc > 0
      println(f"[scaleverify] stream_cms_tokens       ${if (okC) "OK " else "MISMATCH"} " +
        f"rows=$nc%-8d hash=$hc%20d  a=$tc%6.2fs b=$td%6.2fs" +
        (if (okC) "" else f"  (b: rows=$nd hash=$hd)"))
      Seq(("stream_txlog_upsert", okU, na, nb, ha, hb, ta, tb),
        ("stream_txlog_upsert_dv", okM, nma, nmb, hma, hmb, tma, tmb),
        ("stream_cms_tokens", okC, nc, nd, hc, hd, tc, td))
    }
    val allRows = rows ++ streamRows

    val json = allRows.map { case (n, ok, na, nb, ha, hb, ta, tb) =>
      s"""{"entry":"$n","match":$ok,"rows_a":$na,"rows_b":$nb,""" +
        s""""hash_a":$ha,"hash_b":$hb,"secs_a":${f"$ta%.2f"},""" +
        s""""secs_b":${f"$tb%.2f"}}"""
    }.mkString("[\n", ",\n", "\n]")
    val nOk = allRows.count(_._2)
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALEVERIFY.json"),
      (s"""{"sf":"$d","copies":4,"n_entries":${allRows.size},""" +
        s""""n_match":$nOk,"layout_a":"repartition(32) hash",""" +
        s""""layout_b":"repartitionByRange(13, id desc) + """ +
        s"""sortWithinPartitions desc","entries":$json}""" + "\n")
        .getBytes("UTF-8"))
    val md = new StringBuilder
    md ++= "# SCALEVERIFY — result-hash invariance at 4× sf0.1\n\n"
    md ++= "Each entry runs on two physical layouts of the identical " +
      "4×-replicated corpus\n(32-file hash layout vs 13-range-partition " +
      "reverse-sorted layout); the unordered\nresult digest " +
      "(Σ xxhash64(row), row count, schema) must match exactly.\n\n"
    md ++= "| entry | match | rows | hash | secs a/b |\n|---|---|---|---|---|\n"
    allRows.foreach { case (n, ok, na, _, ha, _, ta, tb) =>
      md ++= f"| $n | ${if (ok) "OK" else "**MISMATCH**"} | $na | $ha | $ta%.2f / $tb%.2f |\n"
    }
    md ++= s"\n${allRows.size} entries, $nOk match.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALEVERIFY.md"),
      md.toString.getBytes("UTF-8"))
    println(s"[scaleverify] ${allRows.size} entries, $nOk match")
    spark.stop()
    if (nOk != allRows.size) sys.exit(1)
  }
}
