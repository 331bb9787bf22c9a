package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft._
import graft.ext._

/** Scale-trajectory probe: replicate the sf0.1 corpus 1/4/16/64× (ids
  * shifted per copy; every token tagged with the copy index and
  * embeddings circularly shifted, so copies are cross-copy DISTINCT
  * and the duplication rate stays constant as the corpus grows) and
  * time the heavy operators at each multiple. The point is the
  * EXPONENT, not the absolute seconds: an operator whose cost grows
  * ~linearly in corpus size here has no hidden quadratic pair blowup,
  * driver collect, or broadcast-of-corpus waiting at 100 TB.
  * Knob-bearing operators hold their INTENT constant (IVF centroid
  * count fixed via centroidMod ∝ copies), as a real deployment would.
  *
  * Writes nothing outside /tmp. Run: `sbt 'runMain graft.tools.ScaleProbe'`. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val out = "/tmp/scaleprobe"
    val spark = Engine.session()
    val copies = Seq(1, 4, 16, 64)

    // Cross-copy DISTINCT replication staging lives in Replicas
    // (shared with ScaleVerify) — see its scaladoc for why copies are
    // copy-tagged rather than salted.
    // optional arg: comma-separated op-name filter (re-time a subset
    // against already-written replicas without the staging pass)
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    for (n <- copies) Replicas.ensure(spark, d, out, n)

    def t(name: String, n: Int)(f: => Long): Unit =
      if (only.forall(_.contains(name))) {
        var best = Long.MaxValue
        var rows = 0L
        for (_ <- 1 to 2) {
          val t0 = System.nanoTime(); rows = f
          best = math.min(best, System.nanoTime() - t0)
        }
        println(f"[probe] $name%-24s x$n%-3d ${best / 1e9}%8.2f s  rows=$rows")
      }

    for (n <- copies) {
      val docs = spark.read.parquet(s"$out/docs_$n")
      val emb = spark.read.parquet(s"$out/emb_$n")
      val mod = 50 * n // hold centroid COUNT fixed as the corpus grows
      t("lmQuality", n)(TextAnalysis.lmQuality(docs).count())
      t("bigramLmPruned3", n)(TextAnalysis.bigramLmQualityPruned(docs, 3).count())
      t("withQuality+langId+rep", n)(TextAnalysis.withRepetition(
        TextAnalysis.withQuality(TextAnalysis.langId(docs)))
        .where(col("quality") >= -1).count())
      t("exactDedup", n)(Dedup.exact(docs).count())
      t("ngramJaccardPairs", n)(Dedup.ngramJaccardPairs(docs).count())
      t("minhashLshPairs", n)(Dedup.minhashLshPairs(docs).count())
      t("dedupCorpusMinhash", n)(Dedup.dedupCorpusMinhash(docs).count())
      t("lineDedup", n)(Dedup.lineDedup(docs).count())
      t("ivfAssign", n)(Similarity.ivfAssign(emb, centroidMod = mod).count())
      t("semanticDupLosers", n)(Similarity.semanticDupLosers(emb, centroidMod = mod).count())
      t("kmeansAssign", n)(Similarity.kmeansAssign(emb).count())
      t("tfidfTopTerms", n)(TextAnalysis.tfidfTopTerms(docs).count())
      t("curated", n)(Curation.curated(docs).count())
      // Closure/consumer tier (round-6): the operators that CONSUME a
      // pair graph, timed end-to-end. dupClustersSuperstep forces the
      // distributed union-find branch (driverThreshold = -1) so the
      // superstep loop's exponent is measured rather than assumed —
      // the driver fast path would otherwise absorb every fixture-
      // scale graph. The probe feeds the sketch-tier pairs, matching
      // the gate's round-6 feeder re-point.
      t("dupClustersSuperstep", n)(Dedup.dupClusters(
        Dedup.minhashLshPairs(docs), driverThreshold = -1L).count())
      t("leakageSafeSplit", n)(Sampling.leakageSafeSplit(
        docs, Dedup.minhashLshPairs(docs)).count())
      // fixture docs are single-line; derive 10-token lines (the gate's
      // own derivation) so the line explode/digest shuffle has real
      // fan-out instead of one line per doc
      val lined = docs.select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"),
          array_join(transform(
            sequence(lit(1), greatest(
              ceil(size(col("w")).cast("double") / 10.0).cast("int"), lit(1))),
            i => concat_ws(" ", slice(col("w"), (i - 1) * 10 + 1, lit(10)))),
            "\n").as("text"))
      t("boilerplateStrip", n)(Dedup.boilerplateStrip(lined).count())
      // round-6 additions: the PQ tier (codebook count held fixed via
      // centroidMod ∝ copies, like ivfAssign) and BPE merge learning
      // (vocab-table rewrites — should be near-flat: the vocab grows
      // ~copies-fold here only because replicated tokens are copy-
      // tagged; real corpus growth grows the vocab sub-linearly)
      t("pqEncode", n)(Similarity.pqEncode(emb, centroidMod = mod).count())
      t("ivfPqTopK", n)(Similarity.ivfPqTopK(emb,
        emb.where(col("vec_id") % (100L * n) === 0), centroidMod = mod).count())
      t("bpeLearnMerges", n)(TextAnalysis.bpeLearnMerges(docs).count())
      // round-7 additions: all-vectors kNN graph — centroidMod stays
      // CONSTANT here (cells ∝ corpus, cell SIZE fixed ~50) because
      // Σ|cell|² is the graph's pair bound: fixed cell size keeps it
      // linear in the corpus, which is the documented deployment knob
      // (holding cell COUNT fixed instead grows cells and the pair
      // space quadratically — measured 21 s at 64×, vs linear here);
      // BM25 retrieval (projection lengths + query-term-filtered
      // counts); the waterfill budget mixer (budget ∝ copies keeps
      // the selection fraction constant)
      t("knnGraph", n)(Similarity.knnGraph(emb).count())
      t("knnPageRank", n)(Similarity.knnPageRank(emb).count())
      // round-8: iterative-depth hazard measured, not argued — 20
      // lazily-composed iterations with the periodic score pin
      // guard; cost should stay ~linear in iters, flat per multiple
      t("knnPageRank20", n)(Similarity.knnPageRank(emb, iters = 20).count())
      // round-8: curriculum rank fan-out — (phase, bucket) windows must
      // keep per-multiple cost flat; a per-phase window would funnel
      // each multiple's whole corpus through 3 reducers
      t("curriculumOrder", n)(TextAnalysis.curriculumOrder(docs).count())
      t("bm25TopK", n)(TextAnalysis.bm25TopK(docs,
        Seq(s"c0_spark", s"c0_merge", s"c0_vector")).count())
      t("budgetMix", n)(Sampling.budgetMix(
        docs.withColumn("source", concat(lit("src"),
            pmod(col("doc_id"), lit(3)).cast("string")))
          .withColumn("n_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long")),
        "source", Map("src0" -> 6, "src1" -> 3, "src2" -> 1),
        budget = 300000L * n, tokensCol = "n_tokens").count())
      // round-8 second batch: constant-state sketch cardinality (the
      // shuffle should stay |sources|·k longs — near-flat wall per
      // multiple up to the token-scan cost), quality-canonical dedup
      // (cluster sliver + rank window — tracks the pair tier's cost),
      // fuzzy decontamination (benchmark fixed ∝ 1/97 of one copy;
      // corpus side scales — candidate join must stay broadcast-side),
      // per-source lexical diversity (one vocab-keyed count exchange)
      t("kmvCardinality", n)(Sketches.kmvCardinality(docs).count())
      t("dedupKeepBest", n)(Dedup.dedupKeepBest(
        docs, Dedup.minhashLshPairs(docs)).count())
      t("decontaminateFuzzy", n)(Dedup.decontaminateFuzzy(
        docs, docs.where(col("doc_id") % 97 === 0)).count())
      t("lexicalDiversity", n)(TextAnalysis.lexicalDiversity(
        docs.withColumn("source", concat(lit("src"),
          pmod(col("doc_id"), lit(20)).cast("string")))).count())
      // round-8 third batch: winnowing (positional hash is corpus-
      // proportional, the fp self-join pair-proportional — cross-copy
      // distinct replication keeps the dup rate constant so both
      // should track ~linear); c-TF-IDF labels (kmeans passes + one
      // (cluster, tok) count exchange); KL and the coverage curve
      // (token-count shuffles + constant-bounded head slivers)
      t("winnowCandidates", n)(Dedup.winnowCandidates(docs).count())
      t("clusterTopTerms", n)(TextAnalysis.clusterTopTerms(
        docs, Similarity.kmeansAssign(emb)).count())
      val srcd = docs.withColumn("source", concat(lit("src"),
        pmod(col("doc_id"), lit(20)).cast("string")))
      t("klDivergence", n)(TextAnalysis.klDivergence(srcd).count())
      t("vocabCoverage", n)(TextAnalysis.vocabCoverage(docs).count())
      // round-8 fourth batch: PMI (bigram counts corpus-proportional,
      // the minCount gate keeps the join sliver small), perceptual-
      // hash image dedup (narrow resize map + chunk-blocked pairs —
      // rows linear under constant dup rate), CCNet bucketing (the
      // lmQuality chain + broadcast cuts — must track lmQuality), and
      // the KMV join estimator (constant sketch state — flat)
      t("bigramPmi", n)(TextAnalysis.bigramPmi(docs).count())
      t("imageDupCandidates", n)(Multimodal.imageDupCandidates(
        spark, Multimodal.toAssets(
          docs.withColumn("n_chars", length(col("text")).cast("long")))).count())
      t("lmQualityBuckets", n)(TextAnalysis.lmQualityBuckets(srcd).count())
      t("joinCardinality", n)(Sketches.joinCardinalityEstimate(
        docs, "doc_id", emb, "vec_id").count())
      // round-10 batch 5: the corpus-health composite (its cached
      // (source, tok) counts table must hold the ONE tokenize — cost
      // tracks the token scan, ~linear); the hybrid retrieval
      // composition and its metrics loop (every arm is a query-
      // proportional top-k sliver — wall should stay ~flat above the
      // corpus-scan floor); the verified dedup chain (candidate-
      // sliver-proportional like its pieces); and pageRankFromEdges
      // over a PRE-MATERIALIZED edge table — the amortized production
      // path: the corpus self-join is paid ONCE outside the timer, so
      // the per-consumer cost is the narrow k·N-edge iteration only
      // (contrast with the self-building knnPageRank row above).
      t("sourceHealthReport", n)(TextAnalysis.sourceHealthReport(srcd).count())
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val rrfQ = Seq((1L, "c0_spark"), (1L, "c0_merge"), (2L, "c0_vector"),
        (2L, "c0_spark"), (3L, "c0_merge"), (3L, "c0_vector"))
        .toDF("query_id", "term")
      def lexArm(): DataFrame = {
        val wa = Window.partitionBy(col("query_id"))
          .orderBy(col("q_bm25").desc, col("doc_id").asc)
        TextAnalysis.bm25MultiTopK(docs, rrfQ, k = 5)
          .withColumn("rank", row_number().over(wa).cast("long"))
          .select("query_id", "doc_id", "rank")
      }
      def cosArm(): DataFrame = {
        val wb = Window.partitionBy(col("probe_id"))
          .orderBy(col("cosine_sim").desc, col("vec_id").asc)
        Similarity.annTopK(emb, emb.where(col("vec_id").isin(1L, 2L, 3L)),
            k = 5, strategy = "brute")
          .withColumn("rank", row_number().over(wb).cast("long"))
          .select(col("probe_id").as("query_id"),
            col("vec_id").as("doc_id"), col("rank"))
      }
      t("hybridRrf", n)(
        TextAnalysis.rrfFuse(lexArm(), cosArm(), k = 5).count())
      t("retrievalMetrics", n)(TextAnalysis.retrievalMetrics(
        lexArm(), cosArm().select("query_id", "doc_id"), k = 5).count())
      t("dedupCorpusVerified", n)(Dedup.dedupCorpusVerified(docs).count())
      // round-10 batch 5b: source-level union sketches (rollup state
      // |sources|·32 longs — cost must track the token scan only);
      // held-out LM scoring (counts-collapsed joins — tracks
      // lmQuality); the verified image chain (cell verify on the
      // candidate sliver only — must stay flat like the candidates)
      t("sourceResemblance", n)(Dedup.sourceResemblance(srcd).count())
      t("lmQualityHeldOut", n)(TextAnalysis.lmQualityHeldOut(
        docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0)).count())
      t("imageDupVerified", n)(Multimodal.imageDupVerified(
        spark, Multimodal.toAssets(
          docs.withColumn("n_chars", length(col("text")).cast("long")))).count())
      // mutual filter + components over the kNN edge table — must
      // track knnGraph's trajectory (the mutual sliver is ≤ k·N rows)
      t("knnCommunities", n)(Similarity.knnCommunities(emb).count())
      if (only.forall(_.contains("pageRankFromEdges"))) {
        val knnEdges = Pin.eager(Similarity.knnGraph(emb))
        t("pageRankFromEdges", n)(
          Similarity.pageRankFromEdges(knnEdges).count())
      }
      // round-10 batch 6 — the sketch-governance tier: HLL cardinality
      // and pairwise union (register state |sources|·1 KB / |pairs|·
      // 3 estimates — both must track the token scan, near-flat wall);
      // CMS heavy hitters (constant matrix + 1/64 instance sample +
      // kept-sliver verify — candidate-proportional); the bloom FPR
      // audit (bit set ≤ m rows, probe side one broadcast join — the
      // only corpus-proportional piece is the key scan)
      t("hllCardinality", n)(Sketches.hllCardinality(srcd).count())
      t("hllUnionSources", n)(Sketches.hllUnionSources(srcd).count())
      t("cmsHeavyHitters", n)(Sketches.cmsHeavyHitters(docs).count())
      t("bloomFprAudit", n)(Sketches.bloomFprAudit(docs).count())
      // round-13 batch 7: the untrajectoried gate entries (r11
      // verdict #5). A-ES sampling: one log-quantized division per
      // row, global top-k = TakeOrderedAndProject (k-bounded driver
      // state) / per-group = WindowGroupLimit — wall must track the
      // weight scan; calibration = corpus-proportional score scan +
      // ≤bins-key rollup; epochs = |groups|-row agg; held-out LM =
      // counts-collapsed joins (the lmQuality shape); contamination
      // report: bench side is corpus/97 (grows with n), shingle join
      // collision-sliver-bounded; deterministic approx quantiles =
      // bottom-k scan, k-bounded state
      val wdocs = docs.select(col("doc_id"), col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("weight"))
      t("weightedSample", n)(
        Sampling.weightedSample(wdocs, "weight", k = 50).count())
      t("weightedSampleByGroup", n)(
        Sampling.weightedSampleByGroup(wdocs, "source", "weight", k = 10)
          .count())
      t("calibrationReport", n) {
        val g = TextAnalysis.gopherRules(docs, 20)
          .select(col("doc_id"),
            (col("n_words").between(20, 100000) &&
              col("mean_word_len").between(3.0, 10.0) &&
              col("symbol_ratio") <= 0.1 &&
              col("frac_alpha_words") >= 0.8).as("y"))
        TextAnalysis.calibrationReport(
          TextAnalysis.qualityScore(docs).join(g, "doc_id"),
          "quality", "y").count()
      }
      t("epochsReport", n)(Sampling.epochsReport(
        docs.withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long")),
        "source", Map("src0" -> 6, "src1" -> 3, "src2" -> 1),
        budget = 300000L * n, tokensCol = "n_tokens").count())
      // (lmQualityHeldOut already has a batch-5b row above)
      t("contaminationReport", n)(Dedup.contaminationReport(
        docs, docs.where(col("doc_id") % 97 === 0)).count())
      t("approxQuantiles", n)(Sketches.approxQuantiles(
        docs, length(col("text")), col("doc_id"), Seq(0.5, 0.99)).count())
      // batch-side fullIngest tiers: arrivals = corpus/5. Sha path =
      // arrivals are exact dups, pruned before signatures (measures
      // gopher tier ∝ arrivals + sha index ∝ corpus); probe path =
      // arrivals prefixed so every one misses sha and reaches the
      // MinHash band probe (the worst case: probe work ∝ arrivals ×
      // bands against the corpus-proportional bucket index)
      t("fullIngestBatchSha", n)(graft.streaming.CorpusStream.fullIngest(
        docs.where(col("doc_id") % 5 === 0), docs).count())
      t("fullIngestBatchProbe", n)(graft.streaming.CorpusStream.fullIngest(
        docs.where(col("doc_id") % 5 === 0)
          .withColumn("text", concat(lit("zq9 "), col("text"))),
        docs).count())
      // the codec tier: decode = narrow per-task map (flat per row);
      // robust adds the malformed-null branch at the same shape; the
      // decoded dup chain must track imageDupCandidates' trajectory
      t("decodeStats", n)(Multimodal.decodeStats(spark, docs).count())
      t("decodeStatsRobust", n)(
        Multimodal.decodeStatsRobust(spark, docs).count())
      t("decodeStatsImageIo", n)(
        Multimodal.decodeStatsImageIo(spark, docs).count())
      t("audioStats", n)(
        Multimodal.audioStats(spark, docs).count())
      t("audioFrameEnergy", n)(
        Multimodal.audioFrameEnergy(spark, docs).count())
      t("videoFrameLuma", n)(
        Multimodal.videoFrameLuma(spark, docs).count())
      t("decodedDupCandidates", n)(
        Multimodal.decodedDupCandidates(spark, docs).count())
      // the transactional-log tier: the WRITE scans the corpus (must
      // be ~linear); the row ops and pruned reads are bounded by the
      // MATCHING files — a fixed-selectivity delete/upsert/read on a
      // range-clustered table must stay ~FLAT as the table grows 64×
      // (the 100 TB claim of the stats + COW design). Mutating ops
      // pick a fresh disjoint slice per timing iteration so the
      // second run does comparable work instead of a no-op.
      locally {
        import graft.ingest.TxLog
        val tdir = s"$out/txlog_$n"
        val root = java.nio.file.Paths.get(tdir)
        if (java.nio.file.Files.isDirectory(root)) {
          val w = java.nio.file.Files.walk(root)
          val all = try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
            finally w.close()
          all.sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
        t("txlogWrite", n) {
          TxLog.write(docs.select("doc_id", "lang", "source", "n_chars")
            .repartitionByRange(32, col("doc_id")), tdir, "overwrite")
          TxLog.liveFiles(tdir).size.toLong
        }
        var slice = 0L
        t("txlogDeleteRange", n) {
          slice += 1
          TxLog.deleteRange(spark, tdir, "doc_id",
            Some(1000L * slice), Some(1000L * slice + 99L))
          TxLog.commits(tdir).last.removes.size.toLong
        }
        t("txlogSnapshotRange", n)(TxLog.snapshotRange(
          spark, tdir, "doc_id", Some(4500L), Some(4599L)).count())
        // conjunctive skipping (round 14): a fixed-selectivity
        // three-predicate read must stay ~flat like the single-column
        // range read — extra predicates only shrink the kept file set
        t("txlogSnapshotWhere", n)(TxLog.snapshotWhere(spark, tdir, Seq(
          TxLog.Pred.Range("doc_id", Some(4500L), Some(4599L)),
          TxLog.Pred.NotNull("n_chars"),
          TxLog.Pred.In("lang", Seq("en", "de")))).count())
        t("txlogUpsert", n) {
          slice += 1
          TxLog.upsert(spark, tdir,
            docs.select("doc_id", "lang", "source", "n_chars")
              .where(col("doc_id").between(1000L * slice, 1000L * slice + 99L))
              .withColumn("source", lit("patched")),
            Seq("doc_id"))
          TxLog.commits(tdir).last.removes.size.toLong
        }
        // the sequence-aware MERGE (the streaming CDC sink's per-batch
        // op since r14): fixed-size source against the growing table —
        // the contested-key window is bounded by matched keys, so the
        // op must stay ~flat like plain upsert
        // slices stay inside the base id range (0..4999 — replica
        // copies stripe ids far above it) and clear of the other ops'
        var ou = 0L
        t("txlogUpsertOrdered", n) {
          ou += 1
          TxLog.upsertOrdered(spark, tdir,
            docs.select("doc_id", "lang", "source", "n_chars")
              .where(col("doc_id")
                .between(2300L + 200L * ou, 2399L + 200L * ou))
              .withColumn("source", lit("ordered"))
              .withColumn("n_chars", col("n_chars") + 1000000L),
            Seq("doc_id"), "n_chars")
          TxLog.commits(tdir).last.removes.size.toLong
        }
        // merge-on-read point delete (round 15): writes ONLY the
        // touched files' cumulative masks — no data-file rewrite — so
        // a fixed-selectivity point delete must stay ~FLAT as the
        // table grows 64× (the deletion-vector write-amplification
        // claim; compare against txlogDeleteRange's COW cost, which
        // rewrites the matched files' bytes). Fresh disjoint slice per
        // iteration, clear of the COW ops' ranges.
        var dv = 0L
        t("txlogDeleteVectored", n) {
          dv += 1
          TxLog.deleteVectored(spark, tdir,
            col("doc_id").between(3600L + 50L * dv, 3609L + 50L * dv))
          TxLog.dvAt(tdir).values.map(_._2).sum
        }
        // pruned read over the masked range: stats skipping + the
        // mask anti-join together must stay ~flat like the unmasked
        // range read above
        t("txlogReadMasked", n)(TxLog.snapshotRange(
          spark, tdir, "doc_id", Some(3650L), Some(3679L)).count())
        t("txlogCheckpointVacuum", n) {
          val cp = TxLog.checkpointLog(tdir)
          TxLog.vacuum(tdir, dropHistoryBefore = cp, retainMs = 0L).toLong
        }
        // the NET change feed over a fixed-size window (one upsert's
        // rewrite): reads only the window's files — must stay ~flat
        // as the table behind it grows 64×. Slices stay inside the
        // base id range (0..4999) and clear of the mutated ones.
        var nc = 0L
        t("txlogNetChanges", n) {
          nc += 1
          TxLog.upsert(spark, tdir,
            docs.select("doc_id", "lang", "source", "n_chars")
              .where(col("doc_id")
                .between(4100L + 200L * nc, 4199L + 200L * nc))
              .withColumn("source", lit("cdf")),
            Seq("doc_id"))
          val v = TxLog.latestVersion(tdir).get
          TxLog.netChanges(spark, tdir, fromV = v - 1).count()
        }
        // OPTIMIZE ZORDER rewrites the live set — the one
        // intentionally table-proportional op (like write)
        t("txlogOptimize", n) {
          TxLog.compactZOrdered(spark, tdir, "doc_id", "n_chars", 16)
          TxLog.liveFiles(tdir).size.toLong
        }
        // SQL row-level UPDATE through the DSv2 catalog (round 15):
        // fixed-selectivity statement against the growing table — the
        // runtime group filter bounds the rewrite to matched files,
        // so the wall must stay ~flat like the Scala upsert (runs
        // post-OPTIMIZE: the catalog serves mask-free snapshots).
        // rows = files removed by the rewrite commit (the bounded set)
        var su = 0L
        t("txlogSqlUpdate", n) {
          su += 1
          spark.sql(s"UPDATE graft.`$tdir` SET source = 'sqlupd' " +
            s"WHERE doc_id BETWEEN ${500L + 40L * su} AND ${509L + 40L * su}")
          TxLog.commits(tdir).last.removes.size.toLong
        }
        // zero-copy clone (round 15): hard-linked live files — O(live
        // files) METADATA work, so the wall must stay ~flat while the
        // table bytes behind it grow 64× (the zero-copy claim
        // measured). Fresh target per iteration.
        val cloneNonce = System.nanoTime()
        var cl = 0L
        t("txlogClone", n) {
          cl += 1
          val dst = s"$out/txclone_${cloneNonce}_${n}_$cl"
          TxLog.cloneTable(spark, tdir, dst)
          TxLog.liveFiles(dst).size.toLong
        }
        // metadata-only RENAME + a stats-pruned read THROUGH the
        // mapping on the clone: both must stay ~flat (the rename
        // touches zero data bytes at any scale; the mapped read pays
        // one extra Project)
        locally {
          val dst = s"$out/txclone_${cloneNonce}_${n}_1"
          var rn = 0L
          t("txlogRenameColumn", n) {
            rn += 1
            if (rn % 2 == 1) TxLog.renameColumn(dst, "source", "origin")
            else TxLog.renameColumn(dst, "origin", "source")
          }
          t("txlogMappedRead", n)(TxLog.snapshotRange(
            spark, dst, "doc_id", Some(4500L), Some(4599L)).count())
        }
        // streaming-sink auto-compaction (round 15): a 12-append burst
        // with autoCompactFiles = 8. The triggered compactToSize
        // rewrite is ∝ live bytes BY DESIGN (the maxFiles threshold is
        // the amortization knob), so the WALL of this row grows with
        // the table; the scale INVARIANT is the returned value — the
        // live-file count stays ≤ threshold+1 at every scale, which is
        // what keeps the sink's readers at a bounded per-scan file
        // count however long the stream runs.
        var ac = 0L
        t("txlogAutoCompactBurst", n) {
          ac += 1
          for (i <- 0 until 12) {
            TxLog.write(docs.select("doc_id", "lang", "source", "n_chars")
              .where(col("doc_id") === (4600L + 30L * ac + i)),
              tdir, "append")
            TxLog.maybeCompact(spark, tdir, maxFiles = 8)
          }
          TxLog.liveFiles(tdir).size.toLong
        }
        // bloom-index point lookup (round 15): a SEPARATE table
        // clustered on n_chars so doc_id lands scattered — min/max
        // stats keep all 32 files for an id lookup; the bloom keeps
        // ~1. The contrast row (un-indexed scattered lookup) scans
        // the full live set. Wall of the indexed lookup ∝ the ONE
        // kept file's bytes; the un-indexed one ∝ the table — the
        // gap IS the index's 100 TB claim.
        locally {
          val tb = s"$out/txbloom_$n"
          if (TxLog.latestVersion(tb).isEmpty) {
            TxLog.write(docs.select("doc_id", "lang", "source", "n_chars")
              .repartitionByRange(32, col("n_chars")), tb, "overwrite")
            TxLog.addBloomIndex(spark, tb, "doc_id",
              expectedItems = 20000L)
          }
          var q = 0L
          t("txlogBloomPoint", n) {
            q += 1
            TxLog.snapshotWhere(spark, tb,
              Seq(TxLog.Pred.Eq("doc_id", 500L + q))).count()
          }
          t("txlogPointNoIndex", n) {
            q += 1
            // the same id lookup WITHOUT skipping: full snapshot
            // scan — what every reader pays when no index exists
            TxLog.snapshot(spark, tb)
              .where(col("doc_id") === (500L + q)).count()
          }
          // bloom BACKFILL over the live set (round 17): tasks write
          // their own sidecars (the r16 driver-funnel fix) — driver
          // state is a (file, byte-count) census at every scale; wall
          // grows ∝ bytes scanned (one distributed pass), never ∝
          // filters held. rows = sidecars written (= live files).
          t("txlogBloomBackfill", n) {
            TxLog.dropBloomIndex(tb, "source")
            TxLog.addBloomIndex(spark, tb, "source",
              expectedItems = 20000L)
            TxLog.liveFiles(tb).size.toLong
          }
        }
        // SQL point-UPDATE in MERGE-ON-READ mode (round 16): the same
        // fixed-selectivity statement as txlogSqlUpdate against a
        // `write.dml.mode = merge-on-read` table — cost ∝ matched
        // rows + mask bytes, never file bytes, so the wall must stay
        // ~flat while the table grows 64×. rows = files removed by
        // the commit: 0 at EVERY scale (the no-rewrite invariant).
        locally {
          val tm = s"$out/txmor_$n"
          if (TxLog.latestVersion(tm).isEmpty) {
            TxLog.write(docs.select("doc_id", "lang", "source", "n_chars")
              .repartitionByRange(16, col("doc_id")), tm, "overwrite")
            TxLog.setTableProperty(tm, TxLog.DmlModeProp, TxLog.DmlModeMor)
          }
          var mu = 0L
          t("txlogSqlUpdateMor", n) {
            mu += 1
            spark.sql(s"UPDATE graft.`$tm` SET source = 'morupd' " +
              s"WHERE doc_id BETWEEN ${2600L + 40L * mu} " +
              s"AND ${2609L + 40L * mu}")
            TxLog.commits(tm).last.removes.size.toLong
          }
        }
        // Log-replay cost vs commit COUNT (round 14, the r13 verdict's
        // 500k-commits concern): a synthetic metadata-only log of
        // 250·n single-file commits (written directly — the replay
        // path never touches data bytes, so none exist). Three rows:
        // cold replay without a checkpoint must grow ∝ commits (the
        // honest baseline), cold replay FROM the checkpoint pointer
        // must stay ~flat (the fix), and the parse-cached hot path
        // (what a streaming sink's steady state pays) must stay ~flat.
        locally {
          val ldir = s"$out/txloglog_$n"
          val logp = java.nio.file.Paths.get(ldir, "_txlog")
          if (!java.nio.file.Files.isDirectory(logp)) {
            java.nio.file.Files.createDirectories(logp)
            for (i <- 0 until 250 * n) {
              val body =
                s"mode=append\nbatch=$i\nschema=id BIGINT\nadd=fake-$i.parquet\n"
              java.nio.file.Files.write(
                logp.resolve(f"$i%010d.txt"), body.getBytes("UTF-8")); ()
            }
          }
          t("txlogReplayCold", n) {
            TxLog.clearParseCache()
            TxLog.liveFiles(ldir).size.toLong
          }
          t("txlogReplayCached", n)(TxLog.liveFiles(ldir).size.toLong)
          t("txlogReplayCheckpointed", n) {
            if (TxLog.lastCheckpoint(ldir).isEmpty) TxLog.checkpointLog(ldir)
            TxLog.clearParseCache()
            TxLog.liveFiles(ldir).size.toLong
          }
        }
        // incremental curation (round 14 capstone): a fixed-size text
        // patch against a bronze table growing 64× — the maintained
        // curated table's increment (net feed → re-score → upsert +
        // MERGE-delete) must stay ~flat: every stage is bounded by the
        // change set, not the table
        locally {
          val bdir = s"$out/txlogcur_b_$n"; val cdir = s"$out/txlogcur_c_$n"
          def rm(p: String): Unit = {
            val root = java.nio.file.Paths.get(p)
            if (java.nio.file.Files.isDirectory(root)) {
              val w = java.nio.file.Files.walk(root)
              val all = try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
                finally w.close()
              all.sortBy(-_.getNameCount)
                .foreach(java.nio.file.Files.deleteIfExists(_)); ()
            }
          }
          rm(bdir); rm(cdir)
          TxLog.write(docs.select("doc_id", "text", "lang", "source")
            .repartitionByRange(16, col("doc_id")), bdir, "overwrite")
          TxLog.write(
            TextAnalysis.withQuality(TxLog.snapshot(spark, bdir))
              .where(col("quality") >= 0.675)
              .select("doc_id", "lang", "quality")
              .repartitionByRange(16, col("doc_id")), cdir, "overwrite")
          var ci = 0L
          t("txlogCuratedIncrement", n) {
            ci += 1
            val mark = TxLog.latestVersion(bdir).get
            TxLog.update(spark, bdir,
              col("doc_id").between(200L * ci, 200L * ci + 49L),
              Map("text" -> concat(col("text"), lit(" zz"))))
            graft.ext.Curation.curatedIncrement(spark, bdir, cdir, mark, 0.675)
          }
        }
        // streaming-source publish (round 14): a fixed-slice append to
        // a PUBLISHED table pays the normal commit + one hardlink per
        // new file + the watermark-tail replay — must stay ~flat as
        // the table behind it grows 64×
        locally {
          val pdir = s"$out/txlogpub_$n"
          if (!TxLog.isStreamSource(pdir)) {
            TxLog.write(docs.select("doc_id", "lang", "n_chars")
              .repartitionByRange(32, col("doc_id")), pdir, "overwrite")
            TxLog.publishAppends(pdir); ()
          }
          var pa = 0L
          t("txlogPublishedAppend", n) {
            pa += 1
            TxLog.write(docs.select("doc_id", "lang", "n_chars")
              .where(col("doc_id").between(100L * pa, 100L * pa + 99L))
              .coalesce(1), pdir, "append")
            TxLog.latestVersion(pdir).get
          }
        }
      }
      // the Avro container round trip (round 14): executor-side write
      // (one container per partition) and one-task-per-container read —
      // both must grow ~linearly with the corpus, no driver funnel
      t("avroWrite", n)(graft.ingest.Avro.writeAvro(
        docs.select("doc_id", "lang", "source", "n_chars"), s"$out/avro_$n"))
      t("avroRead", n)(graft.ingest.Avro.readAvro(spark, s"$out/avro_$n",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")).count())
    }
    spark.stop()
  }
}
