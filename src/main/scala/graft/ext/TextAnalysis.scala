package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash64.polyhash64

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All hot-path math is built-in `functions._` (codegen'd, no UDFs);
  * fingerprinting uses the native `PolyHash64` Catalyst expression.
  * Every operator is a per-row projection or an explode+groupBy — at
  * 100 TB the projections fuse into the scan and the token histogram is
  * a classic partial-agg shuffle on the token key.
  */
object TextAnalysis {

  /** Whitespace tokenization, phantom-free: `trim` strips only ASCII
    * spaces, so text opening with a tab/newline (ubiquitous in web
    * corpora) — or empty/whitespace-only text — used to yield a ""
    * token that entered every token statistic, frequency model and
    * vocabulary. With a `\s+` separator, empty strings can only appear
    * at the array boundaries (consecutive whitespace is one greedy
    * separator), so a single `array_remove(split(...), "")` yields the
    * phantom-free token list in ONE codegen'd regex pass — the earlier
    * regex-trim-then-split spelling paid two full-text regex scans per
    * evaluation, which doubled again inside percentile-cut compositions
    * that re-evaluate the expression on both sides of the cutoff.
    * Whitespace-only/empty text → empty array; NULL text stays NULL. */
  private def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  /** Per-document stats: token counts, distinct tokens, char counts,
    * type-token ratio, mean token length. Deterministic int/double
    * arithmetic (DuckDB-oracle parity safe). */
  def textStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    // NULL text → NULL counts (ansi-off size(NULL) is -1 — a negative
    // token count and a perfect type_token_ratio shipped as data);
    // n_spaces counts ALL whitespace separators, matching the \s+
    // tokenizer, so mean_token_len doesn't count tabs/newlines as
    // token characters
    val nullGuard = col("text").isNull
    docs.select(
      col("doc_id"),
      when(nullGuard, lit(null).cast("int"))
        .otherwise(size(t).cast("int")).as("n_tokens"),
      when(nullGuard, lit(null).cast("int"))
        .otherwise(size(array_distinct(t)).cast("int")).as("n_uniq_tokens"),
      length(col("text")).cast("int").as("n_chars_calc"),
      (length(col("text")) - length(regexp_replace(col("text"), "\\s", "")))
        .cast("int").as("n_spaces"))
      .withColumn("type_token_ratio",
        col("n_uniq_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("mean_token_len",
        (col("n_chars_calc") - col("n_spaces")).cast("double") /
          col("n_tokens").cast("double"))
  }

  /** BPE-ish pre-tokenization count: the GPT-2-style split regex
    * (contraction suffixes | space-prefixed letter runs | digit runs |
    * punctuation runs | whitespace) minus the lookahead (kept RE2-safe
    * so the DuckDB oracle can run the identical pattern). Counts the
    * pre-merge tokens a byte-level BPE would start from — the standard
    * cheap proxy for "model tokens" in a data pipeline. Pure
    * regexp_count projection, fused into the scan. */
  val bpeSplitPattern = "('(?:[sdmt]|ll|ve|re))|( ?\\p{L}+)|( ?\\p{N}+)|( ?[^\\s\\p{L}\\p{N}]+)|(\\s+)"

  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("int").as("n_ws_tokens"),
      regexp_count(col("text"), lit(bpeSplitPattern)).cast("int").as("n_bpe_tokens"))

  /** BPE merge learning (tokenizer-vocabulary induction) — the top
    * `nMerges` byte-pair merge rules from corpus statistics, the data
    * side of training a BPE tokenizer. Returns one row per learned
    * rule: (merge_rank, lhs, rhs, pair_freq).
    *
    * Scale shape — the standard one for BPE at corpus scale: the
    * CORPUS is touched exactly once (token explode → word-frequency
    * groupBy); every merge iteration then rewrites only the DISTINCT
    * word table (vocabulary-sized — KBs-to-MBs at any corpus size),
    * never the corpus. Like `dupClusters`, this operator is eager and
    * inherently sequential: each iteration materializes the rewritten
    * vocab (cache + count), collects the single argmax pair to the
    * driver (1 row — bounded), and rewrites with literal search
    * strings; total driver state is `nMerges` rows. A lazily-composed
    * unrolled plan would re-inline the whole chain 2^iterations times
    * (no subplan sharing — the curationFunnel lesson).
    *
    * Determinism: symbols start as characters joined by U+001F (the
    * corpus must not contain that control char — the standard
    * separator-sentinel trade, as in lineDedup's `sep`); each
    * iteration merges the (pair_freq DESC, lhs ASC, rhs ASC) argmax
    * pair; `replace` rewrites non-overlapping occurrences
    * left-to-right — greedy BPE semantics, identical in every engine.
    * Stops early (fewer rows out) if the vocabulary runs out of
    * adjacent pairs. */
  def bpeLearnMerges(docs: DataFrame, nMerges: Int = 8,
      driverThreshold: Long = 1000000L): DataFrame = {
    val SEP = "\u001f"
    val spark = docs.sparkSession
    var words = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(concat_ws(SEP, split(col("tok"), "")).as("w"), col("freq"))
      .cache()
    val nWords = words.count()
    // Adaptive small-vocab path (same trade as dupClusters' union-find
    // fast path): below the bounded threshold the word-frequency table
    // is vocab-sized driver state, and the merge loop runs in-memory
    // instead of paying nMerges x (job scheduling + cache + collect)
    // over KB-scale data -- the per-iteration fixed cost, not the pair
    // counting, dominates the distributed loop. Identical semantics:
    // same (pair_freq DESC, lhs ASC, rhs ASC) argmax, and Java's
    // String.replace rewrites non-overlapping occurrences
    // left-to-right exactly like the SQL `replace` below; equality is
    // spec-tested against the distributed path. Above the threshold:
    // the distributed loop, which assumes nothing fits anywhere.
    if (nWords <= driverThreshold) {
      var ws = words.collect().map(r => (r.getString(0), r.getLong(1)))
      words.unpersist()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var done = false
      for (i <- 1 to nMerges if !done) {
        val pf = scala.collection.mutable.Map.empty[(String, String), Long]
        ws.foreach { case (w, f) =>
          val syms = w.split(SEP, -1)
          var j = 0
          while (j < syms.length - 1) {
            val k = (syms(j), syms(j + 1))
            pf(k) = pf.getOrElse(k, 0L) + f
            j += 1
          }
        }
        if (pf.isEmpty) done = true
        else {
          // argmax by (freq DESC, lhs ASC, rhs ASC) in UTF-8 BINARY
          // order -- Spark's UTF8String comparison, which differs from
          // Scala's UTF-16 String order for supplementary characters;
          // the two paths must tie-break identically
          def u8 = (x: String) => x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          def lt(x: Array[Byte], y: Array[Byte]): Boolean = {
            var i = 0
            while (i < x.length && i < y.length) {
              val d = (x(i) & 0xff) - (y(i) & 0xff)
              if (d != 0) return d < 0
              i += 1
            }
            x.length < y.length
          }
          var best: ((String, String), Long) = null
          pf.foreach { e =>
            if (best == null) best = e
            else {
              val better = e._2 > best._2 ||
                (e._2 == best._2 && (lt(u8(e._1._1), u8(best._1._1)) ||
                  (java.util.Arrays.equals(u8(e._1._1), u8(best._1._1)) &&
                    lt(u8(e._1._2), u8(best._1._2)))))
              if (better) best = e
            }
          }
          val ((a, b), f) = best
          out += ((i, a, b, f))
          ws = ws.map { case (w, fr) => (w.replace(a + SEP + b, a + b), fr) }
        }
      }
      import spark.implicits._
      return out.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_freq")
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to nMerges if !exhausted) {
      val syms = split(col("w"), SEP)
      val best = words
        .select(col("freq"),
          explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1).as("a"),
            slice(syms, lit(2), size(syms) - 1).as("b"))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("freq")).as("pf"))
        .agg(min(struct((-col("pf")).as("npf"), col("a"), col("b"))).as("m"))
        .select(col("m.a"), col("m.b"), (-col("m.npf")).as("pf"))
        .collect()
      if (best.isEmpty || best(0).isNullAt(0)) exhausted = true
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        val pf = best(0).getLong(2)
        merges += ((i, a, b, pf))
        val next = words
          .select(replace(col("w"), lit(a + SEP + b), lit(a + b)).as("w"), col("freq"))
          .cache()
        next.count()
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_freq")
  }

  /** Apply learned BPE merges: per-document count of symbols after
    * rewriting every word with the merge rules in rank order — the
    * "tokens under the learned vocabulary" number packing budgets and
    * cost models actually need (whitespace counts over-estimate,
    * pre-merge counts under-estimate).
    *
    * `merges` is the (lhs, rhs) list from `bpeLearnMerges` (driver-side
    * — nMerges rows by contract). Scale shape (round 7, the
    * counts-not-instances rework): the merge chain rewrites only the
    * DISTINCT token table — vocabulary-sized, the same table the
    * learner iterates — not every token occurrence; the corpus side
    * collapses to per-doc (tok, cnt) counts (one map-combinable
    * groupBy off the scan) and joins the per-token symbol count on the
    * token key, so n_bpe_symbols = Σ cnt·n_sym in exact integer
    * arithmetic. The chained-replace projection is Zipf-deduplicated
    * work; AQE broadcasts the rewritten vocab when it is small. */
  def bpeApplyCount(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val SEP = "\u001f"
    val cnts = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val v0 = cnts.select(col("tok")).distinct()
      .select(col("tok"), concat_ws(SEP, split(col("tok"), "")).as("w"))
    val vocabSyms = merges.foldLeft(v0) { case (df, (a, b)) =>
      df.select(col("tok"),
        replace(col("w"), lit(a + SEP + b), lit(a + b)).as("w"))
    }.select(col("tok"), size(split(col("w"), SEP)).cast("long").as("n_sym"))
    cnts.join(vocabSyms, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("n_sym")).as("n_bpe_symbols"))
  }

  /** Global token frequency top-k: explode → hash-agg (partial+final)
    * → TakeOrderedAndProject. The canonical "word count at scale". */
  def tokenFreqTopK(docs: DataFrame, k: Int = 25): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count("*").as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Quality score in [0,1]: blend of type-token ratio, length band and
    * mean token length — the cheap lexical heuristics a pretraining
    * filter runs before anything model-based. Pure projection. */
  /** Append a `quality` column (pure per-row projection — composable
    * with other per-row derivations without a join; see Curation). */
  def withQuality(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("double")
    val nUniq = size(array_distinct(t)).cast("double")
    val ttr = nUniq / nTok
    val lenScore = least(nTok / lit(64.0), lit(1.0))
    // separator-aware mean length (same formula as textStats — the
    // earlier (length − (nTok−1))/nTok assumed exactly one space
    // between tokens, demoting double-spaced/CRLF sources by a whole
    // lenBand step); identical on single-spaced text
    val nWs = (length(col("text")) -
      length(regexp_replace(col("text"), "\\s", ""))).cast("double")
    val meanLen = (length(col("text")).cast("double") - nWs) / nTok
    val lenBand = when(meanLen.between(3.0, 9.0), 1.0).otherwise(0.5)
    docs.withColumn("quality",
      // NULL text → NULL quality (the withRepetition contract) — the
      // ansi-off -1 sizes otherwise compute a mid-distribution
      // 0.595313 that corrupts every corpus-relative cut
      when(col("text").isNull, lit(null).cast("double"))
        .otherwise(round((ttr * 0.5 + lenScore * 0.3 + lenBand * 0.2), 6)))
  }

  def qualityScore(docs: DataFrame): DataFrame =
    withQuality(docs).select(col("doc_id"), col("quality"))

  /** Classifier calibration report — reliability bins over any
    * (score ∈ [0, 1], boolean label) pair: per bin, row count, mean
    * predicted score, empirical positive rate, and their absolute gap
    * (the per-bin term of expected calibration error; ECE = the
    * n-weighted mean of `abs_gap`). A quality/toxicity/lang classifier
    * whose high-score bins aren't empirically positive is lying to
    * every threshold chosen from it — this is the dashboard that
    * catches it before a corpus-wide filter ships.
    *
    * Determinism: scores quantize to the house q6 integer BEFORE
    * anything else; bin assignment is pure integer arithmetic
    * ((q6·bins) div 10⁶, clamped), bin sums are decimal(38), and the
    * mean/rate/gap are fixed double expressions of exact integers.
    * Scale shape: ONE map-side-combinable groupBy on ≤ `bins` keys;
    * output is ≤ `bins` rows. */
  def calibrationReport(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, "need at least one bin")
    val q6 = round(col(scoreCol) * 1000000).cast("long")
    // a NULL score is unbinnable — least/greatest SKIP null args, so
    // it previously landed in the TOP bin (inflating n while its null
    // q6 escaped the sum: a deflated mean_score exactly where
    // thresholds get chosen); abstentions are excluded instead
    scored.where(col(scoreCol).isNotNull)
      .select(q6.as("q6"), col(labelCol).cast("boolean").as("__y"))
      .withColumn("bin",
        expr(s"greatest(least((q6 * $bins) div 1000000, ${bins - 1}), 0)")
          .cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("q6").cast("decimal(38,0)")).as("__sq"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("__sq").cast("double") / col("n").cast("double") / 1000000)
          .as("mean_score"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("frac_pos"))
      .withColumn("abs_gap", abs(col("mean_score") - col("frac_pos")))
  }

  /** Per-source quality scorecard — the crawl-prioritization report:
    * for every source, document count, mean lexical quality, and the
    * shape-rule pass rate. Sources whose scorecard degrades get
    * down-weighted in the next mix (see `Sampling.mixtureSample`).
    * Quality is integer-quantized (·10⁶) per doc before the per-source
    * sum, so the aggregate is engine-order-independent; one map-side
    * combinable groupBy. */
  def sourceScorecard(docs: DataFrame, minWords: Int = 20): DataFrame = {
    val g = gopherRules(docs, minWords)
      .select(col("doc_id"), shapePass(minWords).as("shape_pass"))
    val q = withQuality(docs)
      .select(col("doc_id"), col("source"),
        round(col("quality") * 1000000).cast("long").as("q6"))
    q.join(g, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q6")).as("sum_q6"),
        sum(when(col("shape_pass"), 1L).otherwise(0L)).as("n_shape_pass"))
      .withColumn("mean_quality",
        col("sum_q6").cast("double") / col("n_docs").cast("double") / 1000000)
      .withColumn("shape_pass_rate",
        col("n_shape_pass").cast("double") / col("n_docs").cast("double"))
  }

  /** Per-source lexical-diversity report — type-token ratio and hapax
    * rate (fraction of the source's vocabulary appearing exactly once)
    * over the whole source, not per document: the corpus-health number
    * that exposes template farms and log dumps (huge token counts,
    * collapsing type counts) which per-document quality scores miss.
    * A healthy natural-language source keeps hapax_rate roughly stable
    * as it grows; a self-repeating one decays toward zero.
    *
    * Scale shape: one map-side-combinable (source, token) count
    * groupBy — the same single vocabulary-keyed exchange every token
    * statistic pays, shrunk by the corpus repetition factor — then a
    * |sources|·|vocab|→|sources| rollup that combines map-side too.
    * Ratios are int64/int64 divisions, deterministic. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    lexicalDiversityFromCounts(sourceTokenCounts(docs))

  /** The (source, tok, cnt) table every per-source token statistic
    * derives from — exposed so compositions (`sourceHealthReport`)
    * can materialize the tokenize+count ONCE and feed every consumer,
    * instead of each branch re-paying the corpus explode (AQE stage
    * reuse does NOT rescue the naive composition: join-key
    * `isnotnull` pushdowns differ per branch, the exchanges stop
    * canonicalizing equal, and each branch re-plans its own tokenize
    * — the PlanSpec pin caught exactly that). */
  def sourceTokenCounts(docs: DataFrame): DataFrame = docs
    .select(col("source"), explode(tokens(col("text"))).as("tok"))
    .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))

  /** `lexicalDiversity` over a pre-built `sourceTokenCounts` table. */
  def lexicalDiversityFromCounts(counts: DataFrame): DataFrame = {
    counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_rate"))
  }

  /** Quality-score reliability diagram — calibration bins for the
    * cheap lexical quality score against the expensive Gopher shape
    * filter: decile-bucket every document by quality, report per-bin
    * count, mean quality, and Gopher pass rate. A monotone pass-rate
    * curve means the cheap score can PRE-GATE the expensive filter
    * (run Gopher only near the decision boundary); a flat one means
    * the two measure different things and the stack needs both.
    * Companion to `signalCorrelation` (Pearson summarizes to one
    * number; the bins show WHERE agreement breaks).
    *
    * Determinism: binning is integer arithmetic on the ·10⁶-quantized
    * score (bin = q6·bins div 10⁶, capped at bins−1 so quality = 1.0
    * lands in the top bin); per-bin mean rides the quantized sum. Two
    * scan-side projections joined on doc_id + one |bins|-row rollup. */
  def qualityCalibration(docs: DataFrame, bins: Int = 10,
      minWords: Int = 20): DataFrame = {
    val q = withQuality(docs).select(col("doc_id"),
      round(col("quality") * 1000000).cast("long").as("q6"))
    val g = gopherRules(docs, minWords).select(col("doc_id"), col("pass"))
    q.join(g, "doc_id")
      .select(least(expr(s"(q6 * $bins) div 1000000"), lit(bins - 1L))
        .as("bin"), col("q6"), col("pass"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q6")).as("sum_q6"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      .select(col("bin"), col("n_docs"),
        (col("sum_q6").cast("double") / col("n_docs").cast("double") /
          1000000).as("mean_quality"),
        col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"))
  }

  /** Inter-filter agreement (Cohen's kappa) — do two quality filters
    * agree beyond chance? Compares the corpus-relative quality cut
    * (keep ≥ `pct` quantile) against the Gopher shape filter as the
    * 2×2 contingency table plus kappa. Near-1 kappa means the filters
    * are redundant (drop the expensive one); near-0 means they prune
    * DIFFERENT documents and stacking them compounds loss — the
    * number a filter-stack review asks for first.
    *
    * Determinism & scale: the contingency counts are one map-side-
    * combinable 1-row aggregate over the joined flag projections; the
    * expected-agreement products ride decimal(38) (marginal products
    * overflow int64 at corpus scale); po/pe/kappa are fixed double
    * expressions from exact integers. kappa is NULL when pe = 1 (a
    * degenerate all-one-cell table has no chance-correction). */
  def filterAgreement(docs: DataFrame, pct: Double = 0.5,
      minWords: Int = 20): DataFrame = {
    val q = withQuality(docs).select(col("doc_id"), col("quality"))
    val cut = q.agg(expr(s"percentile(quality, $pct)").as("__cut"))
    val a = q.crossJoin(broadcast(cut))
      .select(col("doc_id"), (col("quality") >= col("__cut")).as("a"))
    val b = gopherRules(docs, minWords)
      .select(col("doc_id"), col("pass").as("b"))
    val dec = "decimal(38,0)"
    a.join(b, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .withColumn("po",
        (col("n11") + col("n00")).cast("double") / col("n").cast("double"))
      .withColumn("pe",
        ((col("n11") + col("n10")).cast(dec) * (col("n11") + col("n01")).cast(dec) +
          (col("n01") + col("n00")).cast(dec) * (col("n10") + col("n00")).cast(dec))
          .cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
      .withColumn("kappa",
        when(col("pe") === 1.0, lit(null).cast("double"))
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe"))))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        col("po"), col("pe"), col("kappa"))
  }

  /** Quality quartile tiers — bucket every document by the corpus'
    * own exact quality quantiles (RefinedWeb-style tiering: tier 4
    * feeds the high-quality mix, tier 1 gets aggressive filtering or
    * curriculum-late placement). One exact `percentile` over the
    * scored corpus (three cutoffs in one aggregate, broadcast as a
    * 1-row frame); the tier assignment is a scan-side projection. */
  def qualityTiers(docs: DataFrame): DataFrame = {
    val scored = withQuality(docs)
    val cuts = scored.agg(
      expr("percentile(quality, array(0.25, 0.5, 0.75))").as("__cuts"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("quality"),
        (lit(1) +
          when(col("quality") >= element_at(col("__cuts"), 1), 1).otherwise(0) +
          when(col("quality") >= element_at(col("__cuts"), 2), 1).otherwise(0) +
          when(col("quality") >= element_at(col("__cuts"), 3), 1).otherwise(0))
          .as("tier"))
  }

  /** Quality-signal correlation matrix — the calibration report for a
    * multi-signal curation stack: pairwise Pearson correlation between
    * the lexical quality score, the unigram-LM score, and the
    * repetition signal. Two signals correlating ~1 are redundant
    * filters (spend the compute once); a signal anti-correlated with
    * the rest is either the most informative or broken — either way
    * the number a curation dashboard needs before stacking thresholds.
    *
    * Determinism: signals quantize to integer 10⁻⁶ units first; all
    * five moment sums are EXACT decimal(38) integer aggregation (an
    * int64 Σx² overflows at corpus scale — the decimal-profiling
    * lesson), and the final Pearson combination is one fixed double
    * expression over the casted sums, identical IEEE ops either
    * engine.
    *
    * Scale shape: one per-row projection for the two scan-side signals
    * + the lmQuality join (its own map-combinable shuffles), then ONE
    * 1-row aggregate carrying 3×5 decimal sums; the 3-row matrix
    * explodes from that single row. */
  def signalCorrelation(docs: DataFrame): DataFrame = {
    val perRow = withRepetition(withQuality(docs))
      .select(col("doc_id"), col("quality"), col("repetition"))
    val lm = lmQuality(docs).select(col("doc_id"), col("mean_logprob"))
    val j = perRow.join(lm, "doc_id")
      .select(
        round(col("quality") * 1000000).cast("long").as("qq"),
        round(col("mean_logprob") * 1000000).cast("long").as("ql"),
        round(col("repetition") * 1000000).cast("long").as("qr"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val agg = j.agg(
      count(lit(1)).as("n"),
      sum(d38(col("qq"))).as("sx_ql_qq"), sum(d38(col("ql"))).as("sy_ql"),
      sum(d38(col("qq") * col("qq"))).as("sxx_qq"),
      sum(d38(col("ql") * col("ql"))).as("syy_ql"),
      sum(d38(col("qq") * col("ql"))).as("sxy_qq_ql"),
      sum(d38(col("qr"))).as("s_qr"),
      sum(d38(col("qr") * col("qr"))).as("sxx_qr"),
      sum(d38(col("qq") * col("qr"))).as("sxy_qq_qr"),
      sum(d38(col("ql") * col("qr"))).as("sxy_ql_qr"))
    def pearson(sx: Column, sy: Column, sxx: Column, syy: Column,
        sxy: Column, n: Column): Column = {
      val nd = n.cast("double")
      val (x, y, xx, yy, xy) = (sx.cast("double"), sy.cast("double"),
        sxx.cast("double"), syy.cast("double"), sxy.cast("double"))
      (nd * xy - x * y) / (sqrt(nd * xx - x * x) * sqrt(nd * yy - y * y))
    }
    agg.select(explode(array(
      struct(lit("quality").as("signal_x"), lit("lm").as("signal_y"),
        col("n").as("n_docs"),
        pearson(col("sx_ql_qq"), col("sy_ql"), col("sxx_qq"), col("syy_ql"),
          col("sxy_qq_ql"), col("n")).as("pearson")),
      struct(lit("quality").as("signal_x"), lit("repetition").as("signal_y"),
        col("n").as("n_docs"),
        pearson(col("sx_ql_qq"), col("s_qr"), col("sxx_qq"), col("sxx_qr"),
          col("sxy_qq_qr"), col("n")).as("pearson")),
      struct(lit("lm").as("signal_x"), lit("repetition").as("signal_y"),
        col("n").as("n_docs"),
        pearson(col("sy_ql"), col("s_qr"), col("syy_ql"), col("sxx_qr"),
          col("sxy_ql_qr"), col("n")).as("pearson")))).as("r"))
      .select(col("r.signal_x"), col("r.signal_y"), col("r.n_docs"),
        col("r.pearson"))
  }

  /** T5-style span corruption — the denoising-objective data prep:
    * mask `spanLen`-token spans covering `spanLen/stride` of each
    * document (15% at the 3/20 default), replace each masked span
    * with a sentinel `<extra_id_k>`, and emit the TARGET sequence
    * (sentinel + original span, concatenated in order) the
    * seq-to-seq trainer predicts.
    *
    * Deterministic by construction: spans start at positions ≡ a
    * per-document Knuth-bucket offset (mod stride) — the masked
    * fraction is exactly spanLen/stride, positions are reproducible
    * run-to-run and engine-to-engine (no rand()), and the per-doc
    * offset de-correlates mask positions across documents. Docs
    * shorter than one full span at the offset yield no mask and pass
    * through with an empty target. Pure scan-side HOF projection —
    * no shuffle, no UDF. */
  def spanCorruption(docs: DataFrame, spanLen: Int = 3,
      stride: Int = 20): DataFrame = {
    require(spanLen >= 1 && stride > spanLen, "need spanLen < stride")
    val ws = tokens(col("text"))
    val off = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L),
      lit(stride.toLong)).cast("int")
    // position i (0-based) is masked iff i >= off and (i-off) mod
    // stride < spanLen AND the span it belongs to fits entirely
    val base = docs.select(col("doc_id"), ws.as("ws"), off.as("off"))
      .withColumn("n", size(col("ws")))
      // number of COMPLETE spans that fit: starts off, off+stride, ...
      .withColumn("n_spans",
        greatest(lit(0), ((col("n") - col("off") - spanLen) / stride + 1)
          .cast("int")))
    def spanOf(i: Column) = // span index of position i, -1 if unmasked
      when(i >= col("off") &&
        pmod(i - col("off"), lit(stride)) < spanLen &&
        ((i - col("off")) / stride).cast("int") < col("n_spans"),
        ((i - col("off")) / stride).cast("int")).otherwise(lit(-1))
    val corrupted = array_join(
      filter(
        transform(col("ws"), (x, i) =>
          when(spanOf(i) < 0, x)
            .when(pmod(i - col("off"), lit(stride)) === 0,
              concat(lit("<extra_id_"), spanOf(i).cast("string"), lit(">")))
            .otherwise(lit(null).cast("string"))),
        x => x.isNotNull),
      " ")
    // sequence(0, -1) yields [0, -1] (inferred negative step), so the
    // no-span case must short-circuit to the empty target explicitly
    val targets = when(col("n_spans") > 0, array_join(
      flatten(transform(sequence(lit(0), col("n_spans") - 1), k =>
        concat(
          array(concat(lit("<extra_id_"), k.cast("string"), lit(">"))),
          slice(col("ws"), col("off") + k * stride + 1, lit(spanLen))))),
      " ")).otherwise(lit(""))
    base.select(col("doc_id"), col("n").cast("int").as("n_tokens"),
      col("n_spans"), corrupted.as("corrupted"), targets.as("targets"))
  }

  /** DSIR selection — the SELECTION step of data selection via
    * importance resampling: score with `dsirWeights`, then keep the
    * top `frac` of the corpus by mean log-ratio using the exact
    * corpus quantile as the cutoff (corpus-relative, so the selector
    * tracks distribution drift instead of a hand-picked constant).
    * Composition of two oracle-checked pieces; one extra 1-row
    * percentile broadcast over the scored frame. The NARROW
    * (doc_id, score) result of the weights pipeline is cached — the
    * cutoff aggregate and the keep filter both consume it, and
    * without the cache each consumer re-runs the pipeline's three
    * corpus shuffles (no exchange reuse across the branches; 16
    * bytes/doc of cache vs a recomputed token pipeline is the same
    * eager trade dupClusters makes). */
  def dsirSelect(docs: DataFrame, targetPred: Column,
      frac: Double = 0.5): DataFrame = {
    // Cache the multi-shuffle weight table once, collect the scalar
    // cut (the one job that materializes the cache), and return a LAZY
    // filter over the cached plan. The r13 spelling added an eager
    // localCheckpoint to fix the cache leak and paid for it 3× (floor
    // 0.43 s/1.9 cpu → 1.46 s/10.8 cpu at sf0.1): checkpointing a
    // query-proportional output re-executes the arm outside the
    // cache/codegen path — the round-10 bm25 lesson. MEMORY_ONLY
    // bounds the leak instead: a stale weights cache is LRU-evicted
    // under storage pressure (never spilled and pinned like
    // MEMORY_AND_DISK), and the lazy filter's lineage recomputes
    // correctly if that happens.
    val wts = dsirWeights(docs, targetPred)
      .select(col("doc_id"), col("mean_logratio"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val cutVal = wts
      .agg(expr(s"percentile(mean_logratio, ${1.0 - frac})").as("__cut"))
      .collect()(0).getDouble(0)
    wts.where(col("mean_logratio") >= lit(cutVal))
      .select(col("doc_id"), col("mean_logratio"))
  }

  /** Tokenizer fertility report — per language, model tokens per
    * whitespace word (the BPE-regex pre-tokenization count over the
    * whitespace count): the observability number that says how many
    * training tokens a language's text actually costs, and the first
    * diagnostic when a tokenizer under-serves a language (fertility
    * spikes). Two scan-side regexp counts, one per-lang
    * map-combinable rollup, one double division per output row. */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws"),
        regexp_count(col("text"), lit(bpeSplitPattern)).cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))

  /** Contrastive crop pairs — two deterministic pseudo-random token
    * spans per document (Contriever/SimCSE-style positive-pair
    * generation for retriever pretraining: two views of one document
    * are a positive pair, everything else in the batch is a
    * negative). Crop starts are Knuth buckets over the doc id (and a
    * derived second stream id·31+7), so pairs are reproducible
    * run-to-run and engine-to-engine — no rand(). Docs shorter than
    * the crop length drop out. Pure scan projection. */
  def contrastiveCrops(docs: DataFrame, w: Int = 10): DataFrame = {
    // Sampling.bucket's constants with a per-row modulus (the number
    // of valid crop starts varies by document length)
    def bkt(id: Column, m: Column): Column =
      pmod(pmod(id, lit(1000003L)) * lit(2654435761L), m)
    val t = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= w)
      .withColumn("__m", (size(col("ws")) - w + 1).cast("long"))
    t.select(col("doc_id"),
        (bkt(col("doc_id"), col("__m")) + 1).cast("int").as("a_start"),
        (bkt(col("doc_id") * 31 + 7, col("__m")) + 1).cast("int").as("b_start"),
        col("ws"))
      .select(col("doc_id"), col("a_start"), col("b_start"),
        array_join(slice(col("ws"), col("a_start"), lit(w)), " ").as("span_a"),
        array_join(slice(col("ws"), col("b_start"), lit(w)), " ").as("span_b"))
  }

  /** Canonical text normalization — the preprocessing pass run before
    * any hashing/dedup/tokenization so byte-different spellings of the
    * same text collapse: Unicode NFC composition (native
    * `NfcNormalize` expression — combining sequences fold into
    * precomposed forms), lowercasing, whitespace runs collapsed to
    * single spaces, edges trimmed. Pure scan projection (no shuffle,
    * no UDF — the NFC step is a codegen'd native expression); DuckDB's
    * `nfc_normalize` implements the same UAX #15 algorithm, which is
    * what makes the pass oracle-checkable. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(
        lower(graft.functions.NfcNormalize.nfcNormalize(col(textCol))),
        "\\s+", " ")).as("text_norm"))
      .select(col("doc_id"), col("text_norm"),
        length(col("text_norm")).cast("int").as("n_chars_norm"))

  /** Curriculum ordering — the data-ordering step of curriculum
    * training: documents are staged easy→hard by corpus-relative
    * quality (phase 1 = top third, descending), and within each phase
    * shuffled deterministically (Knuth bucket, id tie-break) so a
    * loader reading in `curriculum_rank` order sees high-quality data
    * first with no intra-phase ordering bias. Returns (doc_id,
    * quality, phase, curriculum_rank) with a GLOBAL contiguous rank.
    *
    * Scale shape: phase cuts are one exact-percentile 1-row broadcast
    * (same machinery as qualityTiers); the global rank is NOT a
    * single-reducer (or single-reducer-per-phase) window — the
    * row_number window partitions by (phase, bucket), so the rank
    * fan-out is phases×10000 reducer groups, each holding ~1/10000th
    * of a phase. Global contiguity comes from per-(phase, bucket) base
    * offsets: a phases·10000-row count rollup, prefix-summed with a
    * window over that ROLLUP (bounded by config, not corpus size) and
    * joined back broadcast — the stableRowIds / packShards offset
    * pattern. Ordering is total and engine-reproducible:
    * (phase ASC, bucket ASC, id ASC). */
  def curriculumOrder(docs: DataFrame, phases: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phases >= 2, "need at least 2 phases")
    // pinned eagerly (r18): three consumers (the percentile cuts, the
    // offset counts, the final rank join) each planned their own
    // quality projection (tokenize + distinct + regex per doc, the
    // operator's whole cost). The pin is (doc_id, quality) plus the
    // carried doc columns — quality is 2 cols of the narrow docs frame.
    val scored = Pin.eager(withQuality(docs).select(col("doc_id"), col("quality")))
    val fracs = (1 until phases).map(i => i.toDouble / phases)
      .mkString("array(", ", ", ")")
    val cuts = scored.agg(expr(s"percentile(quality, $fracs)").as("__cuts"))
    // phase 1 holds the HIGHEST-quality slice: count cuts at or above
    val phased = scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("quality"),
        (1 until phases).map(i =>
          when(col("quality") >= element_at(col("__cuts"), phases - i), 1)
            .otherwise(0)).reduce(_ + _)
          .as("__above"))
      .select(col("doc_id"), col("quality"),
        (lit(phases) - col("__above")).as("phase"),
        Sampling.bucket(col("doc_id"), 10000).as("__bucket"))
    val counts = phased.groupBy(col("phase"), col("__bucket"))
      .agg(count(lit(1)).as("__n"))
    // prefix sum over the (phase, bucket) ROLLUP — ≤ phases·10000 rows
    // regardless of corpus size, so the empty partitionBy is bounded
    val wOff = Window.orderBy(col("phase").asc, col("__bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val base = counts
      .withColumn("__base", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("phase"), col("__bucket"), col("__base"))
    val w = Window.partitionBy(col("phase"), col("__bucket"))
      .orderBy(col("doc_id").asc)
    phased.join(broadcast(base), Seq("phase", "__bucket"))
      .withColumn("curriculum_rank", col("__base") + row_number().over(w))
      .select(col("doc_id"), col("quality"), col("phase"), col("curriculum_rank"))
  }

  /** Percentile-thresholded quality filter — auto-tuned cutoffs: keep
    * documents at or above the corpus' `pct` quality quantile instead
    * of a hand-picked constant (the threshold tracks the corpus as it
    * drifts). Exact `percentile` (linear interpolation, ≡ DuckDB
    * quantile_cont — the pin_q6 parity rule), computed once as a
    * 1-row broadcast; the filter itself stays scan-side. */
  def qualityPercentileFilter(docs: DataFrame, pct: Double = 0.25): DataFrame = {
    val scored = withQuality(docs)
    val cutoff = scored.agg(expr(s"percentile(quality, $pct)").as("__cut"))
    scored.crossJoin(broadcast(cutoff))
      .where(col("quality") >= col("__cut"))
      .select(col("doc_id"), col("quality"))
  }

  /** Stopword-profile language ID (n-gram heuristic, SURVEY-mandated
    * stand-in for a real model): per-language score = fraction of
    * tokens found in that language's closed-class word list, plus a
    * CJK-codepoint override for zh. Argmax via `greatest` over
    * (score, lang) structs — all built-ins, no UDF. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "du", "ich", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "je", "ne", "pas"))

  def langScore(text: Column, lang: String): Column = {
    val t = tokens(lower(text))
    // NULL text → NULL score (the ansi-off -1 sizes computed
    // (-1)/(-1) = 1.0 for EVERY language, so null docs were labeled
    // at full confidence)
    when(text.isNull, lit(null).cast("double"))
      .otherwise(size(array_intersect(t, array(stopwords(lang).map(lit): _*)))
        .cast("double") / size(t).cast("double"))
  }

  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val cjk = length(regexp_replace(col(textCol), "[^\\u4e00-\\u9fff]", ""))
    val candidates = stopwords.keys.toSeq.sorted.map(l =>
      struct(langScore(col(textCol), l).as("score"), lit(l).as("lang")))
    val best = greatest(candidates: _*)
    // undecidable inputs (NULL or blank text) get NULL prediction and
    // confidence, never a confident arbitrary label
    val blank = col(textCol).isNull ||
      regexp_replace(col(textCol), "\\s", "") === ""
    docs.withColumn("lang_pred",
      when(blank, lit(null).cast("string"))
        .otherwise(when(cjk > 0, "zh").otherwise(best.getField("lang"))))
      .withColumn("lang_conf",
        when(blank, lit(null).cast("double"))
          .otherwise(when(cjk > 0, lit(1.0))
            .otherwise(round(best.getField("score"), 6))))
  }

  /** Language-metadata mismatch audit — per source, how often the
    * n-gram language detector (`langId`) disagrees with the `lang`
    * column the source SHIPPED: crawl metadata lies (declared-lang
    * headers, mislabeled dumps), and a source whose mismatch rate
    * spikes is feeding wrong-language text into every per-language
    * quota, tokenizer budget, and eval slice keyed off the metadata
    * column. The standard fix-or-drop triage table.
    *
    * Scale shape: `langId` is a pure scan projection (stopword arrays
    * are literals); the rollup is one map-side-combinable |sources|-
    * row groupBy; the rate is a single double division. */
  def langMismatch(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang_pred") =!= col("lang"), 1L).otherwise(0L))
          .as("n_mismatch"))
      .select(col("source"), col("n_docs"), col("n_mismatch"),
        (col("n_mismatch").cast("double") / col("n_docs").cast("double"))
          .as("mismatch_rate"))

  /** Overlapping token-window chunking — long documents split into
    * `chunkTokens`-token windows advancing by `chunkTokens - overlap`
    * (the context-window prep step of a training pipeline; overlap
    * preserves cross-boundary context). A doc yields
    * `max(1, ceil((n - overlap) / step))` chunks; the last window
    * clamps at the end; short docs pass through as one chunk.
    * Pure projection + generator — fused into the scan, no shuffle;
    * the token array is materialized in a child projection (HOF-lambda
    * re-evaluation rule, see Dedup.shinglesFromWords). */
  def chunk(docs: DataFrame, chunkTokens: Int = 128, overlap: Int = 32): DataFrame = {
    require(chunkTokens > overlap, "chunk must exceed overlap")
    val step = chunkTokens - overlap
    docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        greatest(lit(1),
          ceil((size(col("ws")) - lit(overlap)).cast("double") / step)
            .cast("int")).as("nch"))
      .select(col("doc_id"), col("ws"),
        posexplode(transform(sequence(lit(0), col("nch") - 1),
          k => concat_ws(" ", slice(col("ws"), k * step + 1, lit(chunkTokens)))))
          .as(Seq("chunk_no", "chunk_text")))
      .select(col("doc_id"), col("chunk_no"), col("chunk_text"),
        least(lit(chunkTokens), size(col("ws")) - col("chunk_no") * step)
          .cast("int").as("n_chunk_tokens"))
  }

  // ---- PII scrubbing -------------------------------------------------

  /** Redaction patterns — RE2-safe (no lookaround/backrefs) so the
    * DuckDB oracle runs the IDENTICAL regexes; \b is the ASCII word
    * boundary both engines support. Applied in order: emails first
    * (their local parts may contain digits), then dotted IPv4 (removes
    * the dots a phone pattern must not see), then strict NNN-NNN-NNNN
    * phones. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII scrubbing — the redaction pass every pretraining pipeline
    * runs before shipping text. Pure regexp projection (fused into the
    * scan, no shuffle); counts are measured on the ORIGINAL text so
    * downstream can quarantine high-PII sources. */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col(textCol),
        lit(emailPattern), lit("<EMAIL>")),
        lit(ipv4Pattern), lit("<IP>")),
        lit(phonePattern), lit("<PHONE>")).as("clean_text"),
      regexp_count(col(textCol), lit(emailPattern)).cast("int").as("n_emails"),
      regexp_count(col(textCol), lit(ipv4Pattern)).cast("int").as("n_ips"),
      regexp_count(col(textCol), lit(phonePattern)).cast("int").as("n_phones"))

  /** Repetition ratio — the "looping text" quality signal: 1 −
    * distinct/total over word 3-grams (clamped shingle boundary
    * semantics shared with Dedup: a doc under 3 tokens is one shingle,
    * ratio 0). Pure projection. */
  def repetitionScore(docs: DataFrame, w: Int = 3): DataFrame =
    withRepetition(docs, w).select(col("doc_id"), col("n_grams"),
      col("n_uniq_grams"), col("repetition"))

  /** Augmenting form of `repetitionScore` — adds the three repetition
    * columns to the input frame instead of projecting them out, so
    * compositions (`Curation.pretrainingCorpus`) can fuse the signal
    * into the same scan-side projection as lang-ID and lexical quality
    * rather than paying a corpus-wide join per per-row tier. */
  def withRepetition(docs: DataFrame, w: Int = 3): DataFrame = {
    val t = tokens(col("text"))
    // n_grams is pure arithmetic on the token count (every window
    // position yields a gram, duplicates included; under w tokens the
    // clamp gives the single short shingle). n_uniq counts distinct
    // shingles via the native fused HashedShingles expression — one
    // codegen'd pass, no per-gram string building — which shares the
    // string path's exact boundary semantics and the standard
    // distinct-on-hash ≡ distinct-on-string trade (~|sh|²/2⁶⁴ per
    // doc) that every shingle-keyed dedup operator here already
    // makes (see Dedup.hashedShingled). ~10× cheaper than the
    // concat_ws + array_distinct-on-strings formulation it replaces.
    // Null text needs an EXPLICIT guard: the engine runs with
    // spark.sql.ansi.enabled=false (Engine.prepare), where legacy
    // sizeOfNull makes size(null) return -1 — without the guard a null
    // text would score n_grams=1, n_uniq_grams=-1, repetition=2.0
    // (outside [0,1], and silently failing any repetition<=max filter
    // downstream) instead of propagating null like every other signal
    // here. when-clamp, not greatest, for the same reason: greatest
    // SKIPS nulls.
    val nullText = col("text").isNull
    docs.withColumn("n_grams",
        when(nullText, lit(null))
          .when(size(t) - (w - 1) < 1, lit(1))
          .otherwise(size(t) - (w - 1)).cast("int"))
      .withColumn("n_uniq_grams",
        when(nullText, lit(null))
          .otherwise(size(graft.functions.HashedShingles.hashedShingles(t, w)))
          .cast("int"))
      .withColumn("repetition",
        lit(1.0) - col("n_uniq_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Gopher-style document quality rules — the rule-based filter set
    * (word-count band, mean word length band, symbol-to-word ratio,
    * bullet/ellipsis line fractions, alphabetic-word fraction, required
    * stop-words) that web-scale pretraining pipelines apply before any
    * model-based scoring. Emits every signal plus the combined `pass`
    * flag so callers can audit which rule fired (filtering on `pass`
    * is one `where`).
    *
    * All signals are per-row projections over the token/line arrays —
    * fused into the scan, no shuffle; ratios are single IEEE double
    * divisions over exact integers (oracle-parity safe). Line rules
    * split on newline; single-line documents simply score 0 on both
    * line fractions (the rules still bind). */
  val requiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(docs: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val d = docs.select(col("doc_id"),
      tokens(col("text")).as("w"),
      tokens(lower(col("text"))).as("tl"),
      split(col("text"), "\n").as("lines"),
      regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("int").as("n_symbols"))
    val nW = size(col("w"))
    val nLines = size(col("lines"))
    val scored = d.select(
      col("doc_id"),
      nW.cast("int").as("n_words"),
      (length(concat_ws("", col("w"))).cast("double") / nW.cast("double"))
        .as("mean_word_len"),
      (size(filter(col("w"), x => x.rlike("[A-Za-z]"))).cast("double") /
        nW.cast("double")).as("frac_alpha_words"),
      (col("n_symbols").cast("double") / nW.cast("double")).as("symbol_ratio"),
      (size(filter(col("lines"), l =>
        trim(l).startsWith("-") || trim(l).startsWith("*") ||
          trim(l).startsWith("•"))).cast("double") /
        nLines.cast("double")).as("frac_bullet_lines"),
      (size(filter(col("lines"), l => trim(l).endsWith("...")))
        .cast("double") / nLines.cast("double")).as("frac_ellipsis_lines"),
      size(array_intersect(col("tl"),
        array(requiredWords.map(lit): _*))).cast("int").as("n_required_hits"))
    scored.withColumn("pass",
      shapePass(minWords, maxWords) &&
        col("frac_bullet_lines") <= 0.9 &&
        col("frac_ellipsis_lines") <= 0.3 &&
        col("n_required_hits") >= 2)
  }

  /** The 4-rule SHAPE-pass predicate over `gopherRules` columns — the
    * single source of truth for every consumer that filters on shape
    * (the streaming shape filter, the curation chain, the scorecard):
    * a threshold tuned here changes them all together, instead of a
    * copy drifting silently. `gopherRules.pass` composes this with the
    * line-shape and required-word rules. */
  def shapePass(minWords: Int = 20, maxWords: Int = 100000): Column =
    col("n_words").between(minWords, maxWords) &&
      col("mean_word_len").between(3.0, 10.0) &&
      col("symbol_ratio") <= 0.1 &&
      col("frac_alpha_words") >= 0.8

  /** Corpus vocabulary size, exact vs HLL sketch (`approx_count_
    * distinct`): the sketch is the 100 TB path — fixed-size state,
    * partial-aggregatable, no giant distinct shuffle; the exact count
    * is the verification twin at test scale. `rsd` = target relative
    * standard deviation of the HLL estimate. */
  /** CCNet-style language-model quality score — the perplexity-filter
    * analog with the corpus itself as the model: per-document mean
    * unigram log-probability under the corpus token distribution.
    * Low (very negative) mean ⇒ rare-token-heavy / junk text; high ⇒
    * common fluent tokens — the standard pre-training quality gate
    * (CCNet buckets corpora by exactly this kind of LM score).
    *
    * Determinism: per-token log-probs are quantized to integers
    * (`round(ln(tf/total)·10^6)` as long) BEFORE the per-doc sum, so
    * the aggregate is exact integer addition — no float-summation
    * order dependence between partitions or engines; the one double
    * division at the end is a single IEEE op both sides.
    *
    * Scale shape (round 7): the token stream is first collapsed to
    * per-document (tok, cnt) COUNTS — a map-side-combinable groupBy —
    * and every downstream stage (frequency model, score join, per-doc
    * rollup with Σ cnt·q) runs over distinct (doc, tok) pairs instead
    * of raw token instances. Natural-language token streams are
    * Zipf-heavy, so the counts table is a fraction of the instance
    * stream: the model-side join shuffles shrink by that factor, and
    * because the model derives FROM the counts table its exchange is
    * computed once and reused (tokenization runs once, not per
    * branch). The corpus total stays a 1-row broadcast; no driver
    * state, vocab never collected. Identical output: Σ_instances q =
    * Σ_distinct cnt·q in exact int64 arithmetic. */
  def lmQuality(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // The collapsed counts are materialized ONCE (eager, lineage-cut):
    // the three consumers below (frequency model, corpus total, score
    // join) are agg-over-agg chains that Catalyst MERGES into three
    // independent tokenize→aggregate plans — canonical-equality reuse
    // never fires across them (r18 measurement: the tokenize exchange
    // ran 3× per invocation, 25 s → 6 s executor time once pinned, and
    // at corpus scale the duplicate passes triple the operator's scan
    // cost). Pin.eager rather than a lazy cache: the consumers race a
    // cold cache under AQE's concurrent materialization, so the fill
    // must complete before the fan-out.
    val cnts = Pin.eager(
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt")))
    val freqs = cnts.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
    val total = freqs.agg(sum(col("tf")).as("total"))
    val scored = cnts.join(freqs, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("cnt"),
        round(log(col("tf").cast("double") / col("total").cast("double"))
          * 1000000).cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("q")).as("sum_q_logprob"))
      .withColumn("mean_logprob",
        col("sum_q_logprob").cast("double") / col("n_tokens").cast("double")
          / 1000000)
  }

  /** Held-out LM scoring — `lmQuality` against a SEPARATE training
    * corpus: per-document mean add-1-smoothed unigram log-probability
    * of `score` documents under `train`'s token distribution, plus
    * the OOV rate. This is the LM data-quality eval loop proper:
    * self-scored lmQuality cannot detect a filter that overfits its
    * own corpus (the corpus always scores well under its own
    * frequencies); held-out perplexity of a disjoint split can.
    * Smoothing: p(tok) = (tf_train + 1) / (total_train + V + 1) with
    * V = train vocab size — unseen tokens get the uniform +1 mass, so
    * every document scores finitely and the OOV class is explicit.
    *
    * Determinism: the same quantized-log contract as `lmQuality`
    * (q = round(ln p · 10⁶) as int64; per-doc sums are int64-safe —
    * bounded by doc length × |q|max, never corpus-proportional); two
    * double divisions per output row.
    *
    * Scale shape: both sides collapse to (doc, tok)/(tok) COUNTS
    * before any join (tokens never ride a join); the frequency join is
    * token-keyed on collapsed counts; the train stats are a 1-row
    * broadcast; output is |score docs| rows. */
  def lmQualityHeldOut(train: DataFrame, score: DataFrame): DataFrame = {
    val cnts = score
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    // NOT pinned (r18, measured): tf's two consumers (the 1-row stats
    // rollup and the score join) do re-run the train tokenize, but the
    // duplicate runs OVERLAP inside one job while an eager pin is a
    // serializing barrier — BenchOne floor 0.87 s pinned vs 0.28 s
    // unpinned. The pin template pays off only when the duplicated
    // subtree is expensive relative to the idle cores it could overlap
    // on (see lmQuality's cnts, where it is).
    val tf = train.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val stats = tf.agg(sum(col("tf")).as("total"), count(lit(1)).as("vocab"))
    val scored = cnts.join(tf, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("cnt"),
        col("tf").isNull.cast("long").as("oov"),
        round(log((coalesce(col("tf"), lit(0L)) + 1L).cast("double")
          / (col("total") + col("vocab") + 1L).cast("double")) * 1000000)
          .cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("q")).as("sum_q_logprob"),
        sum(col("cnt") * col("oov")).as("n_oov"))
      .withColumn("mean_logprob",
        col("sum_q_logprob").cast("double") / col("n_tokens").cast("double")
          / 1000000)
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** CCNet's per-domain LM bucketing, completed: each document's
    * corpus-LM score normalized WITHIN ITS SOURCE — a z-score against
    * the source's own score distribution plus the head/middle/tail
    * tertile label CCNet actually ships. Absolute LM scores are not
    * comparable across domains (legal text is "perplexing" relative to
    * a web-heavy model without being junk); normalizing per source is
    * what makes one quality knob usable corpus-wide.
    *
    * Determinism: the per-doc score collapses to one quantized long
    * (`q_doc = round(Σq/n)`, both operands exact), tertile cuts are
    * the exact weighted `percentile` over collapsed (q_doc, freq)
    * counts (the lengthQuantiles/pin_q6 interpolation contract),
    * moments are decimal(38) sums, z the eventAnomaly expressions.
    *
    * Scale shape: NO per-source sort or ntile window — the cuts come
    * from a |sources·distinct-scores|-bounded count rollup and join
    * back broadcast; bucketing is then a scan-side CASE. lmQuality's
    * counts-collapsed chain does the heavy lifting once. */
  def lmQualityBuckets(docs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    // eager pin (r18): the cuts/moments branch and the bucket join
    // would otherwise each re-execute the whole lmQuality chain
    // (measured 2× op cost — the clusterTopTerms double-build shape),
    // and a lazy cache is raced by AQE's concurrent stage
    // materialization.
    val lq = Pin.eager(lmQuality(docs)
      .withColumn("q_doc",
        round(col("sum_q_logprob").cast("double")
          / col("n_tokens").cast("double")).cast("long"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id"))
    val stats = lq.groupBy(col("source"), col("q_doc"))
      .agg(count(lit(1)).as("__f"))
      .groupBy(col("source"))
      .agg(expr("percentile(q_doc, array(0.3333333333333333D," +
          " 0.6666666666666666D), __f)").as("__c"),
        sum(col("__f")).as("n_docs"),
        sum(col("q_doc").cast(dec) * col("__f")).as("s1"),
        sum(col("q_doc").cast(dec) * col("q_doc").cast(dec) * col("__f"))
          .as("s2"))
      .select(col("source"), col("n_docs"),
        element_at(col("__c"), 1).as("cut_lo"),
        element_at(col("__c"), 2).as("cut_hi"),
        col("s1"), col("s2"))
    lq.join(broadcast(stats), "source")
      .withColumn("mean_q",
        col("s1").cast("double") / col("n_docs").cast("double"))
      .withColumn("var_q",
        (col("s2").cast("double") - col("s1").cast("double")
          * col("s1").cast("double") / col("n_docs").cast("double"))
          / col("n_docs").cast("double"))
      .select(col("doc_id"), col("source"), col("q_doc"),
        // <= 0: double rounding of the exact moment sums can dip a
        // constant group's variance slightly negative — NULL, not NaN
        when(col("var_q") <= 0.0, lit(null).cast("double"))
          .otherwise((col("q_doc").cast("double") - col("mean_q"))
            / sqrt(col("var_q"))).as("z"),
        when(col("q_doc").cast("double") >= col("cut_hi"), "head")
          .when(col("q_doc").cast("double") >= col("cut_lo"), "middle")
          .otherwise("tail").as("ccnet_bucket"))
  }

  /** TF-IDF top terms per document — the classic distinctive-term
    * extractor (topic tagging, keyword indexing, cluster labeling).
    * Score = tf · round(ln(N/df)·10⁶): the idf factor is quantized to
    * an integer per TERM before the per-doc ranking, so scores are
    * exact int64 products and the top-k cut is engine-reproducible
    * (ties broken by token text).
    *
    * Scale shape: one (doc, tok) count agg, one distinct+count agg for
    * document frequencies (both map-side combinable, shuffled on the
    * token key), a 1-row broadcast for N, and a per-doc top-k window —
    * row_number ≤ k gets WindowGroupLimit map-side pruning. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // tf materialized once; df derives FROM tf (one row per (doc, tok)
    // already — count per tok ≡ the old toks.distinct() rollup), so the
    // corpus is tokenized ONCE instead of twice and the join + rollup
    // both read the pinned counts (r18: the second tokenize+distinct
    // exchange was the operator's single largest stage)
    val tf = Pin.eager(
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("q_tfidf").desc, col("tok").asc)
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf") * round(log(col("n_docs").cast("double") /
          col("df").cast("double")) * 1000000).cast("long")).as("q_tfidf"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** c-TF-IDF cluster labeling (the BERTopic shape): top-`m`
    * distinctive terms per embedding cluster, scoring each term by its
    * in-cluster frequency × a cluster-level idf — the "what IS this
    * topic cluster" dashboard that makes a k-means/SemDeDup partition
    * auditable (and the basis for cluster-level keep/drop curation
    * decisions). `assign` is any (vec_id, cluster) table —
    * `kmeansAssign` output in the gate — joined to documents by the
    * aligned-id convention.
    *
    * Score = tf_{c,t} · round(ln(K/df_t)·10⁶) with K = number of
    * clusters and df_t = clusters containing t — exactly
    * `tfidfTopTerms` with clusters as the "documents", sharing its
    * determinism contract (idf quantized per term, exact int64
    * products, ties (score DESC, tok ASC)).
    *
    * Scale shape: one doc→cluster hash join (narrow — the assignment
    * table is two columns), one (cluster, tok) count groupBy
    * (map-side combinable), df as a rollup OF that table (no second
    * tokenize), K a 1-row broadcast, and the per-cluster top-m window
    * WindowGroupLimit-pruned. |clusters·vocab| intermediate, never
    * corpus-row-proportional after the first count. The assignment is
    * pinned and every branch (count join, K) derives from the pin —
    * the K branch would otherwise re-execute the whole upstream
    * (kmeans) pipeline, the knnPageRank double-build lesson; the tiny
    * (≤ K·m-row) output is returned lazy. */
  def clusterTopTerms(docs: DataFrame, assign: DataFrame,
      m: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // eager pins (r18): the lazy assignment cache raced AQE's
    // concurrent branches (the K rollup and the count join each
    // re-ran the upstream kmeans pipeline — 2 duplicate assignment
    // exchanges measured), and `tf` has two consumers (df rollup +
    // scored join) that otherwise each re-run the doc⋈assign tokenize.
    // Pins are the 2-col assignment and the (cluster, tok) counts —
    // K·vocab-bounded, never corpus rows.
    val a = Pin.eager(
      assign.select(col("vec_id").as("doc_id"), col("cluster")))
    val tf = Pin.eager(docs.join(a, "doc_id")
      .select(col("cluster"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("cluster"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val kCnt = a.agg(countDistinct(col("cluster")).as("n_clusters"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("q_ctfidf").desc, col("tok").asc)
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(kCnt))
      .select(col("cluster"), col("tok"), col("tf"), col("df"),
        (col("tf") * round(log(col("n_clusters").cast("double") /
          col("df").cast("double")) * 1000000).cast("long")).as("q_ctfidf"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= m)
      .drop("rk")
  }

  /** BM25 top-k retrieval — the standard lexical ranking function
    * (Okapi BM25, Lucene-style non-negative idf) over the corpus for a
    * fixed query-term set: the scoring half of building a retrieval /
    * RAG index on the corpus, and the hard-negative source for
    * training retrievers.
    *
    *   score(d) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    *   idf(q)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Determinism: each (doc, term) contribution is computed in one
    * fixed-association double expression (mirrored verbatim by the
    * DuckDB twin), quantized to integer ·10⁶, and the per-doc score is
    * the exact int64 sum; the top-k cut orders (score DESC, doc_id
    * ASC).
    *
    * Scale shape (round-7 rework): document lengths are a PURE
    * PROJECTION (size of the token array) and the corpus stats a
    * 1-row broadcast of it — the full-vocabulary (doc, tok) count
    * shuffle the first cut paid carried every distinct term only to
    * throw all but |query| of them away. The only aggregation runs
    * over tokens already FILTERED to the query terms (the isin sits
    * directly on the generate output, scan-side), so the counts
    * shuffle is query-proportional, not vocabulary-proportional; df
    * is a |query|-row broadcast; the scored join shuffles two NARROW
    * doc_id-keyed frames; the top-k cut is TakeOrderedAndProject —
    * no global sort. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
    // both proxies pinned eagerly (r18): dlen has two consumers (the
    // corpus stats + the score join) and qcnts two (dfreq + the score
    // join); un-pinned, each consumer planned its own corpus tokenize —
    // 4 tokenize passes per invocation (the dfreq branch additionally
    // defeated ReuseExchange by being pruned to a distinct aggregate).
    // dlen is 2 longs/doc; qcnts is query-proportional.
    val dlen = Pin.eager(base.select(col("doc_id"),
      size(col("ws")).cast("long").as("dl")))
    val stats = dlen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val qcnts = Pin.eager(base.select(col("doc_id"), explode(col("ws")).as("tok"))
      .where(col("tok").isin(queryTerms.distinct: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = qcnts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = qcnts.join(broadcast(dfreq), "tok")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(
          log((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
              / (col("df").cast("double") + 0.5) + 1.0)
            * (col("tf").cast("double") * (k1 + 1))
            / (col("tf").cast("double") + lit(k1)
              * (lit(1.0 - b) + lit(b) * col("dl").cast("double")
                * col("n_docs").cast("double") / col("total_dl").cast("double")))
            * 1000000).cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("q")).as("q_bm25"), count(lit(1)).as("n_terms"))
      .orderBy(col("q_bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Batch BM25 retrieval — queries as DATA, not code: a (query_id,
    * term) DataFrame drives any number of query sets through ONE
    * compiled plan (`bm25TopK`'s Seq signature recompiles the plan —
    * analysis, optimization, codegen — per query set; a serving loop
    * over thousands of queries pays that fixed cost once here).
    * Returns per-query top-k: (query_id, doc_id, q_bm25, n_terms),
    * ties (score DESC, doc_id ASC).
    *
    * Work sharing: term statistics are computed ONCE over the UNION
    * vocabulary of all queries — tf and df are query-independent, so
    * each (doc, term) contribution is scored once and fanned out to
    * the queries containing the term by a broadcast join (overlapping
    * query sets share their term work). Scale shape mirrors
    * `bm25TopK`: the token filter is a broadcast semi-style join
    * against the |union vocab|-row term table sitting directly on the
    * generate output (scan-side — the counts shuffle stays
    * query-proportional, never vocabulary-proportional); dfreq and the
    * corpus stats broadcast; the per-query top-k is a row_number
    * window WindowGroupLimit prunes map-side (a global sort+limit
    * cannot express per-query cuts). The query table must be
    * driver-small (it broadcasts twice) — thousands of queries × terms
    * is narrow rows, fine; corpus-sized query tables are a different
    * operator (that is a join-reranking pipeline, not batch retrieval). */
  def bm25MultiTopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qterms = queries.select(col("query_id"), col("term")).distinct()
    val qvocab = qterms.select(col("term").as("tok")).distinct()
    val base = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
    // both proxies pinned eagerly (r18) — same 4-tokenize-pass shape
    // and fix as bm25TopK above
    val dlen = Pin.eager(base.select(col("doc_id"),
      size(col("ws")).cast("long").as("dl")))
    val stats = dlen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val qcnts = Pin.eager(base.select(col("doc_id"), explode(col("ws")).as("tok"))
      .join(broadcast(qvocab), "tok")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = qcnts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-(doc, term) contribution — identical double association and
    // ·10⁶ quantization as bm25TopK (the oracle parity contract)
    val contrib = qcnts.join(broadcast(dfreq), "tok")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        round(
          log((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
              / (col("df").cast("double") + 0.5) + 1.0)
            * (col("tf").cast("double") * (k1 + 1))
            / (col("tf").cast("double") + lit(k1)
              * (lit(1.0 - b) + lit(b) * col("dl").cast("double")
                * col("n_docs").cast("double") / col("total_dl").cast("double")))
            * 1000000).cast("long").as("q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("q_bm25").desc, col("doc_id").asc)
    contrib
      .join(broadcast(qterms.select(col("query_id"), col("term").as("tok"))), "tok")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("q")).as("q_bm25"), count(lit(1)).as("n_terms"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("q_bm25"), col("n_terms"))
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack et al. 2009): given two per-query rankings
    * (query_id, doc_id, rank), score every candidate
    * Σ_arms 1/(c + rank) and keep the per-query top-k. This is how
    * lexical (BM25) and vector (ANN) arms merge in production RAG
    * serving — rank-space fusion needs no score calibration between
    * arms, which is the whole point (BM25 integer scores and cosine
    * floats are incomparable; ranks always are).
    *
    * Determinism & scale: both arms are top-k slivers (query-
    * proportional, never corpus-proportional), the full-outer join
    * runs on the sliver's (query_id, doc_id) key, the fused score is
    * one fixed double expression (two correctly-rounded divisions
    * added in arm order), and the final per-query top-k is a
    * WindowGroupLimit-prunable rank window. */
  def rrfFuse(armA: DataFrame, armB: DataFrame, k: Int = 5,
      c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = armA.select(col("query_id"), col("doc_id"),
      col("rank").as("rank_a"))
    val b = armB.select(col("query_id"), col("doc_id"),
      col("rank").as("rank_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    a.join(b, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)))
      .withColumn("__fr", row_number().over(w))
      .where(col("__fr") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_score"),
        col("rank_a"), col("rank_b"))
  }

  /** Ranked-retrieval evaluation — recall@k, MRR, and binary-gain
    * nDCG@k of a ranked `run` (query_id, doc_id, rank) against a
    * relevance set `gold` (query_id, doc_id): the metrics loop that
    * closes the retrieval stack (BM25 / ANN / RRF arms produce runs;
    * this scores them — e.g. "does the lexical arm find what embedding
    * search finds", or run-vs-editorial-qrels in a search-quality
    * pipeline).
    *
    *   recall@k = |run_k ∩ gold| / |gold|
    *   MRR      = 1 / rank of the first relevant hit (0 if none)
    *   nDCG@k   = Σ_hits 1/log₂(rank+1)  /  Σ_{i≤min(k,|gold|)} 1/log₂(i+1)
    *
    * Determinism: per-position gains are quantized to integers
    * (`round(10⁶/(ln(r+1)/ln 2))` as long — the ln-ratio spelling, so
    * both engines evaluate the identical expression rather than a
    * library log2), DCG/IDCG are exact int64 sums, and
    * recall/MRR/nDCG are single double divisions of exact integers.
    *
    * Scale shape: both inputs are query-proportional top-k slivers
    * (never corpus-proportional — the run is already cut at k, gold
    * at the qrel set); the hit join runs on the (query_id, doc_id)
    * sliver key, IDCG ranks gold inside a per-query window
    * (WindowGroupLimit-prunable at i ≤ k), and the output is
    * |queries| rows. */
  def retrievalMetrics(run: DataFrame, gold: DataFrame,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def gain(r: Column): Column =
      round(lit(1000000.0) / (log(r.cast("double") + 1.0) / log(lit(2.0))))
        .cast("long")
    val rk = run.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank")).where(col("rank") <= k)
    val g = gold.select(col("query_id"), col("doc_id")).distinct()
    val gw = Window.partitionBy(col("query_id")).orderBy(col("doc_id").asc)
    val gcnt = g.groupBy(col("query_id")).agg(count(lit(1)).as("n_gold"))
    val idcg = g.withColumn("i", row_number().over(gw).cast("long"))
      .where(col("i") <= k)
      .groupBy(col("query_id")).agg(sum(gain(col("i"))).as("q_idcg"))
    val hits = rk.join(g, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("rank")).as("first_hit"),
        sum(gain(col("rank"))).as("q_dcg"))
    gcnt.join(idcg, "query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_gold"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_gold").cast("double")).as("recall_at_k"),
        when(col("first_hit").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_hit").cast("double")).as("mrr"),
        coalesce(col("q_dcg"), lit(0L)).as("q_dcg"), col("q_idcg"),
        (coalesce(col("q_dcg"), lit(0L)).cast("double")
          / col("q_idcg").cast("double")).as("ndcg"))
  }

  /** Per-language out-of-vocabulary rate against the corpus' own
    * top-`vocabSize` token vocabulary — the first tokenizer-budget
    * diagnostic: a language whose OOV rate spikes is being served
    * byte-fallback splinters by any vocabulary this corpus trains,
    * before a single BPE merge is computed (companion to
    * `tokenizerFertility`, which needs a trained tokenizer; this
    * needs only counts).
    *
    * Scale shape: corpus token counts are one map-side-combinable
    * groupBy; the top-V cut is sort+limit → TakeOrderedAndProject
    * (map-side pruned, never a vocabulary-wide single-reducer window),
    * broadcast at |V| rows; the per-language rollup joins (lang, tok)
    * counts against that broadcast. Ties at the count boundary break
    * (cnt DESC, tok ASC) — deterministic in both engines. */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val toks = docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
    val topV = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1L).as("__iv"))
    toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(topV), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(when(col("__iv").isNull, col("cnt")).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Per-source document-length quantiles (exact p50/p90/p99 of the
    * whitespace token count) — the truncation/packing planning number:
    * `packShards` budgets and context-window cutoffs are chosen off
    * this table, and a source whose p99 runs away is a concatenated-
    * dump detector.
    *
    * Scale shape: lengths collapse to (source, n_tokens, freq) COUNTS
    * first — map-side combinable, bounded by distinct lengths, not
    * corpus rows — and the exact percentile aggregates over the
    * weighted counts (Spark's `percentile(col, p, frequency)`), so
    * per-group aggregation state is |distinct lengths|, never the
    * source's row count. Same linear interpolation as DuckDB's
    * quantile_cont (the pin_q6 parity rule). */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("n_tokens"))
      .agg(count(lit(1)).as("__f"))
      .groupBy(col("source"))
      .agg(expr("percentile(n_tokens, array(0.5, 0.9, 0.99), __f)").as("__q"),
        sum(col("__f")).as("n_docs"))
      .select(col("source"), col("n_docs"),
        element_at(col("__q"), 1).as("p50_tokens"),
        element_at(col("__q"), 2).as("p90_tokens"),
        element_at(col("__q"), 3).as("p99_tokens"))

  /** C4-style line-level cleaning — the rule set behind the C4 corpus,
    * applied line-by-line then page-level: keep lines that end in a
    * terminal punctuation mark, have at least `minLineWords` words,
    * and contain neither "javascript" nor curly braces; drop the whole
    * page if it mentions "lorem ipsum" anywhere or retains fewer than
    * `minLines` lines. Returns surviving documents with the cleaned
    * text and line counts.
    *
    * Pure per-row projection + filter (no shuffle, no explode — the
    * line array is filtered in place and rejoined); fuses into the
    * scan at any scale. */
  def c4Clean(docs: DataFrame, textCol: String = "text",
      minLineWords: Int = 5, minLines: Int = 3): DataFrame = {
    val keepLine = (l: Column) =>
      trim(l).rlike("[.!?\"']$") &&
        size(split(trim(l), "\\s+")) >= minLineWords &&
        !lower(l).contains("javascript") &&
        !l.contains("{") && !l.contains("}")
    val kept = docs
      .select(col("doc_id"), col(textCol),
        split(col(textCol), "\n").as("lines"))
      .select(col("doc_id"), col(textCol),
        size(col("lines")).cast("int").as("n_lines"),
        filter(col("lines"), keepLine).as("kept"))
    kept
      .where(!lower(col(textCol)).contains("lorem ipsum") &&
        size(col("kept")) >= minLines)
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("int").as("n_lines_kept"),
        array_join(col("kept"), "\n").as("text_clean"))
  }

  /** DSIR-style importance weighting — data selection via importance
    * resampling: score every document by how much more likely its
    * tokens are under a TARGET distribution (a trusted/high-quality
    * subset, `targetPred`) than under the raw corpus distribution.
    * log w(x) = Σ_tok [ln p_target(tok) − ln p_raw(tok)] with add-one
    * smoothing over the shared corpus vocabulary (so target-OOV tokens
    * are defined and penalized). Select by thresholding or top-k on
    * `mean_logratio` — the cheap distribution-matching selector run
    * before any model-based scoring.
    *
    * Determinism: per-token log-ratios are quantized to integers
    * (·10⁶, rounded) BEFORE the per-doc sum — exact integer addition,
    * no float-summation order dependence (same contract as lmQuality).
    *
    * Scale shape (round 7, same counts-not-instances rework as
    * `lmQuality`): the stream collapses to per-document (tok, cnt)
    * counts first; ONE frequency shuffle over the counts builds both
    * models (tf_raw and tf_t are two aggregates of the same groupBy —
    * `is_t` is constant per document, so it rides the count key for
    * free); totals are a 1-row broadcast; the score join and the
    * Σ cnt·q per-doc rollup run over distinct pairs, not instances,
    * and the counts exchange is computed once and reused. */
  def dsirWeights(docs: DataFrame, targetPred: Column): DataFrame = {
    val toks = docs.select(col("doc_id"), targetPred.as("is_t"),
      explode(tokens(col("text"))).as("tok"))
    // pinned eagerly (r18): two consumers (the freqs model + the score
    // join) each planned their own tokenize+explode chain
    val cnts = Pin.eager(toks.groupBy(col("doc_id"), col("is_t"), col("tok"))
      .agg(count(lit(1)).as("cnt")))
    val freqs = cnts.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("tf_raw"),
        sum(when(col("is_t"), col("cnt")).otherwise(0L)).as("tf_t"))
    val totals = freqs.agg(sum(col("tf_raw")).as("tot_raw"),
      sum(col("tf_t")).as("tot_t"), count(lit(1)).as("vocab"))
    val scored = cnts.join(freqs, "tok")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("cnt"),
        round((log((col("tf_t") + 1L).cast("double") /
            (col("tot_t") + col("vocab")).cast("double")) -
          log((col("tf_raw") + 1L).cast("double") /
            (col("tot_raw") + col("vocab")).cast("double"))) * 1000000)
          .cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("q")).as("sum_q_logratio"))
      .withColumn("mean_logratio",
        col("sum_q_logratio").cast("double") / col("n_tokens").cast("double")
          / 1000000)
  }

  /** Bigram LM quality — the sequence-aware upgrade of `lmQuality`:
    * per-document mean conditional log-probability ln P(next|tok)
    * under the corpus bigram model (MLE: bigram count / context
    * count). Catches shuffled-word salad that a unigram model scores
    * as fluent — tokens can all be common while their TRANSITIONS are
    * rare. Same determinism contract as lmQuality: per-bigram
    * log-probs are integer-quantized before the per-doc sum.
    *
    * Scale shape: bigram instances are a PURE PROJECTION — adjacent
    * token slices zipped and exploded inside the scan stage (no
    * corpus-wide shuffle+sort, which is what a per-doc window `lead`
    * would cost just to pair each token with its neighbor). Round 7:
    * the instance stream then collapses to per-document
    * (tok, next, cnt) counts — map-side combinable — and the bigram
    * model, context model, score join, and Σ cnt·q per-doc rollup all
    * run over the counts table; its exchange is built once and reused
    * across the three consumers, so tokenization + zipping happen one
    * time. Documents with fewer than 2 tokens have no bigrams and
    * drop out. */
  def bigramLmQuality(docs: DataFrame): DataFrame = {
    // pinned eagerly (r18): three consumers (bf, cf, the score join)
    // each planned their own tokenize+bigram-explode chain — the same
    // duplicate-subtree fix as bigramPmi. Counts-collapsed, never
    // token instances.
    val cnts = Pin.eager(bigramCounts(docs))
    val bf = cnts.groupBy(col("tok"), col("next")).agg(sum(col("cnt")).as("bf"))
    val cf = cnts.groupBy(col("tok")).agg(sum(col("cnt")).as("cf"))
    val scored = cnts.join(bf, Seq("tok", "next")).join(cf, Seq("tok"))
      .select(col("doc_id"), col("cnt"),
        round(log(col("bf").cast("double") / col("cf").cast("double"))
          * 1000000).cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("q")).as("sum_q_logprob"))
      .withColumn("mean_logprob",
        col("sum_q_logprob").cast("double") / col("n_bigrams").cast("double")
          / 1000000)
  }

  /** `bigramLmQuality` with a frequency-floored bigram model — the
    * 100 TB variant. The exact version joins the full token stream
    * back against an UNPRUNED bigram-frequency model: up to vocab²
    * keys, and by Zipf's law dominated by singletons — at corpus
    * scale the model-side shuffle is the operator's bottleneck while
    * contributing almost no information (a singleton bigram's MLE
    * log-prob is just ln(1/cf)). This variant keeps only bigrams with
    * count ≥ `minCount` in the model and backs every pruned
    * occurrence off to count 1 (LEFT join + COALESCE): the model
    * shrinks by the singleton mass (typically 10–100×, often to
    * broadcast size), the token-stream side is untouched, and the
    * unigram context model (vocab-sized, cheap) stays exact.
    *
    * Approximation contract: a pruned bigram has true count in
    * [1, minCount), so its score error is bounded by ln(minCount−1);
    * at `minCount = 2` ONLY singletons are pruned and backoff count 1
    * equals their true count — the output is bit-for-bit identical to
    * `bigramLmQuality` (the gate entry + TextSpec pin exactly this),
    * so the scale knob costs nothing until it is actually turned. */
  def bigramLmQualityPruned(docs: DataFrame, minCount: Long = 2): DataFrame = {
    // pinned eagerly (r18): same three-consumer shape as bigramLmQuality
    val cnts = Pin.eager(bigramCounts(docs))
    val bf = cnts.groupBy(col("tok"), col("next")).agg(sum(col("cnt")).as("bf"))
      .where(col("bf") >= minCount)
    val cf = cnts.groupBy(col("tok")).agg(sum(col("cnt")).as("cf"))
    val scored = cnts.join(bf, Seq("tok", "next"), "left").join(cf, Seq("tok"))
      .select(col("doc_id"), col("cnt"),
        round(log(coalesce(col("bf"), lit(1L)).cast("double")
            / col("cf").cast("double"))
          * 1000000).cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("q")).as("sum_q_logprob"))
      .withColumn("mean_logprob",
        col("sum_q_logprob").cast("double") / col("n_bigrams").cast("double")
          / 1000000)
  }

  /** `bigramLmQuality` with Jelinek–Mercer interpolation — the
    * smoothing production LM scorers actually use: P(next|tok) =
    * λ·P_MLE(next|tok) + (1−λ)·P_unigram(next), so unseen-in-context
    * but globally common continuations score by their unigram mass
    * instead of falling off the MLE cliff (the backoff-to-1 trick in
    * the pruned variant bounds error; interpolation removes it).
    * λ = 0.75 by default — DYADIC, so λ and 1−λ are exact in IEEE
    * doubles and the oracle's literals are bit-identical.
    *
    * Scale shape: the bigram counts collapse + model-exchange reuse of
    * `bigramLmQuality`, plus one unigram model join on the `next` key
    * (vocab-sized, broadcast when small) and the corpus-total 1-row
    * broadcast. Per-(doc,pair) contributions quantize ·10⁶ before the
    * exact Σ cnt·q rollup. */
  def bigramLmQualityInterp(docs: DataFrame, lambda: Double = 0.75): DataFrame = {
    // pinned eagerly (r18): same three-consumer shape as bigramLmQuality
    val cnts = Pin.eager(bigramCounts(docs))
    val bf = cnts.groupBy(col("tok"), col("next")).agg(sum(col("cnt")).as("bf"))
    val cf = cnts.groupBy(col("tok")).agg(sum(col("cnt")).as("cf"))
    val toks = docs.select(explode(tokens(col("text"))).as("u"))
    val uf = toks.groupBy(col("u")).agg(count(lit(1)).as("uf"))
    val total = uf.agg(sum(col("uf")).as("total"))
    val scored = cnts.join(bf, Seq("tok", "next")).join(cf, Seq("tok"))
      .join(uf.withColumnRenamed("u", "next"), Seq("next"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("cnt"),
        round(log(
          lit(lambda) * (col("bf").cast("double") / col("cf").cast("double"))
            + lit(1.0 - lambda)
            * (col("uf").cast("double") / col("total").cast("double")))
          * 1000000).cast("long").as("q"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("q")).as("sum_q_logprob"))
      .withColumn("mean_logprob",
        col("sum_q_logprob").cast("double") / col("n_bigrams").cast("double")
          / 1000000)
  }

  /** (doc_id, tok, next, cnt) — per-document counts of adjacent token
    * pairs, formed by zipping each document's token array against
    * itself shifted by one, exploding, and a map-side-combinable
    * count. Pure scan-side projection feeding one partial-agg
    * exchange: the window-`lead` formulation this replaced shuffled
    * and sorted the ENTIRE exploded token stream on doc_id just to
    * see each token's neighbor, which the token array already holds
    * in order; the counts collapse (round 7) shrinks every downstream
    * model join from token instances to distinct per-doc pairs. Docs
    * with <2 tokens yield no pairs (same as lead's null-next
    * filter). */
  /** Top-k collocations by pointwise mutual information — the classic
    * phrase detector (word2vec/Gensim "phrases" stage, multi-word-
    * entity mining before tokenizer training):
    *
    *   PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ),
    *   P(ab) = c_ab/N_bi,  P(a) = c_a/N_uni
    *
    * `minCount` prunes the Zipf tail BEFORE any join (a hapax bigram
    * has huge PMI and zero value — the standard noise gate).
    *
    * Determinism: the probability ratio is a fixed-association chain
    * of correctly-rounded double ops over exact int64 counts (each
    * cast exact below 2⁵³), quantized round(ln·10⁶) per bigram; the
    * top-k cut orders (q_pmi DESC, tok ASC, next ASC).
    *
    * Scale shape: bigram and unigram counts are map-side-combinable
    * groupBys (the bigram table prunes to c_ab ≥ minCount before
    * joining); the two unigram joins are token-keyed narrow shuffles;
    * totals are 1-row broadcasts; the top-k is sort+limit →
    * TakeOrderedAndProject. Nothing pairwise, nothing driver-side. */
  def bigramPmi(docs: DataFrame, minCount: Long = 5,
      k: Int = 50): DataFrame = {
    // both collapsed count tables pinned eagerly (r18): `bi` has two
    // consumers (the n_bi total + the scored join) and `uni` three
    // (n_uni + the c_a/c_b join sides); Catalyst plans each consumer
    // as its own tokenize/bigram-explode chain, so the corpus was
    // tokenized 3× and bigram-exploded 2× per invocation (measured:
    // 2 × 5.2 MB bigram exchanges + 3 duplicate tokenize map stages).
    // Both pins are counts-collapsed (vocab- / vocab²-bounded), never
    // token instances.
    val bi = Pin.eager(bigramCounts(docs)
      .groupBy(col("tok"), col("next")).agg(sum(col("cnt")).as("c_ab")))
    val uni = Pin.eager(docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val nBi = bi.agg(sum(col("c_ab")).as("n_bi"))
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    bi.where(col("c_ab") >= minCount)
      .join(uni.select(col("tok"), col("c").as("c_a")), "tok")
      .join(uni.select(col("tok").as("next"), col("c").as("c_b")), "next")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .select(col("tok"), col("next"), col("c_ab"),
        round(log(
          (col("c_ab").cast("double") / col("n_bi").cast("double"))
            / ((col("c_a").cast("double") / col("n_uni").cast("double"))
              * (col("c_b").cast("double") / col("n_uni").cast("double"))))
          * 1000000).cast("long").as("q_pmi"))
      .orderBy(col("q_pmi").desc, col("tok").asc, col("next").asc)
      .limit(k)
  }

  private def bigramCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1).as("tok"),
        slice(col("ws"), lit(2), size(col("ws")) - 1).as("next"))).as("p"))
      .select(col("doc_id"), col("p.tok").as("tok"), col("p.next").as("next"))
      .groupBy(col("doc_id"), col("tok"), col("next"))
      .agg(count(lit(1)).as("cnt"))

  def vocabSize(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .agg(countDistinct(col("token")).as("exact_vocab"),
        approx_count_distinct(col("token"), rsd).as("approx_vocab"))

  /** Feature-hashed document vectors (the hashing trick): every token
    * hashes to one of `dim` buckets; a document's vector is its bucket
    * histogram. The model-free text→vector bridge — its output feeds
    * the vector operators (kmeansAssign, lshTopK, semanticDedup) when
    * no learned embedding exists, closing the text→cluster/dedup loop
    * entirely inside the engine.
    *
    * The token hash is a char-level polynomial Lehmer hash
    * (acc·31 + codepoint, mod 2³¹−1, seed 7) — portable integer
    * arithmetic any engine reproduces from a 31^k power table (unlike
    * seeded xxhash64), which is what makes the whole pipeline
    * oracle-checkable. Computed by the native codegen expression
    * `LehmerHash32` (the fused per-token loop stays inside
    * WholeStageCodegen; the interpreted HOF spelling is kept in the
    * spec as the equivalence reference).
    *
    * Scale shape: explode → per-(doc, bucket) count (map-side
    * combinable) → per-doc dense assembly from the ≤dim sparse rows.
    * One shuffle on (doc_id, bucket), one on doc_id. */
  def featureHashVectors(docs: DataFrame, dim: Int = 64): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val h = graft.functions.LehmerHash32.lehmerHash32(col("tok"))
    toks.select(col("doc_id"), pmod(h, lit(dim.toLong)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
      .select(col("doc_id"), col("n_tokens"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L)))
          .as("features"))
  }

  /** Whole-document fingerprint via the native PolyHash64 expression —
    * order-sensitive 64-bit rolling hash of the normalized text. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      polyhash64(regexp_replace(lower(col("text")), "\\s+", " "))
        .as("fingerprint"))

  /** Linear quality-classifier INFERENCE over hashed n-gram features —
    * the fasttext-shaped filter that gates most public pretraining
    * corpora (a tiny linear model scores every document; the corpus
    * keeps the positive margin). The model is DATA, not code: a dense
    * `(bucket, w)` weight table (quantized ·10³ integer weights, one
    * row per bucket in [0, dim)) stands in for the trained artifact.
    *
    * Features are fasttext's: unigrams plus adjacent-bigram grams
    * (joined with U+0001), each hashed into `dim` buckets by the same
    * portable char-level Lehmer hash as `featureHashVectors`. Margin =
    * Σ w[h(f)] / |features| (exact integer sum, ONE IEEE division —
    * reproducible bit-for-bit in any engine); keep = margin ≥
    * `threshold` (in the same quantized ·10³ unit).
    *
    * Scale shape: the weight table collapses to ONE broadcast array
    * row (dim·8 bytes — a 2M-bucket production model is 16 MB, the
    * same order as any broadcast dim table) and scoring is a pure
    * scan projection: bigram assembly is the adjacent-slice zip (no
    * explode), hashing and the weight lookup-sum run inside one
    * `aggregate` HOF over the feature array. ZERO exchanges — at
    * 100 TB classifier filtering costs exactly one corpus read,
    * which is why this filter family is the first gate in production
    * pipelines. Null text propagates null margin/keep. */
  def classifierScore(docs: DataFrame, weights: DataFrame, dim: Int = 512,
      threshold: Double = 0.0): DataFrame = {
    val warr = broadcast(weights.agg(transform(
      array_sort(collect_list(struct(col("bucket"), col("w")))),
      x => x.getField("w")).as("warr")))
    val sep = lit("\u0001")
    docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .crossJoin(warr)
      // materialize the feature array as an attribute first (HOF
      // arguments must be attributes — see Dedup.minhashSignature)
      .select(col("doc_id"), col("warr"), concat(col("ws"),
        zip_with(slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat(a, sep, b))).as("fs"))
      .select(col("doc_id"), size(col("fs")).as("n_feats"),
        aggregate(col("fs"), lit(0L), (acc, f) => acc + element_at(
          col("warr"),
          (pmod(graft.functions.LehmerHash32.lehmerHash32(f),
            lit(dim.toLong)) + 1L).cast("int"))).as("s"))
      .select(col("doc_id"), col("n_feats"),
        (col("s").cast("double") / col("n_feats").cast("double"))
          .as("margin"))
      .withColumn("keep", col("margin") >= threshold)
  }

  /** Per-source unigram KL divergence against the whole-corpus token
    * distribution — the domain-shift dashboard: KL(source ‖ corpus)
    * near 0 means the source speaks the corpus' language; a spike
    * flags a source whose token distribution the mixture under-serves
    * (log dumps, code in a prose corpus, another language) BEFORE it
    * skews a trained tokenizer or LM. The directed form is the right
    * one here: it weights by the SOURCE's own distribution, so a small
    * exotic source still scores high.
    *
    *   KL(s‖c) = Σ_tok p_s(tok) · [ln p_s(tok) − ln p_c(tok)]
    *
    * Determinism: both log-probs are quantized to integers
    * (`round(ln(cnt/total)·10⁶)` as long — the lmQuality contract)
    * before the weighted sum, so the aggregate is exact integer
    * arithmetic (decimal(38) sums: cnt·Δq products overflow int64 at
    * corpus scale) and the final division is one double op per source.
    * p_c is smoothed only by construction (every source token IS a
    * corpus token — p_c(tok) > 0 whenever p_s(tok) > 0), so no
    * smoothing constant enters.
    *
    * Scale shape: one (source, tok) count groupBy (map-side
    * combinable, token-keyed shuffle); corpus counts derive FROM it by
    * a second rollup on the token key (no second corpus read); source
    * totals are a |sources|-row broadcast; the scored join shuffles
    * the counts table against the corpus-frequency table on the token
    * key. Everything is counts-proportional — the Zipf factor shrinks
    * it exactly as lmQuality's round-7 rework. */
  def klDivergence(docs: DataFrame): DataFrame =
    klDivergenceFromCounts(sourceTokenCounts(docs))

  /** `klDivergence` over a pre-built `sourceTokenCounts` table. */
  def klDivergenceFromCounts(sc: DataFrame): DataFrame = {
    val cc = sc.groupBy(col("tok")).agg(sum(col("cnt")).as("ctf"))
    val stot = sc.groupBy(col("source")).agg(sum(col("cnt")).as("s_total"))
    val ctot = cc.agg(sum(col("ctf")).as("c_total"))
    sc.join(broadcast(stot), "source")
      .join(cc, "tok")
      .crossJoin(broadcast(ctot))
      .select(col("source"), col("cnt"), col("s_total"),
        (round(log(col("cnt").cast("double") / col("s_total").cast("double"))
          * 1000000).cast("long")
          - round(log(col("ctf").cast("double") / col("c_total").cast("double"))
            * 1000000).cast("long")).as("dq"))
      .groupBy(col("source"))
      .agg(first(col("s_total")).as("n_tokens"),
        sum(col("cnt").cast("decimal(38,0)")
          * col("dq").cast("decimal(38,0)")).as("sum_q"))
      .select(col("source"), col("n_tokens"),
        (col("sum_q").cast("double") / col("n_tokens").cast("double")
          / 1000000).as("kl_divergence"))
  }

  /** Per-source character-level Shannon entropy (nats) — the
    * compression-ratio-style junk detector that catches what token
    * stats miss: base64 blobs, hex dumps, and minified payloads read
    * as near-uniform character distributions (entropy → ln|alphabet|),
    * while natural language sits well below; a source whose char
    * entropy jumps is shipping encoded binaries as "text".
    *
    *   H(s) = −Σ_c p(c)·ln p(c),  p(c) = cnt_c / total_s
    *
    * Determinism: per-char log-probs quantized round(ln·10⁶) as longs
    * before the weighted sum (decimal(38) — cnt·q at corpus scale
    * exceeds int64), one double division per source; same contract as
    * `klDivergence`.
    *
    * Scale shape: the char explode collapses immediately to
    * (source, char) counts — map-side combinable, bounded by
    * |sources|·|alphabet| after the shuffle; totals are a rollup OF
    * the counts (one pass over the text). */
  def charEntropy(docs: DataFrame): DataFrame = {
    // defensive cross-version guard: THIS Spark build's empty-pattern
    // split emits no trailing "" (probed), so the filter is a no-op
    // here — kept because older engines differ and a phantom empty
    // char would silently enter the entropy table
    // pinned (r19): `cc` feeds both the per-source totals rollup and
    // the entropy join — Catalyst planned each as an independent
    // char-explode chain (two identical 64-task stages, ~20 s summed
    // run each, in the r19 source_health profile; the char explode is
    // the heaviest pass of this operator). The counts table is
    // |sources|·|alphabet|-bounded — the canonical collapsed proxy.
    val cc = Pin.eager(
      docs.select(col("source"), explode(split(col("text"), "")).as("c"))
        .where(length(col("c")) > 0)
        .groupBy(col("source"), col("c")).agg(count(lit(1)).as("cnt")))
    val tot = cc.groupBy(col("source")).agg(sum(col("cnt")).as("total"))
    cc.join(broadcast(tot), "source")
      .select(col("source"), col("cnt"), col("total"),
        round(log(col("cnt").cast("double") / col("total").cast("double"))
          * 1000000).cast("long").as("q"))
      .groupBy(col("source"))
      .agg(first(col("total")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("cnt").cast("decimal(38,0)")
          * (-col("q")).cast("decimal(38,0)")).as("sum_q"))
      .select(col("source"), col("n_chars"), col("n_distinct_chars"),
        (col("sum_q").cast("double") / col("n_chars").cast("double")
          / 1000000).as("char_entropy"))
  }

  /** Vocabulary coverage curve — the cumulative token-instance share
    * covered by the top-V vocabulary at V ∈ `cuts`: THE tokenizer
    * vocab-budget decision table (where `oovRate` scores one fixed V
    * per language, this sweeps V over the whole corpus — the knee of
    * this curve is where a bigger vocabulary stops paying for its
    * embedding-table rows).
    *
    * Scale shape: corpus token counts are one map-side-combinable
    * groupBy; the max(cuts) head is sort+limit →
    * TakeOrderedAndProject (map-side pruned — never a
    * vocabulary-wide single-reducer window); ranking and the per-cut
    * rollup run on that ≤ max(cuts)-row sliver (constant-bounded, not
    * corpus- or vocabulary-proportional); the grand total is a 1-row
    * broadcast. Coverage is one double division of exact int64
    * sums. */
  def vocabCoverage(docs: DataFrame,
      cuts: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned (r19): `freqs` feeds both the grand total and the top-V
    // head — two independent tokenize+count chains before (the
    // operator's whole cost is the tokenize). Vocabulary-bounded.
    val freqs = Pin.eager(
      docs.select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    val total = freqs.agg(sum(col("cnt")).as("total"))
    // global rank is computed ONLY on the ≤ max(cuts)-row head sliver
    // (the single-partition window is constant-bounded by design); all
    // cuts aggregate that sliver in ONE pass — no per-cut recompute
    val head = freqs.orderBy(col("cnt").desc, col("tok").asc).limit(cuts.max)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)))
    val aggExprs = cuts.flatMap(v => Seq(
      sum(when(col("rank") <= v, lit(1L))).as(s"typ_$v"),
      sum(when(col("rank") <= v, col("cnt"))).as(s"cov_$v")))
    val stacked = head.agg(aggExprs.head, aggExprs.tail: _*)
      .selectExpr(s"stack(${cuts.size}, " +
        cuts.map(v => s"${v}L, typ_$v, cov_$v").mkString(", ") +
        ") as (vocab_size, n_types, n_covered)")
    stacked.crossJoin(broadcast(total))
      .select(col("vocab_size"), col("n_types"), col("n_covered"),
        (col("n_covered").cast("double") / col("total").cast("double"))
          .as("coverage"))
  }

  /** Source vocabulary-overlap matrix — per unordered source pair, the
    * shared distinct-token count and vocabulary Jaccard: the LEXICAL
    * mirror detector complementing `Dedup.dedupCrossSource`'s document
    * signal (a re-hosted source shares its vocabulary long before its
    * near-dup pairs surface — paraphrased mirrors, template families,
    * and machine-translated copies all light up here first; a hot cell
    * says "crawl these two against each other").
    *
    * Scale shape: the (source, tok) DISTINCT table is one map-side-
    * combinable aggregate; the self-join is token-keyed and
    * shuffle-merged (a stopword is shared by EVERY source — |sources|²
    * fan-out per hot token is bounded by the source count, not the
    * corpus, but the join side must still never broadcast a
    * vocabulary-sized table); per-source vocab sizes broadcast back at
    * |sources| rows; union = |A|+|B|−|A∩B| in exact int64. */
  def vocabOverlapMatrix(docs: DataFrame): DataFrame = {
    // pinned (r19): the distinct (source, tok) table has THREE
    // consumers (per-source sizes + both self-join sides) and Catalyst
    // plans each as an independent tokenize+distinct chain — the r19
    // stage profile showed three identical 64-task explode stages per
    // invocation (~38 s summed run). The table is vocabulary-bounded
    // (× |sources|), the canonical counts-collapsed proxy class.
    val st = Pin.eager(
      docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct())
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    val a = st.toDF("source_a", "tok").hint("merge")
    val b = st.toDF("source_b", "tok").hint("merge")
    a.join(b, "tok")
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_types"))
      .join(broadcast(sizes.toDF("source_a", "n_types_a")), "source_a")
      .join(broadcast(sizes.toDF("source_b", "n_types_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared_types"),
        col("n_types_a"), col("n_types_b"),
        (col("n_shared_types").cast("double")
          / (col("n_types_a") + col("n_types_b") - col("n_shared_types"))
            .cast("double")).as("vocab_jaccard"))
  }

  /** The per-source corpus-health dashboard — ONE table joining every
    * count-derived health signal this module computes: volume
    * (docs/tokens/types), lexical diversity (TTR, hapax rate),
    * distribution shape (KL vs corpus, Zipf slope), character health
    * (entropy), and length posture (p50/p90/p99). This is the table a
    * sourcing review actually reads — each signal flags a different
    * pathology (KL: domain shift; Zipf flat: template farm; entropy
    * high: encoded blobs; hapax low: log dump; p99 runaway:
    * concatenated dumps), and the JOIN is what lets one row condemn a
    * source.
    *
    * Scale shape: the three token-level metrics (diversity, KL, Zipf)
    * all derive from the IDENTICAL (source, tok) count aggregate —
    * pinned ONCE (`sourceTokenCounts` under `Pin.eager`, every token
    * branch reads the pin; relying on AQE/ReuseExchange instead
    * silently re-planned the tokenize per branch, because join-key
    * isnotnull pushdowns broke canonical equality between the
    * branches' exchanges — caught and pinned by PlanSpec). Char
    * entropy and length quantiles add one char-count and one
    * length-count exchange; the final join is |sources| rows, returned
    * lazy. */
  def sourceHealthReport(docs: DataFrame): DataFrame = {
    // eager pin (r18, upgraded r19): a lazily-filled cache does NOT
    // dedup under AQE's concurrent stage materialization — the token
    // branches race before any partition lands and each re-runs the
    // tokenize (3 duplicate count-exchange map stages measured); the
    // eager build makes every branch a checkpoint-stub read.
    val sc = Pin.eager(sourceTokenCounts(docs))
    lexicalDiversityFromCounts(sc)
      .join(klDivergenceFromCounts(sc)
        .select(col("source"), col("kl_divergence")), "source")
      .join(zipfFitFromCounts(sc)
        .select(col("source"), col("slope").as("zipf_slope")), "source")
      .join(charEntropy(docs).select(col("source"), col("char_entropy")),
        "source")
      .join(lengthQuantiles(docs).select(col("source"), col("n_docs"),
        col("p50_tokens"), col("p90_tokens"), col("p99_tokens")), "source")
  }

  /** Per-source Zipf fit — least-squares slope of ln(freq) on ln(rank)
    * over the source's top-`topV` tokens: natural language sits near
    * slope −1 (Zipf's law); a template farm or log dump flattens
    * (near-uniform head) or cliffs (few distinct tokens) the curve.
    * With `lexicalDiversity` this is the second corpus-health number
    * that needs only counts. Returns (source, n_terms, slope,
    * intercept) with ln-space intercept.
    *
    * Determinism: x = round(ln(rank)·10⁶), y = round(ln(cnt)·10⁶) as
    * longs; the regression moment sums (Σx, Σy, Σxy, Σx²) accumulate
    * in decimal(38) (xy products reach ~10¹⁵ · topV — int64-unsafe at
    * large V), and slope/intercept are fixed double expressions from
    * the exact sums.
    *
    * Scale shape: per-source counts are one map-side-combinable
    * groupBy; the per-source top-V rank window is WindowGroupLimit-
    * pruned map-side (rank ≤ topV filters before the reducer — never
    * a per-source full sort), the moment rollup is |sources·topV|
    * rows, and the output is |sources| rows. */
  def zipfFit(docs: DataFrame, topV: Int = 500): DataFrame =
    zipfFitFromCounts(sourceTokenCounts(docs), topV)

  /** `zipfFit` over a pre-built `sourceTokenCounts` table. */
  def zipfFitFromCounts(counts: DataFrame, topV: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("tok").asc)
    val ranked = counts
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topV)
      .select(col("source"),
        round(log(col("rank").cast("double")) * 1000000)
          .cast("long").as("x"),
        round(log(col("cnt").cast("double")) * 1000000)
          .cast("long").as("y"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("x") * col("y"))).as("sxy"),
        sum(d38(col("x") * col("x"))).as("sxx"))
      .select(col("source"), col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("slope"),
        ((col("sy").cast("double")
          - (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n_terms") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
            * col("sx").cast("double"))
          / col("n_terms").cast("double") / 1000000).as("intercept"))
  }
}
