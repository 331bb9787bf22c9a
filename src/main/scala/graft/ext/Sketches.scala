package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-size sketch aggregations — the sub-linear state versions of
  * exact answers that stop scaling: each is partial-aggregatable
  * (constant-size state per task, merged associatively), so at 100 TB
  * the shuffle carries kilobytes of sketch instead of the keyspace.
  * Companions to `TextAnalysis.vocabSize` (HLL); each op's exact twin
  * runs at test scale and ScaleOpsSpec bounds the estimation error.
  *
  *  - `tokenCountMin`: Count-Min point frequencies for a set of probe
  *    tokens (heavy-hitter monitoring without a token->count shuffle).
  *  - `approxQuantiles`: deterministic bottom-k-sample rank sketch
  *    for latency/length distribution cutoffs — e.g. the token-length
  *    p99 used to pick a truncation limit.
  */
object Sketches {

  /** Estimated frequencies of `probes` from ONE Count-Min pass over
    * the token stream: eps/confidence pick the depth×width of the
    * NATIVE `cmsTokenFreq` sketch (width = next power of two ≥ e/eps,
    * depth = ⌈ln(1/(1−confidence))⌉ — the classic CMS sizing), so
    * estimates are upper-biased (est ≥ true; est ≤ true + eps·N with
    * prob ≥ confidence) and the whole pass is the oracle-checked
    * mergeable aggregate, not an engine-opaque driver object (the
    * retired `df.stat.countMinSketch` path had private seeds no twin
    * could recompute). */
  def tokenCountMin(docs: DataFrame, probes: Seq[String],
      eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    require(eps > 0 && confidence > 0 && confidence < 1)
    // width caps at 2^22 cells; a smaller eps would silently deliver a
    // looser bound than requested — reject it instead
    require(eps >= math.E / (1 << 22),
      f"eps=$eps%g below the 2^22-cell width cap (min ${math.E / (1 << 22)}%g)")
    var width = 2
    while (width < math.E / eps && width < (1 << 22)) width <<= 1
    val depth = math.max(1, math.ceil(math.log(1.0 / (1 - confidence))).toInt)
    cmsTokenFreq(docs, probes, depth, width)
      .select(col("token"), col("est_freq"))
  }

  /** Approximate quantiles from a DETERMINISTIC bottom-k-by-hash
    * sample: keep the k rows whose splitmix64-finalized `idCol` hash
    * is smallest (a pure function of the data — the KMV idea applied
    * to row sampling), then take EXACT interpolated percentiles of
    * the sample. The bottom-k state is mergeable (union, keep k
    * smallest: map-side partial top-k via TakeOrderedAndProject), so
    * one narrow pass at any corpus scale; rank error is the sampling
    * error ~√(q(1−q)/k) (≤0.8% at k=4096), and when n ≤ k the sample
    * is the whole input and the quantiles are exact. Replaces the
    * earlier `percentile_approx` version, whose GK-sketch merge order
    * is partition-dependent — this one is bit-deterministic and
    * oracle-checkable. Values quantize to integer cents first and the
    * interpolated result is rounded at 1e-4 cents, putting any
    * engine-side ulp differences below the output grain. Returns one
    * (quantile, value) row per requested quantile. */
  def approxQuantiles(df: DataFrame, valueCol: Column, idCol: Column,
      quantiles: Seq[Double], k: Int = 4096): DataFrame = {
    require(quantiles.nonEmpty)
    val MIN = lit(Long.MinValue)
    val samp = df.select(
        graft.functions.HllSketch.mix64(idCol.cast("long"))
          .bitwiseXOR(MIN).as("hu"), // sign-flip: unsigned hash order
        round(valueCol.cast("double") * 100).cast("long").as("cents"))
      // cents as tiebreak: equal (hu, cents) rows are interchangeable
      // for the percentile, so the selection is deterministic even
      // with duplicate ids; NULL hashes (uncastable ids) sort LAST so
      // they can't flood the sample
      .orderBy(col("hu").asc_nulls_last, col("cents")).limit(k)
    samp.agg(percentile(col("cents"),
        array(quantiles.map(lit): _*)).as("qv"))
      .select(posexplode(col("qv")).as(Seq("i", "pc")))
      .select(
        element_at(array(quantiles.map(lit): _*), col("i") + 1)
          .as("quantile"),
        (round(col("pc") * lit(1e4)).cast("long") / lit(1e6)).as("value"))
  }

  /** Per-group deterministic approximate quantiles — `approxQuantiles`
    * windowed per group (the `weightedSampleByGroup` symmetry): each
    * group keeps its k smallest-hash rows via a rank window that the
    * optimizer turns into a map-side WindowGroupLimit (no group ever
    * funnels through one reducer unbounded), then exact interpolated
    * percentiles per group. Same determinism contract as the global
    * version: splitmix64 row choice, integer-cent values, 1e-4-cent
    * output rounding. Returns (group, quantile, value) rows. */
  def approxQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: Column, idCol: Column, quantiles: Seq[Double],
      k: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quantiles.nonEmpty)
    val MIN = lit(Long.MinValue)
    val samp = df.select(col(groupCol),
        graft.functions.HllSketch.mix64(idCol.cast("long"))
          .bitwiseXOR(MIN).as("hu"),
        round(valueCol.cast("double") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(groupCol))
          // same deterministic tiebreak + null placement as the
          // global version
          .orderBy(col("hu").asc_nulls_last, col("cents"))))
      .where(col("rn") <= k)
    samp.groupBy(col(groupCol))
      .agg(percentile(col("cents"),
        array(quantiles.map(lit): _*)).as("qv"))
      .select(col(groupCol), posexplode(col("qv")).as(Seq("i", "pc")))
      .select(col(groupCol),
        element_at(array(quantiles.map(lit): _*), col("i") + 1)
          .as("quantile"),
        (round(col("pc") * lit(1e4)).cast("long") / lit(1e6)).as("value"))
  }

  /** Per-source distinct-token cardinality via a KMV (k-minimum-values)
    * sketch — the vocabulary-size dashboard number computed WITHOUT a
    * vocabulary-wide exchange: the native `kmv_sketch` aggregate
    * (graft.functions.KmvSketch, a TypedImperativeAggregate) keeps the
    * k smallest distinct `polyhash64(token)` values per source with
    * constant mergeable state, so map-side partials carry k longs per
    * source and the shuffle is |sources|·k longs at ANY corpus scale.
    * Estimate = (k−1)·2⁶⁴ / kth_min (exact when a source holds < k
    * distinct hashes). Deterministic — the k minima of a fixed hash
    * are a pure function of the data — hence oracle-checkable: DuckDB
    * reproduces the same minima with a rank window at test scale, and
    * the estimate is one fixed double expression from exact integer
    * inputs (correctly-rounded unsigned→double on both engines).
    * Returns (source, n_kept, kth_hash, est_distinct). */
  def kmvCardinality(docs: DataFrame, k: Int = 16): DataFrame = {
    // polyhash64 alone is not uniform in the HIGH bits for short
    // tokens (the estimator reads order statistics of the full 2⁶⁴
    // range), so finalize with the Fibonacci multiply mod 2⁶⁴ — the
    // same golden-constant mixing the MinHash affine family uses.
    // Java long multiplication wraps ≡ mod 2⁶⁴.
    val gold = lit(-7046029254386353131L) // 11400714819323198485 as signed
    val h = docs.select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("source"),
        (graft.functions.PolyHash64.polyhash64(col("tok")) * gold).as("h"))
    h.groupBy(col("source"))
      .agg(graft.functions.KmvSketch.kmvSketch(col("h"), k).as("mins"))
      .select(col("source"), size(col("mins")).cast("long").as("n_kept"),
        element_at(col("mins"), size(col("mins"))).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(
            (lit((k - 1).toDouble) * lit(18446744073709551616.0)) /
              graft.functions.UnsignedToDouble.unsignedToDouble(col("kth_hash"))))
  }

  /** Point token frequencies from the NATIVE Count-Min aggregate
    * (`graft.functions.CmsSketch`) — the sketch engine behind
    * `tokenCountMin` too (which since the retirement of the opaque
    * `df.stat.countMinSketch` path just sizes depth×width from
    * eps/confidence and delegates here): the whole
    * depth×width counter matrix is one mergeable aggregate with
    * CONSTANT state (32 KB at 4×1024), built in a single
    * map-combinable pass, and every estimate is exact integer
    * arithmetic the oracle recomputes bucket by bucket. Output per
    * probe token: the CMS estimate (upper-biased: est ≥ true), the
    * exact count (probe-proportional — the honesty column), and the
    * collision overestimate.
    *
    * Scale shape: ONE 1-row sketch aggregate over the token-instance
    * stream (state constant, shuffle = one matrix per partial);
    * probe hashing is a |probes|-row projection; exact counts filter
    * to the probe set SCAN-SIDE (probe-proportional, never
    * vocabulary-proportional — the bm25TopK rule). */
  def cmsTokenFreq(docs: DataFrame, probes: Seq[String],
      depth: Int = 4, width: Int = 1024): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    require(probes.nonEmpty)
    val toks = docs.select(
      explode(split(trim(col("text")), "\\s+")).as("token"))
    val m = toks
      .select(graft.functions.PolyHash64.polyhash64(col("token")).as("h"))
      .agg(graft.functions.CmsSketch.cmsSketch(col("h"), depth, width)
        .as("m"))
    val exact = toks.where(col("token").isin(probes.distinct: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_freq"))
    val spark = docs.sparkSession
    import spark.implicits._
    val probeDf = probes.distinct.toDF("token")
      .select(col("token"),
        graft.functions.PolyHash64.polyhash64(col("token")).as("h"))
    val cells = (0 until depth).map { i =>
      element_at(col("m"),
        lit(i * width + 1) +
          ((col("h") * (2L * i + 1L) + lit(i.toLong * graft.functions.CmsSketch.GOLD))
            .bitwiseAND(width - 1L)).cast("int"))
    }
    probeDf.crossJoin(bc(m))
      .select(col("token"), least(cells: _*).as("est_freq"))
      .join(exact, Seq("token"), "left")
      .select(col("token"), col("est_freq"),
        coalesce(col("exact_freq"), lit(0L)).as("exact_freq"))
      .withColumn("overestimate", col("est_freq") - col("exact_freq"))
  }

  /** Corpus heavy-hitter tokens (frequency ≥ φ·N) with a scale shape
    * that never exchanges the vocabulary — the classic CMS
    * heavy-hitter harness made deterministic:
    *
    *  1. ONE Count-Min pass over all token instances (constant 4×1024
    *     matrix state + the instance count N, a single 1-row
    *     map-combinable aggregate);
    *  2. candidate keys from a deterministic 1/`sampleMod` INSTANCE
    *     sample (Knuth bucket of `doc_id·1009 + pos` — CMS can answer
    *     point queries but cannot enumerate keys, so candidates come
    *     from a sample in which any φ-heavy token appears with
    *     overwhelming mass: expected φ·N/sampleMod ≫ 1 occurrences);
    *  3. the CMS screen `est ≥ ceil(φ·N)` on the candidate sliver —
    *     upper-biased, so no true heavy hitter that reached the
    *     candidate tier is screened out;
    *  4. exact verification of the KEPT sliver only (broadcast semi
    *     join; candidate-proportional, never vocabulary-proportional)
    *     — `is_heavy` exposes CMS false positives instead of
    *     trusting the sketch.
    *
    * Deterministic end to end (fixed hashes, fixed sample, integer
    * thresholds), so the oracle replicates sample, cells, screen and
    * verdicts exactly. Candidate-coverage caveat: the 1/`sampleMod`
    * instance sample generates candidates, so a token near the
    * threshold needs phi·N/sampleMod ≳ a few expected sampled
    * instances to be reliably seen (at the defaults that's N ≳ a few
    * hundred thousand tokens); below that regime lower `sampleMod` —
    * the screen never drops a candidate, but sampling can fail to
    * nominate one. Returns (token, est_freq, exact_freq,
    * threshold, is_heavy) for candidates passing the screen. */
  def cmsHeavyHitters(docs: DataFrame, phi: Double = 0.001,
      depth: Int = 4, width: Int = 1024, sampleMod: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    val toks = docs.select(col("doc_id"),
      posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "token")))
    val stats = toks
      .select(graft.functions.PolyHash64.polyhash64(col("token")).as("h"))
      .agg(graft.functions.CmsSketch.cmsSketch(col("h"), depth, width)
          .as("m"),
        count(lit(1)).as("n_total"))
      .withColumn("threshold", ceil(lit(phi) * col("n_total")).cast("long"))
    val cands = toks
      .where(Sampling.bucket(col("doc_id") * lit(1009L) + col("pos"),
        sampleMod) === 0)
      .select(col("token")).distinct()
      .select(col("token"),
        graft.functions.PolyHash64.polyhash64(col("token")).as("h"))
    val cells = (0 until depth).map { i =>
      element_at(col("m"),
        lit(i * width + 1) +
          ((col("h") * (2L * i + 1L) + lit(i.toLong * graft.functions.CmsSketch.GOLD))
            .bitwiseAND(width - 1L)).cast("int"))
    }
    // the kept sliver feeds BOTH the verify join and the final select —
    // materialize it once (double-build rule: its upstream contains the
    // corpus-proportional CMS pass, which must not run per consumer)
    val kept = Pin.eager(cands.crossJoin(bc(stats))
      .select(col("token"), least(cells: _*).as("est_freq"),
        col("threshold"))
      .where(col("est_freq") >= col("threshold")))
    val exact = toks.join(bc(kept.select("token")), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_freq"))
    kept.join(exact, Seq("token"))
      .select(col("token"), col("est_freq"), col("exact_freq"),
        col("threshold"),
        (col("exact_freq") >= col("threshold")).as("is_heavy"))
  }

  /** Bloom-filter false-positive audit — the governance number behind
    * every bloom-pruned join in the library (`decontaminateBloom`'s
    * native `BloomMightContainLong` is result-transparent only because
    * an exact join scrubs its false positives; this operator MEASURES
    * the rate that tier absorbs and checks it against the analytic
    * bound (1 − e^(−kn/m))^k). Built on the PORTABLE bloom — bit
    * positions from the Kirsch–Mitzenmacher affine family over
    * splitmix64-finalized keys (small ids premixed, the reshard_report
    * rule) — so unlike Spark's driver-built sketch the whole audit is
    * deterministic and oracle-checked bit for bit.
    *
    * Members = even doc_ids, probes = odd doc_ids (disjoint by
    * construction, so every probe hit IS a false positive). Scale
    * shape: the bit-position set is ≤ m rows (built once,
    * `Pin.eager` — it feeds the bit-count agg and the probe join),
    * probes join it BROADCAST per exploded position and roll up to one
    * row; the transcendental in the bound is quantized ·10⁹ and the
    * k-th power is spelled as a pinned multiplication tree, so both
    * engines produce the identical double. Returns one row:
    * (n_members, n_probes, n_bits_set, n_false_pos, measured_fpr,
    * theoretical_fpr). */
  def bloomFprAudit(docs: DataFrame, mBits: Int = 16384,
      kHashes: Int = 6): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    def keys(parity: Int): DataFrame =
      docs.where(pmod(col("doc_id"), lit(2L)) === parity)
        .select(graft.functions.HllSketch.mix64(
          col("doc_id").cast("long")).as("h"))
    def positions(h: Column): Column = array((0 until kHashes).map { i =>
      (h * lit(2L * i + 1L) + lit(i.toLong * graft.functions.CmsSketch.GOLD))
        .bitwiseAND(lit(mBits - 1L)).cast("int")
    }: _*)
    val member = keys(0)
    val probe = keys(1)
    val bits = Pin.eager(member.select(explode(positions(col("h"))).as("pos"))
      .distinct())
    val perProbe = probe.select(col("h"), explode(positions(col("h"))).as("pos"))
      .join(bc(bits.withColumn("present", lit(1))), Seq("pos"), "left")
      .groupBy(col("h"))
      .agg(max(when(col("present").isNull, 1).otherwise(0)).as("miss"))
    val pr = perProbe.agg(count(lit(1)).as("n_probes"),
      sum(when(col("miss") === 0, 1L).otherwise(0L)).as("n_false_pos"))
    // DISTINCT member keys: duplicate ids set no new bits, so a row
    // count would feed the analytic bound an n larger than the true
    // member-set size while the probe side dedups by hash
    val audit = member.agg(countDistinct(col("h")).as("n_members"))
      .crossJoin(bc(pr))
      .crossJoin(bc(bits.agg(count(lit(1)).as("n_bits_set"))))
    // (1 − e^(−k·n/m))^k with the exp quantized ·10⁹ and the power as
    // a pinned multiplication tree ((y·y)·y)·((y·y)·y) for k=6 — both
    // engines run the identical IEEE op sequence
    require(kHashes == 6, "theoretical bound spelled for k=6")
    val e = round(exp((lit(-kHashes.toDouble) *
      col("n_members").cast("double")) / lit(mBits.toDouble)) * lit(1e9)) /
      lit(1e9)
    val y = lit(1.0) - e
    val y3 = (y * y) * y
    audit.select(col("n_members"), col("n_probes"), col("n_bits_set"),
      col("n_false_pos"),
      // no probes → NULL, not 0/0 NaN
      when(col("n_probes") === 0L, lit(null).cast("double"))
        .otherwise(col("n_false_pos").cast("double")
          / col("n_probes").cast("double"))
        .as("measured_fpr"),
      (y3 * y3).as("theoretical_fpr"))
  }

  /** The HLL estimate as ONE column expression over a register array
    * (shared by `hllCardinality` and `hllUnionSources`): zero-register
    * count and the harmonic sum Σ 2^(64−M[j]) are EXACT integer
    * arithmetic (each 2^k ≤ 2⁶⁴ is an exact double cast losslessly to
    * decimal(38,0); the sum is order-independent), then the raw
    * estimate α_m·m²·2⁶⁴ / S is one correctly-rounded double division
    * by a shared pinned numerator (`HllSketch.alphaMm2Pow64`), with
    * the linear-counting branch below 2.5·m quantizing its ln at 10⁶
    * per the house transcendental rule — so DuckDB reproduces the
    * estimate bit-for-bit from the same registers. */
  def hllEstimate(regs: Column, p: Int): Column = {
    val vZero = aggregate(regs, lit(0L),
      (acc, r) => acc + when(r === 0, lit(1L)).otherwise(lit(0L)))
    val sSum = aggregate(regs,
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"),
      (acc, r) => (acc + pow(lit(2.0), lit(64) - r).cast("decimal(38,0)"))
        .cast("decimal(38,0)"))
    hllEstimateFromCounts(vZero, sSum, p)
  }

  /** The estimate from already-rolled-up (zero-register count,
    * harmonic sum) columns — the piece the streaming compaction
    * (`EventStream.hllUsersCompact`) reuses after merging exploded
    * register rows by max, where no array column exists. Must stay
    * bit-identical to the oracle's `hllEstSql`. */
  def hllEstimateFromCounts(vZero: Column, sSum: Column, p: Int): Column = {
    val m = 1 << p
    val raw = lit(graft.functions.HllSketch.alphaMm2Pow64(p)) /
      sSum.cast("double")
    when(vZero > lit(0L) && raw <= lit(2.5 * m),
      (round(log(lit(m.toDouble) / vZero.cast("double")) * lit(1e6))
        .cast("long") * m).cast("double") / lit(1e6))
      .otherwise(raw)
  }

  /** Per-source zero-register count, exposed for the cardinality
    * report (same expression the estimator's branch condition uses). */
  def hllZeroRegisters(regs: Column): Column =
    aggregate(regs, lit(0L),
      (acc, r) => acc + when(r === 0, lit(1L)).otherwise(lit(0L)))

  /** Per-source distinct-token cardinality via HyperLogLog — the
    * third native sketch aggregate (`graft.functions.HllSketch`, a
    * TypedImperativeAggregate) and the KMV dashboard's
    * industry-standard sibling: state is 2^p byte registers (1 KB at
    * p=10) per source with elementwise-max merge, so map-side partials
    * carry a kilobyte per source and the shuffle is |sources| KB at
    * ANY corpus scale. Error ~1.04/√m ≈ 3.2% at p=10; linear counting
    * below 2.5·m where the raw estimator biases high.
    *
    * Deterministic (registers are a pure function of the fixed hash;
    * max is order-independent), hence oracle-checkable register by
    * register. `exact_distinct` (distinct hashes, exact) and `err_bp`
    * (signed basis points) are the TEST-SCALE audit columns — the
    * honesty tier like `cmsTokenFreq`'s exact_freq; a 100 TB call
    * site reads est_distinct only, which never shuffles the
    * vocabulary. Returns (source, v_zero, est_distinct,
    * exact_distinct, err_bp). */
  def hllCardinality(docs: DataFrame, p: Int = 10): DataFrame = {
    val h = docs.select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("source"), graft.functions.HllSketch.mix64(
        graft.functions.PolyHash64.polyhash64(col("tok"))).as("h"))
    h.groupBy(col("source"))
      .agg(graft.functions.HllSketch.hllSketch(col("h"), p).as("regs"),
        countDistinct(col("h")).as("exact_distinct"))
      .select(col("source"),
        hllZeroRegisters(col("regs")).as("v_zero"),
        hllEstimate(col("regs"), p).as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_bp",
        round((col("est_distinct") / col("exact_distinct").cast("double")
          - lit(1.0)) * lit(10000.0)).cast("long"))
  }

  /** Pairwise cross-source vocabulary overlap WITHOUT co-shuffling any
    * two sources' tokens — the defining HLL property in action:
    * per-source registers union losslessly by elementwise max, so
    * |union| is estimable from two 1 KB states and the intersection
    * falls out by inclusion–exclusion. The MinHash
    * `sourceResemblance` answers "how SIMILAR are these sources'
    * documents"; this answers "how much VOCABULARY do they share" —
    * mirror detection vs tokenizer-budget planning.
    *
    * Scale shape: the register table is materialized ONCE
    * (`Pin.eager` — |sources| rows × 2^p bytes; the corpus-
    * proportional tokenize must not re-run per self-join branch, the
    * double-build rule) and the pair join is |sources|² over that
    * kilobyte-scale table. est_intersection clamps inclusion–
    * exclusion noise at 0. Returns (source_a, source_b, est_a, est_b,
    * est_union, est_intersection, est_jaccard). */
  def hllUnionSources(docs: DataFrame, p: Int = 10): DataFrame =
    hllUnionSourcesFromRegs(Pin.eager(hllRegistersOf(docs, p)), p)

  /** The per-source register table (source, regs) — the batch-owned,
    * persistable half of the HLL surface (the `knnGraph`-edges /
    * `bandIndexOf` materialize-once shape): build it once per corpus
    * snapshot, persist it (|sources| rows × 2^p ints survive a parquet
    * round trip exactly), and hand the SAME table to every consumer —
    * `hllUnionSourcesFromRegs` here, or ad-hoc estimates via
    * `hllEstimate`. Registers of a NEW snapshot merge with old ones by
    * per-bucket max, so incremental corpus growth never re-scans
    * history. */
  def hllRegistersOf(docs: DataFrame, p: Int = 10): DataFrame =
    docs.select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("source"), graft.functions.HllSketch.mix64(
        graft.functions.PolyHash64.polyhash64(col("tok"))).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.HllSketch.hllSketch(col("h"), p).as("regs"))

  /** The pairwise overlap report over an ALREADY-MATERIALIZED register
    * table — see `hllUnionSources` (the self-building composition) for
    * semantics. Callers owning a persisted register table skip the
    * corpus scan entirely. */
  def hllUnionSourcesFromRegs(regs: DataFrame, p: Int = 10): DataFrame = {
    val pairs = regs.as("a").join(regs.as("b"),
      col("a.source") < col("b.source"))
    pairs.select(
        col("a.source").as("source_a"), col("b.source").as("source_b"),
        hllEstimate(col("a.regs"), p).as("est_a"),
        hllEstimate(col("b.regs"), p).as("est_b"),
        hllEstimate(zip_with(col("a.regs"), col("b.regs"),
          (x, y) => greatest(x, y)), p).as("est_union"))
      .withColumn("est_intersection",
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")))
      .withColumn("est_jaccard", col("est_intersection") / col("est_union"))
  }

  /** KMV join-cardinality estimation — the pre-shuffle planner number:
    * distinct-key counts per side, key-set Jaccard, and the estimated
    * distinct-key INTERSECTION of a join, all from two constant-size
    * sketches (k minima of the Fibonacci-mixed key hash per side, one
    * map-combinable aggregate each). At 100 TB this is how you decide
    * broadcast-vs-shuffle or flag a blowup join BEFORE paying the
    * exchange: the sketches cost one narrow scan per side and merge by
    * taking minima-of-minima — the Beyer et al. (PODS'07) KMV set-
    * operation estimators.
    *
    *   est_distinct   = (k−1)·2⁶⁴ / kth_min        (exact below k)
    *   est_jaccard    = |topk(A∪B) ∩ A ∩ B| / |topk(A∪B)|
    *   est_intersection = est_jaccard · est_union
    *
    * Determinism: the k minima of a fixed hash are a pure function of
    * the data (no rand, no HLL bias) — every number here is
    * oracle-checked exactly. Unsigned ordering of the merged sketch
    * rides the sign-bit flip (x ⊕ 2⁶³ preserves unsigned order in the
    * signed domain); the twin sorts native HUGEINTs.
    *
    * Scale shape: two map-combinable 1-row sketch aggregates (state =
    * k longs each), then pure array expressions on a 1×1 crossJoin —
    * nothing after the scans is data-proportional. */
  def joinCardinalityEstimate(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, k: Int = 256): DataFrame = {
    // integral keys only: a string/UUID key would cast(long) to NULL,
    // the sketch would come back empty, and the planner would read
    // "zero distinct keys" for a fully populated table — fail loudly
    // instead (hash string keys to a long column first)
    Seq(left.schema(leftKey), right.schema(rightKey)).foreach { f =>
      import org.apache.spark.sql.types._
      val ok = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok,
        s"join key ${f.name} must be an integral type, got ${f.dataType}")
    }
    val gold = lit(-7046029254386353131L) // 11400714819323198485 signed
    val MIN = lit(Long.MinValue)
    def sketch(df: DataFrame, key: String, as: String): DataFrame =
      df.select((col(key).cast("long") * gold).as("h"))
        .agg(graft.functions.KmvSketch.kmvSketch(col("h"), k).as(as))
    val merged = sketch(left, leftKey, "la")
      .crossJoin(sketch(right, rightKey, "lb"))
      .withColumn("mu", slice(array_sort(array_distinct(
        transform(concat(col("la"), col("lb")), x => x.bitwiseXOR(MIN)))),
        1, k))
      .withColumn("n_union_topk", size(col("mu")).cast("long"))
      .withColumn("n_common_topk",
        size(filter(col("mu"), x =>
          array_contains(col("la"), x.bitwiseXOR(MIN)) &&
            array_contains(col("lb"), x.bitwiseXOR(MIN)))).cast("long"))
    def est(arr: Column): Column =
      when(size(arr) < k, size(arr).cast("double"))
        .otherwise((lit((k - 1).toDouble) * lit(18446744073709551616.0)) /
          graft.functions.UnsignedToDouble.unsignedToDouble(
            element_at(arr, k)))
    val withEsts = merged
      .withColumn("est_distinct_left", est(col("la")))
      .withColumn("est_distinct_right", est(col("lb")))
      .withColumn("est_union",
        when(col("n_union_topk") < k, col("n_union_topk").cast("double"))
          .otherwise((lit((k - 1).toDouble) * lit(18446744073709551616.0)) /
            graft.functions.UnsignedToDouble.unsignedToDouble(
              element_at(col("mu"), k).bitwiseXOR(MIN))))
      .withColumn("est_jaccard",
        // empty/all-null sides leave the merged sketch empty —
        // jaccard of two empty key sets is 0, not 0/0
        when(col("n_union_topk") === 0L, lit(0.0))
          .otherwise(col("n_common_topk").cast("double")
            / col("n_union_topk").cast("double")))
    withEsts.select(col("est_distinct_left"), col("est_distinct_right"),
      col("n_union_topk"), col("n_common_topk"), col("est_union"),
      col("est_jaccard"),
      (col("est_jaccard") * col("est_union")).as("est_intersection"))
  }
}
