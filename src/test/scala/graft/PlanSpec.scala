package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.ShapeQueries
import graft.ext.Similarity

/** Physical-plan shape assertions — the scale contract, pinned so a
  * refactor that silently de-optimizes a plan (drops a pushdown, turns
  * a broadcast into a shuffle, a top-k into a global sort, a bucket
  * join into a cartesian product) fails CI rather than surfacing as a
  * 100 TB incident. Each assertion mirrors a claim made in the
  * operators' scaladocs. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("agg_pricing: shipdate filter reaches the parquet scan, schema pruned") {
    val q = ShapeQueries.aggPricing(spark, sf)
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must be pushed to the scan:\n$formatted")
    // projection pruning: only the 5 referenced columns are read
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"scan must not read unused columns: $readSchema")
    assert(formatted.contains("HashAggregate"), "partial+final hash agg expected")
  }

  test("revenue_by_nation: dimension joins broadcast, fact join shuffles") {
    val p = plan(ShapeQueries.revenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
  }

  test("top_customers: sort+limit plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(ShapeQueries.topCustomers(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("saltedInnerHotKeys on uniform keys: plain join, no replication explode") {
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val r = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val p = plan(graft.ext.SkewJoin.saltedInnerHotKeys(l, r, "l_orderkey"))
    // uniform data ⇒ zero hot keys ⇒ the cold path must not pay the
    // blanket-salting tax: no Generate (right-side explode), no salt
    // column in the join keys
    assert(!p.contains("Generate"), s"no replication explode on uniform data:\n$p")
    assert(!p.contains("__salt"), s"no salt key on uniform data:\n$p")
    assert(!p.contains("CartesianProduct"), "equi-join expected")
  }

  test("contamination: benchmark side broadcasts, corpus side never shuffles pre-agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.ext.Dedup.contamination(
      docs, docs.where(col("doc_id") % 97 === 0))
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$p")
    // Walk the physical TREE (explain-string line counting is fragile —
    // same reasoning as the bloom-prune test below): the corpus side is
    // the broadcast join's STREAMED child, and from the scan up to that
    // join there must be no shuffle — the semi-join is map-side; the
    // only exchanges anywhere are the bench distinct (inside the
    // broadcast build) and the final per-doc agg above the join.
    // AdaptiveSparkPlanExec hides its inner plan from collect(): unwrap
    val root = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val joins = root.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, s"broadcast join expected:\n$p")
    joins.foreach { j =>
      val streamed = if (j.buildSide.toString.contains("Right")) j.left else j.right
      val shuffles = streamed.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"corpus (streamed) side must not shuffle before the agg:\n$p")
    }
  }

  test("lshTopK: bucket join is an equi-join, never a cross join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(Similarity.lshTopK(emb, emb.limit(5)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed ANN must stay equi-join:\n$p")
  }

  test("lshTopK: vectors never ride the bucket join (narrow candidate rows)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = Similarity.lshTopK(emb, emb.limit(5))
    // the join keyed on `bucket` must see only narrow (id, bucket) rows
    // on BOTH inputs — whatever physical form it takes (shuffle or
    // broadcast), the quantized vectors must not flow through it; they
    // are fetched later by id joins on the (small) candidate set.
    val bucketJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "bucket")) => j
    }
    assert(bucketJoins.nonEmpty, "expected a join keyed on bucket")
    bucketJoins.foreach { j =>
      val wide = (j.left.output ++ j.right.output)
        .filter(_.dataType.typeName.startsWith("array"))
      assert(wide.isEmpty,
        s"bucket join inputs must be array-free, got: ${wide.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    }
  }

  private def codegenExplain(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))

  test("ivfAssign: assignment is a broadcast-array projection, corpus never shuffles") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(Similarity.ivfAssign(emb, centroidMod = 10))
    // the argmax runs inside the scan projection via the native
    // nearest_centroid_cos over the one collected centroid row; any
    // hash-partitioned exchange would mean the corpus moved
    assert(!p.contains("Window"), s"assignment must not be a window:\n$p")
    assert(p.contains("nearest_centroid_cos"),
      s"native centroid argmax expected in the projection:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"corpus must not shuffle for assignment:\n$p")
  }

  test("kmeansAssign: centroids broadcast, assignment is a projection; only k·dim rollups shuffle") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(Similarity.kmeansAssign(emb, k = 4, iters = 1))
    // every centroid table (init + each update) must reach the corpus
    // as a broadcast — a shuffled centroid join would move the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle to meet centroids:\n$p")
    // the per-vector argmin is the native nearest_centroid_l2
    // projection — no per-vector aggregation at all; the only hash
    // exchanges carry (cluster, dim) partial sums
    assert(p.contains("nearest_centroid_l2"),
      s"native centroid argmin expected in the projection:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"no per-vector exchange — assignment must stay a projection:\n$p")
  }

  test("pqEncode: encoding is a broadcast-codebook projection, corpus never shuffles") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(Similarity.pqEncode(emb, centroidMod = 10))
    // per-subspace argmins are native nearest_centroid_l2 over the one
    // collected codebook row — any hash exchange means the corpus moved
    assert(p.contains("nearest_centroid_l2"),
      s"native per-subspace argmin expected in the projection:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"corpus must not shuffle to encode:\n$p")
  }

  test("pqTopK: ADC scan reads codes + broadcast tables; native lookup; top-k window-pruned") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 100 === 0)
    val p = plan(Similarity.pqTopK(emb, probes, k = 5, centroidMod = 10))
    assert(p.contains("pq_adc"), s"native ADC lookup expected:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe tables must broadcast, corpus must not shuffle to meet them:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-probe top-k must prune map-side:\n$p")
  }

  test("ivfPqRerank: shortlist + probe vectors broadcast into the re-rank fetch") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 100 === 0)
    val p = plan(Similarity.ivfPqRerank(emb, probes, k = 3, r = 8,
      nprobe = 2, centroidMod = 10))
    // stage 2 fetches full-precision vectors by streaming the corpus
    // past the broadcast r-deep shortlist — a sort-merge fetch would
    // re-shuffle the corpus a second time just to re-rank r rows/probe.
    // Constrain ONLY the re-rank portion (printed above the ADC
    // subtree, whose root is the first pq_adc occurrence): stage 1's
    // candidate join on `cell` is the composition's one intended
    // corpus exchange and may legitimately sort-merge.
    val adc = p.indexOf("pq_adc")
    assert(adc > 0, s"ADC shortlist subtree expected:\n$p")
    val rerank = p.substring(0, adc)
    assert(rerank.contains("BroadcastHashJoin"),
      s"shortlist must broadcast into the corpus fetch:\n$p")
    assert(!rerank.contains("SortMergeJoin"),
      s"re-rank fetch must not shuffle the corpus:\n$p")
    assert(rerank.contains("WindowGroupLimit"),
      s"final top-k must prune map-side:\n$p")
  }

  test("classifierScore: scoring is a zero-exchange scan projection") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = spark.range(64).select(col("id").as("bucket"),
      ((col("id") * 48271L + 7L) % 2001L - 1000L).as("w"))
    val p = plan(graft.ext.TextAnalysis.classifierScore(docs, w, dim = 64))
    // the weight table collapses to one broadcast array row; hashing +
    // lookup-sum run inside the corpus scan's projection — any hash
    // exchange means the corpus moved just to be scored
    assert(!p.contains("hashpartitioning"),
      s"corpus must not shuffle to be scored:\n$p")
    assert(p.contains("lehmer_hash32"),
      s"native per-feature hash expected in the projection:\n$p")
  }

  test("mixtureSample: keep rule is a scan-side filter fed by broadcasts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.Sampling.mixtureSample(docs, "source",
      Map("src0" -> 5, "src1" -> 3)))
    // the corpus meets the per-group counts and the 1-row n_out only
    // via broadcast joins; its own rows never shuffle
    assert(p.contains("BroadcastHashJoin"), s"group counts must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle:\n$p")
  }

  test("tfidfTopTerms: per-doc top-k gets WindowGroupLimit map-side pruning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.TextAnalysis.tfidfTopTerms(docs, k = 5))
    // row_number <= k must prune per map task, not ship every scored
    // (doc, term) row through the window shuffle
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"map-side window group limit expected:\n$p")
  }

  test("lineDedup: first-occurrence argmin is a partial-aggregatable min, no window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.Dedup.lineDedup(docs))
    // min(struct(doc_id, ord)) grouped on the digest must combine
    // map-side; a per-line window would sort every occurrence group
    assert(p.contains("partial_min"), s"map-side argmin combine expected:\n$p")
    assert(!p.contains("CartesianProduct"), "equi-joins only")
  }

  test("bigramLmQuality: model aggs combine map-side, no cartesian scoring join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // Pin disabled: the r18 pin serves the bigram counts from a
    // checkpoint-scan stub, hiding the subtree the assertion is about;
    // the pin BUILD runs exactly this full tree, so the shape contract
    // is asserted on it directly.
    val p = graft.ext.Pin.withDisabled(
      plan(graft.ext.TextAnalysis.bigramLmQuality(docs)))
    assert(p.contains("partial_count"), s"map-side model counts expected:\n$p")
    assert(!p.contains("CartesianProduct"), "score join must be keyed")
  }

  test("incrementalDedup: the pair join's left side is batch-only (type-pushed filters)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batch = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val q = graft.ext.Dedup.incrementalDedup(corpus, batch)
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the batch predicate must reach the parquet scans as a pushed
    // filter — the shape that keeps daily work batch-proportional
    assert(formatted.contains("(doc_id"), s"id-slice filters must push down:\n$formatted")
    assert(!formatted.contains("CartesianProduct"), "equi-joins only")
  }

  test("contaminationBloom: bloom prune sits map-side, below the verify join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ext.Dedup.contaminationBloom(
      docs, docs.where(col("doc_id") % 97 === 0))
    // Assert on the optimized logical TREE, not explain-text positions:
    // the Filter node carrying bloom_might_contain must be a descendant
    // of the corpus (left) side of the exact-verify Join — i.e. the
    // prune runs before the join ever sees a corpus row.
    val optimized = df.queryExecution.optimizedPlan
    def hasBloomFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case f: Filter if f.condition.exists(
        _.isInstanceOf[graft.functions.BloomMightContainLong]) => f }.nonEmpty
    val joinsWithPruneBelow = optimized.collect {
      case j: Join if hasBloomFilter(j.left) || hasBloomFilter(j.right) => j
    }
    assert(hasBloomFilter(optimized),
      s"bloom filter expression must survive optimization:\n$optimized")
    assert(joinsWithPruneBelow.nonEmpty,
      s"bloom prune must sit below (inside a child of) the verify join:\n$optimized")
  }

  test("normalizeText: the whole pass is a zero-exchange scan projection") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.TextAnalysis.normalizeText(docs))
    assert(!p.contains("hashpartitioning"),
      s"normalization must not shuffle the corpus:\n$p")
    assert(p.contains("nfc_normalize"),
      s"native NFC expression expected in the projection:\n$p")
  }

  test("sqEncode: dim pack broadcasts, encoding is a scan projection") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ext.Similarity.sqEncode(emb))
    // the only exchanges belong to the per-dim min/max agg over the
    // posexploded (dim, v) rows (partial+final), whose dim-count
    // result collapses to one broadcast row; the corpus side encodes
    // in place
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"dim pack must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle to be encoded:\n$p")
  }

  test("bm25TopK: no vocabulary-wide aggregation; query filter sits scan-side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // Pin disabled: assert the full dataflow shape the pin build runs
    // (the checkpoint stub would hide the query-term filter subtree)
    val p = graft.ext.Pin.withDisabled(
      plan(graft.ext.TextAnalysis.bm25TopK(docs, Seq("spark", "merge"))))
    // the round-7 contract: the only (doc, tok) aggregation runs over
    // query-term-filtered tokens — the filter must appear, and the
    // top-k must be TakeOrderedAndProject, not a global sort
    assert(p.contains("spark") && p.contains("merge"),
      s"query-term filter expected in the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must avoid a global sort:\n$p")
    // doc lengths are a projection: the hash exchanges are the
    // query-term counts agg, df agg, the narrow dlen side of the
    // doc_id join, and the per-doc rollup — nothing vocabulary-wide
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(exchanges <= 4, s"expected <= 4 hash exchanges, got $exchanges:\n$p")
  }

  test("bm25MultiTopK: query-proportional shape — broadcast term filter, windowed top-k") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    import spark.implicits._
    val q = Seq((1L, "spark"), (2L, "merge")).toDF("query_id", "term")
    val p = plan(graft.ext.TextAnalysis.bm25MultiTopK(docs, q))
    // the union-vocab filter and the query fan-out must both broadcast
    // (a shuffled term join would move the exploded token stream);
    // per-query top-k must be WindowGroupLimit-pruned, never a global
    // sort — and nothing may cartesian
    assert(p.contains("BroadcastHashJoin"), s"term joins must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must prune map-side:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
    // 8 = qcnts agg + the df branch's re-derived distinct+count (the
    // pruned branch defeats exchange reuse — see the operator comment)
    // + qvocab distinct + qterms distinct + per-(query, doc) rollup +
    // the window exchange; every one is query-proportional or a rollup
    // of query-filtered rows — nothing vocabulary-proportional
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(exchanges <= 8, s"expected <= 8 hash exchanges, got $exchanges:\n$p")
  }

  test("spanCorruption: pure scan projection, no exchange at all") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.TextAnalysis.spanCorruption(docs))
    assert(!p.contains("hashpartitioning") && !p.contains("Exchange"),
      s"span corruption must fuse into the scan:\n$p")
  }

  test("curriculumOrder: rank window partitions by (phase, bucket), never phase alone") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.ext.TextAnalysis.curriculumOrder(docs)
    // the corpus-sized row_number window must fan out over
    // phases×10000 (phase, bucket) groups — a partitionSpec of just
    // `phase` is 3 reducers for the whole corpus, the shape the
    // stableRowIds/packShards offset pattern exists to avoid. (The
    // other window in this plan — the offsets prefix sum — runs over
    // the ≤ phases·10000-row count ROLLUP and is allowed to be global.)
    val rankWindows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.windowExpressions.exists(_.toString.contains("row_number")) => w
    }
    assert(rankWindows.nonEmpty, "expected the row_number rank window")
    rankWindows.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"rank window must partition by (phase, bucket), got: ${w.partitionSpec}")
    }
    assert(!plan(q).contains("CartesianProduct"), "offset join must stay keyed")
  }

  test("sourceCap: rank filter gets WindowGroupLimit map-side pruning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.Curation.sourceCap(docs, cap = 10))
    // without the group-limit, a low-cardinality source column funnels
    // the whole corpus through a handful of rank reducers; with it,
    // every map task pre-prunes to its local top-cap per source
    assert(p.contains("WindowGroupLimit"),
      s"per-source rank must prune map-side:\n$p")
  }

  test("editDistanceVerify: pair-sliver joins, no cartesian, text pruned to prefix") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.ext.Dedup.minhashLshPairsPortable(docs)
    val p = plan(graft.ext.Dedup.editDistanceVerify(docs, pairs))
    assert(!p.contains("CartesianProduct"),
      s"verify tier must join candidates by id, never cross:\n$p")
  }

  test("dedupKeepBest: quality rank runs over the cluster sliver, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.ext.Dedup.minhashLshPairsPortable(docs)
    val p = plan(graft.ext.Dedup.dedupKeepBest(docs, pairs))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the argmax window partitions by cluster_id (the dup sliver key),
    // never an empty partition list (a global single-reducer sort)
    assert(p.contains("row_number") && p.contains("cluster_id"),
      s"per-cluster rank expected:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-reducer stage:\n$p")
  }

  test("negativeSamples: range-exchange positions, no global window, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // Pin disabled: stableRowIds pins its positions, and the
    // checkpoint stub would hide the range exchange the pin build runs
    val p = graft.ext.Pin.withDisabled(
      plan(graft.ext.Sampling.negativeSamples(docs)))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // positions come from stableRowIds' range-exchange table, not a
    // re-rank through a global window
    assert(p.contains("InMemoryTableScan") || p.toLowerCase.contains("rangepartitioning"),
      s"positions must come from the stableRowIds table:\n$p")
    // no window rank anywhere (the N scalar's 1-row count agg is the
    // one legitimate SinglePartition: partial-combined, 1 row/task)
    assert(!p.contains("Window"), s"no window rank:\n$p")
  }

  test("knnGraph: one corpus exchange (the cell self-join), window group-limited") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ext.Similarity.knnGraph(emb))
    assert(p.contains("SortMergeJoin"),
      s"cell self-join must shuffle-merge (broadcast of a corpus side OOMs):\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-vector top-k must prune map-side:\n$p")
  }

  test("rank-filter top-k gets WindowGroupLimit map-side pruning (Partial before the exchange)") {
    val p = plan(ShapeQueries.userTopEvents(spark, sf))
    // Spark 4 inserts WindowGroupLimit Partial below the shuffle for
    // row_number()<=k filters — each map task forwards at most k rows
    // per key instead of its whole partition. Pin it: losing this (an
    // expression rewrite that breaks the pattern match) silently turns
    // per-key top-k back into a full shuffle of every row.
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"map-side window group limit expected:\n$p")
  }

  test("cleaning + analytics stay inside whole-stage codegen") {
    // AQE finalizes (and codegens) stages only at execution: run first,
    // then read the final adaptive plan.
    val (pin, geo, _) = graft.pipeline.PinQueries.cleanedTables(spark, sf)
    val q = graft.pipeline.PinQueries.q1(pin, geo)
    q.collect()
    val p = plan(q)
    // the final adaptive plan renders WholeStageCodegen stages as the
    // `*(id)` operator prefix
    assert(p.contains("*("),
      s"codegen must cover the hot path:\n${p.take(1200)}")
  }

  test("polyhash64 participates in codegen (no CodegenFallback fence)") {
    val df = spark.range(4).select(
      graft.functions.PolyHash64.polyhash64(col("id").cast("string")).as("h"))
    // CollapseCodegenStages only keeps expressions with working doGenCode
    // inside a WholeStageCodegen stage; a fallback would show `Project`
    // outside any codegen node for this single-projection plan.
    assert(!codegenExplain(df).contains("Found 0 WholeStage"), codegenExplain(df).take(800))
    // and the generated value must equal the interpreted eval
    val h = df.collect().map(_.getLong(0))
    assert(h.toSeq == Seq("0", "1", "2", "3").map(s =>
      s.getBytes("UTF-8").foldLeft(0L)((acc, b) => acc * 1000003L + (b & 0xffL))))
  }

  test("vocabCoverage: max-cut head is TakeOrderedAndProject, no vocab-wide sort") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.TextAnalysis.vocabCoverage(d))
    assert(p.contains("TakeOrderedAndProject"),
      s"head cut must be map-side pruned:\n${p.take(1500)}")
  }

  test("winnowCandidates: fp self-join is shuffle-merged, never broadcast") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.Dedup.winnowCandidates(d))
    assert(p.contains("SortMergeJoin"),
      s"fingerprint self-join must be shuffle-merged:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), "no cartesian products")
  }

  test("temperatureWeights: pure length projection, no token explode") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.Sampling.temperatureWeights(d))
    assert(!p.contains("Generate"),
      s"token counting must be size(split), not an explode:\n${p.take(1500)}")
  }

  test("weightedSample: key is a scan projection, top-k is TakeOrderedAndProject") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("weight"))
    val p = plan(graft.ext.Sampling.weightedSample(docs, "weight", 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must map-side prune, not global-sort:\n${p.take(1500)}")
    // the A-ES key is a pure projection: no join, no pre-top-k exchange
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"key computation must not join:\n${p.take(1500)}")
  }

  test("skewReport: top-k is TakeOrderedAndProject over one count agg") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val p = plan(graft.ext.SkewJoin.skewReport(ev, "event_type"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k cut:\n${p.take(1500)}")
  }

  test("sourceHealthReport: one pinned (source, tok) table feeds every token branch") {
    // the scaladoc claim pinned: lexicalDiversity, klDivergence and
    // zipfFit all derive from the IDENTICAL (source, tok) count
    // aggregate, pinned ONCE. The naive composition relied on AQE
    // exchange reuse, which silently failed — per-branch isnotnull
    // join pushdowns broke canonical equality and every branch
    // re-planned its own tokenize (3× the corpus explode). This pin
    // fails if any branch stops reading the pinned counts.
    import org.apache.spark.sql.execution.{GenerateExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.ext.TextAnalysis.sourceHealthReport(d)
    val counts = q.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.output.map(_.name) == Seq("source", "tok", "cnt") => r.rdd
    }.distinct
    assert(counts.size == 1 && counts.head.name == graft.ext.Pin.Tag,
      s"the (source, tok) counts must be one eager pin: $counts")
    q.collect() // stage decisions are made at runtime
    val root = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // QueryStageExec nodes are leaves to collect(); recurse into every
    // stage (broadcast stages wrap shuffle stages in their subtree)
    def stages(p: SparkPlan): Seq[QueryStageExec] =
      p.collect { case s: QueryStageExec => s }
        .flatMap(s => s +: stages(s.plan))
    val all = stages(root)
    // the pin is scanned once per token-level branch: the
    // tokenize+count ran ONCE (in the pin build), and ≥3 scans of the
    // pin's checkpoint read it
    val pinScans = (root.collect { case s: RDDScanExec => s } ++
      all.flatMap(_.plan.collect { case s: RDDScanExec => s }))
      .filter(_.rdd eq counts.head)
    assert(pinScans.size >= 3,
      s"all three token-level branches must read the pinned counts, " +
        s"got ${pinScans.size} pin scans")
    // the pin build holds the tokenize, so the only explode left is
    // the char-entropy one — a second means a branch re-planned it
    val genStages = all.collect { case s: ShuffleQueryStageExec => s }
      .groupBy(_.id).values.map(_.head)
      .count(_.plan.collect { case g: GenerateExec => g }.nonEmpty)
    val genTop = root.collect { case g: GenerateExec => g }.size
    assert(genStages + genTop <= 1,
      s"tokenize must not be re-planned per branch " +
        s"($genStages explode-bearing stages + $genTop top-level)")
    assert(!root.toString.contains("CartesianProduct"), "no cartesian products")
    graft.ext.Pin.reset()
  }

  test("cmsHeavyHitters: broadcast verify join, no cartesian; CMS partial-aggregates") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    // the kept sliver is pinned (double-build rule), so the
    // FINAL plan is the verify join over an ExistingRDD scan — the
    // sketch pass itself is pinned on the lazily-composed cmsTokenFreq,
    // which runs the identical matrix aggregate
    val p = plan(graft.ext.Sketches.cmsHeavyHitters(d))
    assert(!p.contains("CartesianProduct"), "no cartesian products")
    assert(p.contains("BroadcastHashJoin"),
      s"verify must broadcast the kept sliver:\n${p.take(1200)}")
    val sketchPlan = plan(graft.ext.Sketches.cmsTokenFreq(d, Seq("spark")))
    assert(sketchPlan.contains("partial_cms_sketch"),
      "the CMS matrix must partial-aggregate before the exchange")
  }

  test("bloomFprAudit: probe side joins the bit set broadcast") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ext.Sketches.bloomFprAudit(d))
    assert(!p.contains("CartesianProduct"), "no cartesian products")
    assert(p.contains("BroadcastHashJoin"),
      s"bit-set membership must be a broadcast join:\n${p.take(1200)}")
  }
}
