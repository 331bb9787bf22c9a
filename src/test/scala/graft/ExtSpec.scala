package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Profiling, Sampling, Similarity, SkewJoin, TextAnalysis}
import graft.functions.PolyHash64.polyhash64

/** Specs for the training-data extension operators on crafted inputs
  * with known answers. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different words about spark shuffles partitions and codegen stages"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "otra frase totalmente distinta en otro idioma con palabras diferentes aqui")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 0&3 merge
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, distinct absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.7 && pairs((0L, 1L)) < 1.0)
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((2L, 4L)))
  }

  test("minhash LSH finds the exact-dup and near-dup candidate pairs") {
    val pairs = Dedup.minhashLshPairs(docs, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 3L)) == 1.0) // identical signatures
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("simhash: identical docs at hamming 0, unrelated docs far") {
    val sh = Dedup.simhash64(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L))
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(2L)) > 10)
  }

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.999f, 0.04f, 0f, 0f)), // nearly parallel to 0
    (2L, Array(0f, 1f, 0f, 0f)),        // orthogonal
    (3L, Array(-1f, 0f, 0f, 0f)),       // opposite
    (4L, Array(0.7f, 0.7f, 0f, 0f))     // 45 degrees
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k ranks by true angle") {
    val got = Similarity.bruteForceTopK(vecs, 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 4L, 2L, 3L))
    assert(math.abs(got(2)._2 - math.sqrt(0.5)) < 1e-3) // 45deg ~ 0.707
    assert(got(3)._2 == 0.0 && got(4)._2 == -1.0)
  }

  test("LSH top-k finds the near-parallel vector for probe 0") {
    val got = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 0), k = 2, planes = 4)
      .collect().map(_.getLong(1))
    assert(got.contains(1L)) // same half-spaces as the probe
  }

  test("polyhash64 matches the reference recurrence and discriminates") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 1000003L + (b & 0xffL))
    val got = docs.select($"doc_id", polyhash64($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) => assert(got(id) == ref(t)) }
    assert(got(0L) == got(3L) && got(0L) != got(1L))
  }

  test("langId picks the right stopword profile, CJK override works") {
    val samples = Seq(
      (1L, "the cat and the dog sat in the garden of a house"),
      (2L, "el perro y el gato en la casa de un amigo que no es grande"),
      (3L, "der Hund und die Katze ist nicht in das Haus mit dir"),
      (4L, "le chien et le chat est dans la maison que je ne vois pas"),
      (5L, "你好世界这是中文")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langId(samples)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh"))
  }

  test("text stats count tokens/uniques/chars correctly") {
    val one = Seq((9L, "a bb a ccc")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(one).head()
    assert(r.getAs[Int]("n_tokens") == 4)
    assert(r.getAs[Int]("n_uniq_tokens") == 3)
    assert(r.getAs[Int]("n_chars_calc") == 10)
    assert(r.getAs[Int]("n_spaces") == 3)
    assert(r.getAs[Double]("type_token_ratio") == 0.75)
  }

  test("multimodal: stub decode is deterministic, features fixed-dim") {
    val assets = Multimodal.toAssets(
      Seq((1L, "abcd", "en", "s", 4L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val f = Multimodal.extractFeatures(spark, assets).collect().head
    assert(f.features.length == Multimodal.DecodeStub.FeatureDim)
    assert(f.n_bytes == 4)
    // mean of 'a','b','c','d' byte values = (97+98+99+100)/4
    assert(f.mean_luma == 98.5)
    val again = Multimodal.extractFeatures(spark, assets).collect().head
    assert(f.features.toSeq == again.features.toSeq)
  }

  test("portable minhash: exact duplicates always collide, disjoint texts never pair") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val syn = Seq(
      (1L, dup), (2L, dup), (4L, dup), // identical sigs -> every band collides
      (3L, "totally different words that share no shingle at all whatsoever")
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.minhashLshPairsPortable(syn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got.forall(_._3 == 1.0))
    // and on the real fixture it agrees with the xxhash variant's pairs
    // on the strong (est = 1.0-ish) candidates
    val real = spark.read.parquet(s"$sf/documents.parquet")
    def strong(df: org.apache.spark.sql.DataFrame) =
      df.where(col("est_jaccard") >= 0.9).select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = strong(graft.ext.Dedup.minhashLshPairsPortable(real))
    val x = strong(graft.ext.Dedup.minhashLshPairs(real))
    assert(p.nonEmpty && (p intersect x).size * 10 >= p.size * 9,
      s"portable and xxhash variants should agree on strong pairs: ${p.size} vs ${x.size}")
  }

  test("scrubPii: redacts emails/IPs/phones in order, counts on original") {
    val docs = Seq(
      (1L, "mail me at a.b+c@ex-ample.co.uk today"),
      (2L, "server 192.168.0.1 and 10.0.0.255 up"),
      (3L, "call 555-123-4567 now"),
      (4L, "clean text with no pii at all"),
      (5L, "x@y.io from 1.2.3.4 tel 555-000-1111")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) == ("mail me at <EMAIL> today", 1, 0, 0))
    assert(got(2L) == ("server <IP> and <IP> up", 0, 2, 0))
    assert(got(3L) == ("call <PHONE> now", 0, 0, 1))
    assert(got(4L) == ("clean text with no pii at all", 0, 0, 0))
    assert(got(5L) == ("<EMAIL> from <IP> tel <PHONE>", 1, 1, 1))
  }

  test("repetitionScore: looping text scores high, varied text zero") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"), // one distinct 3-gram
      (2L, "all words here are fully distinct"),
      (3L, "ab cd") // under w: single clamped shingle, ratio 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4, 1, 0.75)))
    assert(got(2L) == ((4, 4, 0.0)))
    assert(got(3L) == ((1, 1, 0.0)))
  }

  test("tfidfTopTerms: rare distinctive terms outrank ubiquitous ones") {
    val docs = Seq(
      (1L, "common common common zebra"),
      (2L, "common common quark quark"),
      (3L, "common plain words here")
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.tfidfTopTerms(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(-_._3).map(_._2).toSeq).toMap
    // "common" is in every doc → idf 0 → never the top term
    assert(got(1L).head == "zebra", got(1L).toString)
    assert(got(2L).head == "quark", got(2L).toString)
    assert(!got(3L).headOption.contains("common") || got(3L).size > 1)
    // every q_tfidf for "common" is exactly 0 (ln(3/3) = 0)
    val common = graft.ext.TextAnalysis.tfidfTopTerms(docs, k = 4)
      .where(col("tok") === "common").select("q_tfidf")
      .collect().map(_.getLong(0))
    assert(common.nonEmpty && common.forall(_ == 0L))
  }

  test("clusterBalancedSample: per-cluster cap enforced, subset of assignment") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sampled = graft.ext.Similarity.clusterBalancedSample(emb, k = 4,
      iters = 1, cap = 10)
    val per = sampled.groupBy("cluster").count().collect().map(_.getLong(1))
    assert(per.forall(_ <= 10), s"cap violated: ${per.mkString(",")}")
    val assigned = graft.ext.Similarity.kmeansAssign(emb, k = 4, iters = 1)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val samp = sampled.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(samp.subsetOf(assigned), "sample must be a subset of the assignment")
  }

  test("pqEncode/pqTopK: codes dense, ADC distances match a from-scratch recompute") {
    // synthetic corpus: 120 vectors, dim 8, m=4 -> 2-dim blocks;
    // codebook seeds vec_id % 50 == 0 -> ids {0, 50, 100} -> K=3
    val emb = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 7 + d * 3) % 11) - 5).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val m = 4
    val enc = Similarity.pqEncode(emb, m = m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(enc.size == 120 && enc.values.forall(cs =>
      cs.length == m && cs.forall(c => c >= 0 && c < 3)))

    // from-scratch reference: quantize, slice, argmin per block, ADC
    def quant(i: Long): Array[Long] = Array.tabulate(8)(d =>
      Math.round(((((i * 7 + d * 3) % 11) - 5).toFloat / 10f).toDouble * 1000))
    def blk(v: Array[Long], j: Int): Array[Long] = v.slice(j * 2, j * 2 + 2)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = Seq(0L, 50L, 100L).map(quant)
    def codeOf(v: Array[Long], j: Int): Long =
      seeds.zipWithIndex.minBy { case (s, c) => (d2(blk(v, j), blk(s, j)), c) }._2
    (0L until 120L).foreach { i =>
      val expect = (0 until m).map(j => codeOf(quant(i), j))
      assert(enc(i) == expect, s"codes for vec $i: ${enc(i)} vs $expect")
    }

    val probes = emb.where(col("vec_id") % 100 === 0) // {0, 100}
    val got = Similarity.pqTopK(emb, probes, k = 5, m = m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def adist(p: Long, v: Long): Long = (0 until m).map { j =>
      d2(blk(quant(p), j), blk(seeds(codeOf(quant(v), j).toInt), j))
    }.sum
    val expectTop = Seq(0L, 100L).flatMap { p =>
      (0L until 120L).filter(_ != p).map(v => (p, v, adist(p, v)))
        .sortBy { case (_, v, d) => (d, v) }.take(5)
    }.map { case (p, v, d) => (p, v) -> d }.toMap
    assert(got == expectTop, s"pqTopK: $got vs $expectTop")

    // IVF-PQ: candidates restricted to the probe's nprobe=2 nearest
    // cells (cosine argmax assignment, seed ids as cell ids), then the
    // same ADC scoring — recomputed from scratch
    def cos(a: Array[Long], b: Array[Long]): Double = {
      def dot(x: Array[Long], y: Array[Long]): Long =
        x.zip(y).map { case (p, q) => p * q }.sum
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    }
    val seedIds = Seq(0L, 50L, 100L)
    def cellOf(v: Array[Long]): Long =
      seedIds.minBy(s => (-cos(v, quant(s)), s))
    def probeCells(p: Array[Long], nprobe: Int): Set[Long] =
      seedIds.sortBy(s => (-cos(p, quant(s)), s)).take(nprobe).toSet
    val gotIvfPq = Similarity.ivfPqTopK(emb, probes, k = 5, nprobe = 2, m = m)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expectIvfPq = Seq(0L, 100L).flatMap { p =>
      val cells = probeCells(quant(p), 2)
      (0L until 120L).filter(v => v != p && cells.contains(cellOf(quant(v))))
        .map(v => (p, v, adist(p, v)))
        .sortBy { case (_, v, d) => (d, v) }.take(5)
    }.map { case (p, v, d) => (p, v) -> d }.toMap
    assert(gotIvfPq == expectIvfPq, s"ivfPqTopK: $gotIvfPq vs $expectIvfPq")

    // two-stage serving: ADC shortlist at depth r=8 (adist ASC, vec_id
    // ASC cut), exact-cosine re-rank to top-3 — recomputed from
    // scratch; r is below the per-probe candidate count so the cut
    // bites, and k < r so the re-rank provably reorders
    val gotRr = Similarity.ivfPqRerank(emb, probes, k = 3, r = 8,
      nprobe = 2, m = m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expectRr = Seq(0L, 100L).flatMap { p =>
      val cells = probeCells(quant(p), 2)
      val short = (0L until 120L)
        .filter(v => v != p && cells.contains(cellOf(quant(v))))
        .map(v => (v, adist(p, v)))
        .sortBy { case (v, d) => (d, v) }.take(8).map(_._1)
      short.map(v => (p, v, cos(quant(p), quant(v))))
        .sortBy { case (_, v, c) => (-c, v) }.take(3)
    }.map { case (p, v, c) => (p, v) -> c }.toMap
    assert(gotRr == expectRr, s"ivfPqRerank: $gotRr vs $expectRr")

    // residual IVF-PQ (IVFADC proper): PQ codes on r = v - centroid,
    // probe residual per probed CELL, codebook from the %37 stride
    // (ids {0,37,74,111} -> K=4) — recomputed from scratch
    def residOf(v: Array[Long]): Array[Long] = {
      val c = quant(cellOf(v))
      v.zip(c).map { case (x, y) => x - y }
    }
    val bookIds = (0L until 120L).filter(_ % 37 == 0) // 0, 37, 74, 111
    val bookRes = bookIds.map(i => residOf(quant(i)))
    def rcodeOf(r: Array[Long], j: Int): Int =
      bookRes.zipWithIndex.minBy { case (b, c) => (d2(blk(r, j), blk(b, j)), c) }._2
    val gotRes = Similarity.ivfPqResidualTopK(emb, probes, k = 5,
      nprobe = 2, m = m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expectRes = Seq(0L, 100L).flatMap { p =>
      val cells = probeCells(quant(p), 2)
      val cand = (0L until 120L)
        .filter(v => v != p && cells.contains(cellOf(quant(v))))
        .map { v =>
          val vc = cellOf(quant(v))
          val pr = quant(p).zip(quant(vc)).map { case (x, y) => x - y }
          val ad = (0 until m).map { j =>
            d2(blk(pr, j), blk(bookRes(rcodeOf(residOf(quant(v)), j)), j))
          }.sum
          (p, v, ad)
        }
      cand.sortBy { case (_, v, d) => (d, v) }.take(5)
    }.map { case (p, v, d) => (p, v) -> d }.toMap
    assert(gotRes == expectRes, s"ivfPqResidualTopK: $gotRes vs $expectRes")
  }

  test("kcenterSample: greedy picks match a from-scratch recompute; radius curve monotone") {
    val emb = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 7 + d * 3) % 11) - 5).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val k = 5
    val got = graft.ext.Similarity.kcenterSample(emb, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def quant(i: Long): Array[Long] = Array.tabulate(8)(d =>
      Math.round(((((i * 7 + d * 3) % 11) - 5).toFloat / 10f).toDouble * 1000))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // greedy reference: seed 0, then (min-dist DESC, vec_id ASC) argmax
    val sel = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, 0L))
    for (_ <- 2 to k) {
      val (v, d) = (0L until 120L)
        .map(v => (v, sel.map(s => d2(quant(v), quant(s._1))).min))
        .maxBy { case (v, d) => (d, -v) }
      sel += ((v, d))
    }
    val expect = sel.zipWithIndex.map { case ((v, d), i) => (i + 1L, v, d) }
    assert(got.toSeq == expect.toSeq, s"kcenter: ${got.toSeq} vs $expect")
    // radius curve monotone non-increasing after the seed
    val ds = got.drop(1).map(_._3)
    assert(ds.zip(ds.drop(1)).forall { case (a, b) => a >= b }, ds.toSeq.toString)
  }

  test("classifierScore: margin matches a from-scratch hashed-ngram recompute") {
    val rows = Seq((0L, "the cat sat"), (1L, "dog"), (2L, "a b a b a"),
      (3L, "one two three four five"))
    val docs = rows.toDF("doc_id", "text")
    val dim = 32
    val weights = spark.range(dim).select(col("id").as("bucket"),
      ((col("id") * 48271L + 7L) % 2001L - 1000L).as("w"))
    val got = graft.ext.TextAnalysis.classifierScore(docs, weights, dim = dim)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    // from-scratch: Lehmer char hash (acc*31 + cp mod 2^31-1, seed 7),
    // unigrams + U+0001-joined bigrams, synthetic weight table
    def hash(s: String): Long =
      s.codePoints.toArray.foldLeft(7L)((a, c) => (a * 31 + c) % 2147483647L)
    def w(b: Long): Long = (b * 48271L + 7L) % 2001L - 1000L
    rows.foreach { case (id, t) =>
      val ws = t.trim.split("\\s+").toSeq
      val fs = ws ++ ws.zip(ws.drop(1)).map { case (a, b) => a + "\u0001" + b }
      val s = fs.map(f => w(hash(f) % dim)).sum
      val margin = s.toDouble / fs.size
      assert(got(id) == ((fs.size, margin, margin >= 0.0)),
        s"doc $id: ${got(id)} vs (${fs.size}, $margin)")
    }
    // the fixture-scale weight table must produce BOTH keep outcomes
    assert(got.values.exists(_._3) && got.values.exists(!_._3),
      s"threshold should bite: $got")
  }

  test("bpeLearnMerges: hand-computed merge sequence, tie-breaks, early exhaustion") {
    // corpus "low low lower": words low:2, lower:1
    // pairs r1: (l,o):3 (o,w):3 (w,e):1 (e,r):1 -> tie pf=3, lex -> (l,o)
    // r2: (lo,w):3 -> (lo,w)   r3: (low,e):1 (e,r):1 -> lex -> (e,r)
    // r4: (low,er):1           r5: no pairs -> early stop at 4 of 8
    val corpus = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeLearnMerges(corpus, nMerges = 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "l", "o", 3L), (2, "lo", "w", 3L),
      (3, "e", "r", 1L), (4, "low", "er", 1L)), got.toString)
    // greedy left-to-right within a word: "aaaa" merges (a,a) twice
    val rep = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val g2 = TextAnalysis.bpeLearnMerges(rep, nMerges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // r1: (a,a) appears at 3 adjacent positions x 2 words = 6
    // after greedy replace: aa|aa -> r2: (aa,aa):2
    assert(g2 == Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)), g2.toString)

    // apply: after the 4 learned merges, "low"->[low] (1 symbol) and
    // "lower"->l|o|w|e|r ->(l,o)->(lo,w)-> low|e|r ->(e,r)-> low|er
    // ->(low,er)-> [lower] (1); doc = "low low lower" -> 1+1+1 = 3
    val applied = TextAnalysis.bpeApplyCount(corpus,
      got.map(m => (m._2, m._3))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(applied == Map(1L -> 3L), applied.toString)
    // a prefix of the merge list leaves "lower" partially merged:
    // first 3 merges -> "low" = [low], "lower" = low|er (2) -> 1+1+2 = 4
    val partial = TextAnalysis.bpeApplyCount(corpus,
      got.take(3).map(m => (m._2, m._3))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial == Map(1L -> 4L), partial.toString)
  }

  test("normalizeText: NFC composition, case fold, whitespace collapse") {
    val docs = Seq(
      (1L, "Cafe\u0301  du\tMonde"),  // combining acute -> precomposed e-acute
      (2L, "  A\u030a  B  "),          // combining ring -> a-ring (lowered)
      (3L, "\u212b plain"),            // ANGSTROM SIGN -> A-ring singleton -> lowered
      (4L, "already clean")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.normalizeText(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got(1L) == (("caf\u00e9 du monde", 13)), got.toString)
    assert(got(2L) == (("\u00e5 b", 3)), got.toString)
    assert(got(3L) == (("\u00e5 plain", 7)), got.toString)
    assert(got(4L) == (("already clean", 13)), got.toString)
  }

  test("signalCorrelation: matches a driver-side Pearson recompute") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = graft.ext.TextAnalysis.signalCorrelation(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(got.size == 3 && got.values.forall(v => v >= -1.0 && v <= 1.0))
    // reference: quantized signals collected, exact BigInt moments
    val perRow = graft.ext.TextAnalysis.withRepetition(
      graft.ext.TextAnalysis.withQuality(docs))
      .select(col("doc_id"), col("quality"), col("repetition"))
    val lm = graft.ext.TextAnalysis.lmQuality(docs)
      .select(col("doc_id"), col("mean_logprob"))
    // HALF_UP (away from zero), matching Spark/DuckDB round — NOT
    // math.round, whose ties go toward +infinity on negatives (the LM
    // signal is negative-valued)
    def q6(x: Double): Long = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val rows = perRow.join(lm, "doc_id").collect().map(r =>
      (q6(r.getDouble(1)), q6(r.getDouble(3)), q6(r.getDouble(2))))
    def pear(xs: Seq[Long], ys: Seq[Long]): Double = {
      val n = BigInt(xs.length)
      val (sx, sy) = (xs.map(BigInt(_)).sum, ys.map(BigInt(_)).sum)
      val sxx = xs.map(x => BigInt(x) * x).sum
      val syy = ys.map(y => BigInt(y) * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
      (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (math.sqrt(n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
          math.sqrt(n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
    }
    val (q, l, p) = (rows.map(_._1).toSeq, rows.map(_._2).toSeq, rows.map(_._3).toSeq)
    assert(math.abs(got(("quality", "lm")) - pear(q, l)) < 1e-12)
    assert(math.abs(got(("quality", "repetition")) - pear(q, p)) < 1e-12)
    assert(math.abs(got(("lm", "repetition")) - pear(l, p)) < 1e-12)
  }

  test("spanCorruption: hand-checked masks, sentinels, targets, short docs") {
    // stride 4, span 2 -> 50% mask; doc 0 has off = 0
    val docs = Seq((0L, "t0 t1 t2 t3 t4 t5 t6 t7"), (1L, "a b")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.spanCorruption(docs, spanLen = 2, stride = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)))).toMap
    // off(0) = 0: spans at 0-1 and 4-5 (8 tokens -> 2 complete spans)
    assert(got(0L) == ((8, 2,
      "<extra_id_0> t2 t3 <extra_id_1> t6 t7",
      "<extra_id_0> t0 t1 <extra_id_1> t4 t5")), got.toString)
    // doc 1: off(1) = ((1 % 1000003) * 2654435761) % 4; 2 tokens can
    // only host a span if off == 0 — either way the contract holds:
    // n_spans complete spans, rest untouched
    val (n1, s1, c1, t1) = got(1L)
    assert(n1 == 2 && (s1 == 0 && c1 == "a b" && t1 == "" ||
      s1 == 1 && c1 == "<extra_id_0>" && t1 == "<extra_id_0> a b"), got.toString)
    // default 3/20: masked fraction over the fixture ~= 15%
    val fx = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sc = graft.ext.TextAnalysis.spanCorruption(fx).collect()
    val masked = sc.map(r => 3L * r.getInt(2)).sum.toDouble
    val total = sc.map(_.getInt(1).toLong).sum.toDouble
    assert(masked / total > 0.10 && masked / total <= 0.16,
      s"masked fraction ${masked / total}")
  }

  test("bigramLmQualityInterp: hand-computed interpolated scores") {
    // corpus: "a b" (1), "a c" (2): bigrams (a,b):1, (a,c):1; cf(a)=2
    // unigrams: a:2, b:1, c:1; total 4
    // q(a,b) = round(ln(0.75*(1/2) + 0.25*(1/4))*1e6) for both pairs
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val q = math.round(math.log(0.75 * (1.0 / 2.0) + 0.25 * (1.0 / 4.0)) * 1000000)
    val got = graft.ext.TextAnalysis.bigramLmQualityInterp(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((1L, q)), 2L -> ((1L, q))), s"$got vs q=$q")
    // interpolation floor: an unseen-in-context but common next token
    // scores above the pruned backoff's ln(1/cf) cliff by construction
    assert(q > math.round(math.log(1.0 / 2.0) * 1000000) -
      math.round(math.log(0.75) * 1000000).abs)
  }

  test("knnLabelAccuracy: matches a per-vector majority recompute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val acc = graft.ext.Similarity.knnLabelAccuracy(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(acc.nonEmpty && acc.values.forall { case (n, c, a) =>
      c <= n && a == c.toDouble / n })
    // reference: recompute the majority from the graph + labels
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nbrs = graft.ext.Similarity.knnGraph(emb).select("vec_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val correct = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    nbrs.foreach { case (v, ns) =>
      val votes = ns.groupBy(labels).view.mapValues(_.size).toMap
      val pred = votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      val lab = labels(v)
      val (n, c) = correct.getOrElse(lab, (0L, 0L))
      correct(lab) = (n + 1, c + (if (pred == lab) 1 else 0))
    }
    assert(acc.view.mapValues(v => (v._1, v._2)).toMap == correct.toMap,
      s"$acc vs $correct")
  }

  test("knnPageRank: mass conservation, centrality ordering, determinism") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pr = graft.ext.Similarity.knnPageRank(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pr.nonEmpty)
    // integer mass stays within floor-loss of the full SCALE unit
    val total = pr.map(_._2).sum
    val n = pr.length
    assert(total <= 1000000000000L && total >= 1000000000000L - 100L * n,
      s"mass $total over $n nodes")
    // identical on a second run (exact integer trajectory)
    val pr2 = graft.ext.Similarity.knnPageRank(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pr.sortBy(_._1).toSeq == pr2.sortBy(_._1).toSeq)
  }

  test("shared kNN graph: from-edges consumers equal the self-building paths") {
    // the production shape: materialize the graph ONCE, feed every
    // consumer — must be result-identical to each consumer building
    // its own graph (and the materialized table pays the kNN join 0×)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val edges = graft.ext.Similarity.knnGraph(emb).localCheckpoint()
    val prShared = graft.ext.Similarity.pageRankFromEdges(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val prSelf = graft.ext.Similarity.knnPageRank(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(prShared == prSelf)
    val lbl = emb.select("vec_id", "label")
    val accShared = graft.ext.Similarity.labelAccuracyFromEdges(edges, lbl)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val accSelf = graft.ext.Similarity.knnLabelAccuracy(emb)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(accShared == accSelf)
  }

  test("bm25MultiTopK: per-query slices equal the single-query operator (recall 1.0)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val qsets = Map(1L -> Seq("spark", "merge"), 2L -> Seq("vector", "spark"),
      3L -> Seq("merge", "vector"))
    val q = qsets.toSeq.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query_id", "term")
    val multi = graft.ext.TextAnalysis.bm25MultiTopK(docs, q, k = 5).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    // the batch path must lose nothing vs the oracle-verified
    // single-query operator: same docs, same integer scores, same
    // term counts, per query — the lexical recall@k harness
    for ((id, terms) <- qsets) {
      val single = graft.ext.TextAnalysis.bm25TopK(docs, terms, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(multi(id) == single, s"query $id diverges from single-query path")
    }
  }

  test("annTopK dispatcher: result-identical to each tier; unknown strategy rejects") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 50 === 0)
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.get(2) match { case d: Double => d; case l: Long => l.toDouble }))
        .sortBy(t => (t._1, t._2)).toSeq
    import graft.ext.Similarity._
    val tiers: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "brute" -> bruteAllTopK(emb, probes, 3),
      "lsh" -> lshTopK(emb, probes, 3),
      "ivf" -> ivfTopK(emb, probes, 3),
      "sq" -> sqTopK(emb, probes, 3),
      "pq" -> pqTopK(emb, probes, 3),
      "ivfpq" -> ivfPqTopK(emb, probes, 3),
      "ivfpq_residual" -> ivfPqResidualTopK(emb, probes, 3),
      "ivfpq_rerank" -> ivfPqRerank(emb, probes, 3),
      "matryoshka" -> matryoshkaTopK(emb, probes, 3))
    tiers.foreach { case (s, direct) =>
      assert(key(annTopK(emb, probes, 3, strategy = s)) == key(direct),
        s"dispatcher must equal direct call for strategy $s")
    }
    // brute is the truth: every tier's hits are a subset check is done
    // in the recall probe; here just pin the exact tier agrees with the
    // recall-harness formulation (cosine, k, tie-break)
    intercept[IllegalArgumentException] {
      annTopK(emb, probes, 3, strategy = "hnsw")
    }
  }

  test("matryoshkaTopK: corpus-deep shortlist recovers exact brute-force top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 50 === 0)
    val n = emb.count().toInt
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(graft.ext.Similarity.bruteAllTopK(emb, probes, k = 5))
    // with r = |corpus| the prefix stage cannot drop a true neighbor,
    // so the full-dim re-rank must equal exact brute force even at a
    // 4-dim prefix
    val full = key(graft.ext.Similarity.matryoshkaTopK(emb, probes,
      k = 5, r = n, dims = 4))
    assert(full == exact, "r = corpus depth must recover the exact top-k")
    // shallow shortlist still returns k rows per probe with exact
    // full-dim cosines (scores are re-ranked, never prefix scores)
    val shallow = graft.ext.Similarity.matryoshkaTopK(emb, probes,
      k = 5, r = 10, dims = 16).collect()
    val perProbe = shallow.groupBy(_.getLong(0))
    assert(perProbe.values.forall(_.length == 5))
    val exactScores = graft.ext.Similarity.bruteAllTopK(emb, probes, k = n)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    shallow.foreach { r =>
      assert(r.getDouble(2) == exactScores((r.getLong(0), r.getLong(1))),
        "reported scores must be the exact full-dim cosine")
    }
  }

  test("knnPageRank: localCheckpoint cadence is a semantic no-op; iters=20 completes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // count persisted non-checkpoint RDDs before/after: every store in
    // the pageRank path is a pin (checkpoint RDDs are excluded here;
    // `Pin.reset` releases them, see the lifetime test below)
    def cachedCount: Int = spark.sparkContext.getPersistentRDDs.values
      .count(r => !r.isCheckpointed)
    val cachedBefore = cachedCount
    // 9 iterations crossing two checkpoint cuts (every 3) must produce
    // bit-identical integer scores vs the same 9 iterations composed as
    // one lazy plan (cadence beyond iters => no cut ever fires)
    val cut = graft.ext.Similarity.knnPageRank(emb, iters = 9, checkpointEvery = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val lazyP = graft.ext.Similarity.knnPageRank(emb, iters = 9, checkpointEvery = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(cut == lazyP)
    // the depth-hazard configuration runs to completion with the
    // default cadence, and its 20-iteration trajectory extends (not
    // diverges from) the 9-iteration prefix's mass conservation
    val pr20 = graft.ext.Similarity.knnPageRank(emb, iters = 20).collect()
    assert(pr20.length == cut.length)
    val total = pr20.map(_.getLong(1)).sum
    assert(total <= 1000000000000L && total >= 1000000000000L - 100L * pr20.length)
    // the three runs above store only pins (checkpoint RDDs, excluded
    // above): repeated invocations must NOT grow the non-checkpoint set.
    assert(cachedCount <= cachedBefore + 3,
      s"no per-invocation growth of non-checkpoint persisted RDDs: $cachedBefore -> $cachedCount")
  }

  test("Pin.reset releases every dropped pin's checkpoint blocks; withDisabled nests") {
    import graft.ext.Pin
    val sc = spark.sparkContext
    Pin.reset()
    val pins = Seq(
      Pin.eager(spark.range(100).toDF("id").where(col("id") % 3 === 0)),
      Pin.eager(spark.range(50).toDF("x").groupBy((col("x") % 5).as("k")).count()))
    val ids = pins.flatMap(Pin.checkpointRdd).map(_.id)
    assert(ids.size == 2 && ids.forall(sc.getPersistentRDDs.contains))
    Pin.reset()
    assert(!ids.exists(sc.getPersistentRDDs.contains), "no pin RDD stays persisted")
    assert(!sc.getRDDStorageInfo.exists(i => ids.contains(i.id) && i.numCachedPartitions > 0),
      "no pin block stays stored")

    val df = spark.range(10).toDF("id")
    Pin.withDisabled {
      Pin.withDisabled(())
      assert(Pin.eager(df) eq df, "leaving the inner scope must not re-enable pins")
    }
    val pinned = Pin.eager(df)
    assert(!(pinned eq df) && Pin.checkpointRdd(pinned).nonEmpty)
    Pin.reset()
  }

  test("Pin.reset leaves Pin.kept and plain localCheckpoint frames readable") {
    import graft.ext.Pin
    val sc = spark.sparkContext
    Pin.reset()
    val kept = Pin.kept(spark.range(20).toDF("id"))
    val plain = spark.range(30).toDF("id").localCheckpoint()
    val pinned = Pin.eager(spark.range(40).toDF("id"))
    assert(Pin.pinRdds(sc).map(_.id).toSet ==
      Pin.checkpointRdd(pinned).map(_.id).toSet, "only the eager pin is tagged")
    Pin.reset()
    assert(Pin.pinRdds(sc).isEmpty)
    assert(kept.count() == 20 && plain.count() == 30)
    assert(Pin.withDisabled(Pin.kept(plain)).ne(plain), "kept builds even when disabled")
  }

  test("every operator that stores a frame stores it as a pin: Pin.reset releases them all") {
    import graft.ext.{Indexing, Pin, Sketches}
    val sc = spark.sparkContext
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Pin.reset()
    val before = sc.getPersistentRDDs.keySet.toSet
    Seq(
      Similarity.knnPageRank(emb, iters = 3, checkpointEvery = 2),
      Similarity.pageRankFromEdges(Pin.eager(Similarity.knnGraph(emb))),
      Similarity.embeddingOutliers(emb),
      TextAnalysis.lmQualityBuckets(d),
      TextAnalysis.clusterTopTerms(d, Similarity.kmeansAssign(emb, k = 8, iters = 2)),
      TextAnalysis.sourceHealthReport(d),
      Multimodal.imageDupVerified(spark, Multimodal.toAssets(
        d.withColumn("n_chars", length(col("text")).cast("long")))),
      Sketches.cmsHeavyHitters(d),
      Sketches.bloomFprAudit(d),
      Sketches.hllUnionSources(d),
      Indexing.stableRowIds(d.select("doc_id"), Seq("doc_id")),
      Sampling.negativeSamples(d)
    ).foreach(_.collect())
    assert(Pin.pinRdds(sc).nonEmpty)
    Pin.reset()
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"persisted after Pin.reset: ${left.values.map(r => s"${r.id} ${r.name}")}")
  }

  test("no .localCheckpoint() in src/main outside the fixture stub in SparkEntry.sharedRead") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    val files = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    // each call site as (file, the nearest enclosing `def`)
    val sites = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(lines(_).contains(".localCheckpoint()")).map { i =>
        val owner = (i to 0 by -1).iterator.map(lines)
          .collectFirst { case l if l.trim.matches("""(private |override )*def \w+.*""") =>
            l.trim.replaceFirst("""^(private |override )*def (\w+).*""", "$2") }
        (f.getFileName.toString, owner.getOrElse("?"))
      }
    }
    assert(sites == Seq(("SparkEntry.scala", "sharedRead")),
      s"store shared frames with Pin.eager / Pin.kept, not localCheckpoint: $sites")
  }

  /** Runs `f` under a fresh job group; returns its result and the
    * number of jobs submitted in that group, including those AQE
    * submits from its own threads, counted once the listener bus has
    * drained. */
  private def withJobCount[A](f: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"ExtSpec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ExtSpec job count")
      val out = try f finally sc.clearJobGroup()
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private val oneShuffle = spark.range(0, 5000, 1, 4).toDF("x")
    .groupBy((col("x") % 37).as("k"))
    .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))

  test("Pin.eager over a one-shuffle groupBy runs at most 2 jobs and keeps its rows") {
    import graft.ext.Pin
    Pin.reset()
    val (pinned, jobs) = withJobCount(Pin.eager(oneShuffle))
    assert(jobs >= 1 && jobs <= 2, s"the AQE map stage and the checkpoint job only: $jobs jobs")
    assert(pinned.collect().toSeq.map(_.toString).sorted ==
      oneShuffle.collect().toSeq.map(_.toString).sorted, "same rows as a multiset")
    Pin.reset()
  }

  test("Pin.eager reports the exact row count and stored bytes as its statistics") {
    import graft.ext.Pin
    val sc = spark.sparkContext
    Pin.reset()
    val pinned = Pin.eager(oneShuffle)
    val stats = pinned.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(37)))
    val id = Pin.checkpointRdd(pinned).get.id
    org.apache.spark.sql.graftx.Bridge.drainListenerBus(sc)
    val stored = sc.getRDDStorageInfo.filter(_.id == id).map(i => i.memSize + i.diskSize).sum
    assert(stored > 0 && stats.sizeInBytes == BigInt(stored),
      s"sizeInBytes ${stats.sizeInBytes} must be the stored $stored bytes")
    Pin.reset()
  }

  test("Pin partitions are min(checkpoint partitions, ceil(rows / rowsPerPart))") {
    import graft.ext.Pin
    val df = spark.range(0, 100, 1, 8).toDF("id")
    val pinned = Pin.eager(df)
    assert(Pin.checkpointRdd(pinned).get.getNumPartitions == 8)
    assert(pinned.rdd.getNumPartitions == 1, "100 rows fit one 2M-row partition")
    assert(Pin.kept(df).rdd.getNumPartitions == 1)
    assert(Pin.partitionsFor(8, 100, rowsPerPart = 30) == 4)
    assert(Pin.partitionsFor(8, 100, rowsPerPart = 5) == 8)
    assert(Pin.partitionsFor(8, 0) == 1, "an empty pin keeps one partition")
    assert(Pin.partitionsFor(8, 2000000) == 1 && Pin.partitionsFor(8, 2000001) == 2,
      "ceil(rows / 2M)")
    assert(Pin.partitionsFor(3, 10000000) == 3, "never more than stored")
    Pin.reset()
  }

  test("Pin.eager inside Futures on the shared session, as pretrainingCorpus builds them") {
    import graft.ext.Pin
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val expected = oneShuffle.collect().toSeq.map(_.toString).sorted
    val built = Seq(Future(Pin.eager(oneShuffle)), Future(Pin.eager(oneShuffle)))
      .map(Await.result(_, 2.minutes))
    built.foreach(p => assert(p.collect().toSeq.map(_.toString).sorted == expected))
    assert(built.flatMap(Pin.checkpointRdd).map(_.name).forall(_ == Pin.Tag))
    Pin.reset()
  }

  test("Pin.eager: alias-different twins over one plan each resolve their own columns") {
    import graft.ext.Pin
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val cnt = Pin.eager(toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt")))
    val tf = Pin.eager(toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    assert(cnt.columns.toSeq == Seq("doc_id", "tok", "cnt"))
    assert(tf.columns.toSeq == Seq("doc_id", "tok", "tf"))
    assert(cnt.agg(sum(col("cnt"))).head().getLong(0) ==
      tf.agg(sum(col("tf"))).head().getLong(0))
    Pin.reset()
  }

  test("ivfPqRerank builds one pin per invocation: both stages share it") {
    import graft.ext.Pin
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 100 === 0)
    Pin.reset()
    val out = Similarity.ivfPqRerank(emb, probes, k = 3, r = 8, nprobe = 2)
    assert(out.collect().nonEmpty)
    assert(Pin.pinRdds(spark.sparkContext).size == 1)
    Pin.reset()
  }

  test("lmQuality: two concurrent invocations on one session equal the serial result") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
    def run(): Seq[(Long, Long, Long)] = TextAnalysis.lmQuality(fixture)
      .select("doc_id", "n_tokens", "sum_q_logprob").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val serial = run()
    val both = Seq.fill(2)(Future(run())).map(Await.result(_, 5.minutes))
    assert(serial.nonEmpty && both.forall(_ == serial))
    graft.ext.Pin.reset()
  }

  test("dsirSelect/tokenizerFertility/contrastiveCrops: structure and determinism") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // dsirSelect keeps ~the top half, all above the cutoff
    val sel = graft.ext.TextAnalysis.dsirSelect(docs, col("lang") === "en")
    val n = docs.count()
    val kept = sel.count()
    assert(kept >= n / 2 - 1 && kept <= n * 3 / 4, s"kept $kept of $n")
    val wts = graft.ext.TextAnalysis.dsirWeights(docs, col("lang") === "en")
      .select("doc_id", "mean_logratio").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keptMin = sel.agg(min(col("mean_logratio"))).head().getDouble(0)
    assert(wts.values.count(_ >= keptMin) == kept)

    // fertility: bpe >= ws per language on whitespace-only text
    val fert = graft.ext.TextAnalysis.tokenizerFertility(docs).collect()
    assert(fert.nonEmpty && fert.forall(r => r.getDouble(4) >= 1.0))

    // crops: deterministic, in-bounds, exactly w tokens each
    val c1 = graft.ext.TextAnalysis.contrastiveCrops(docs, w = 10).collect()
    val c2 = graft.ext.TextAnalysis.contrastiveCrops(docs, w = 10).collect()
    assert(c1.map(_.toString).toSeq == c2.map(_.toString).toSeq)
    assert(c1.forall(r => r.getString(3).split(" ").length == 10 &&
      r.getString(4).split(" ").length == 10))
  }

  test("packingReport: totals, fill fractions, quartile ordering") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    val packed = graft.ext.Sampling.packShards(docs, "n_tokens",
      budget = 2048, nBuckets = 8)
    val r = graft.ext.Sampling.packingReport(packed, budget = 2048).head()
    val (n, total, mean) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(n >= 1 && total == docs.agg(sum(col("n_tokens"))).head().getLong(0))
    assert(math.abs(mean - total.toDouble / (n * 2048.0)) < 1e-12)
    val (p25, p50, p75) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(p25 <= p50 && p50 <= p75)
    assert(math.abs(r.getDouble(6) - (1.0 - mean)) < 1e-12)
  }

  test("containmentPairs: subset detection where Jaccard stays low") {
    // doc 2 is a verbatim 5-token quote from doc 1's 30 tokens:
    // containment(quote in host) = 1.0 while jaccard ~ 3/28 << 0.5
    val host = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (11 to 15).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, host), (2L, quote), (3L, "x y z")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 3.0 / 28.0, 1.0)), got.toSeq.toString)
    val jac = graft.ext.Dedup.ngramJaccardPairs(docs).count()
    assert(jac == 0, "the quote pair must be invisible to the jaccard tier")
  }

  test("dedupScorecard: involvement counted once per doc, rates exact") {
    val docs = Seq((1L, "sA"), (2L, "sA"), (3L, "sA"),
      (10L, "sB"), (11L, "sB")).toDF("doc_id", "source")
    // doc 1 appears in TWO pairs -> still counts once; sB untouched
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val got = graft.ext.Dedup.dedupScorecard(docs, pairs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map("sA" -> ((3L, 3L, 1.0)), "sB" -> ((2L, 0L, 0.0))), got.toString)
  }

  test("curriculumOrder: phases partition by quality, global rank contiguous") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = graft.ext.TextAnalysis.curriculumOrder(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getLong(3)))
    val n = docs.count()
    assert(got.length == n)
    // global rank is a contiguous permutation of 1..n
    assert(got.map(_._4).sorted.toSeq == (1L to n).toSeq)
    // phases ordered: every phase-1 rank precedes every phase-2 rank, etc.
    val maxByPhase = got.groupBy(_._3).view.mapValues(_.map(_._4).max).toMap
    val minByPhase = got.groupBy(_._3).view.mapValues(_.map(_._4).min).toMap
    maxByPhase.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(maxByPhase(a) < minByPhase(b))
      case _ =>
    }
    // quality dominance: min quality of phase 1 >= max quality of phase 3
    val q1min = got.filter(_._3 == 1).map(_._2).min
    val q3max = got.filter(_._3 == 3).map(_._2).max
    assert(q1min >= q3max)
  }

  test("budgetMix: waterfill saturation, redistribution, prefix-sum cut") {
    // source A: supply 10 (4+3+3), weight 3; source B: supply 12 (3x4),
    // weight 1; budget 16. Round 1 (wsum 4): A's share 12 >= 10 ->
    // saturated at 10. Round 2 (R=6, wsum 1): B gets 6 -> two 3-token
    // docs in Knuth-bucket order survive the inclusive prefix cut.
    val docs = Seq(
      (1L, "A", 4L), (2L, "A", 3L), (3L, "A", 3L),
      (10L, "B", 3L), (11L, "B", 3L), (12L, "B", 3L), (13L, "B", 3L)
    ).toDF("doc_id", "source", "n_tokens")
    val got = Sampling.budgetMix(docs, "source",
      Map("A" -> 3, "B" -> 1), budget = 16L, tokensCol = "n_tokens")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def bkt(id: Long) = ((id % 1000003L) * 2654435761L) % 10000L
    val bFirst2 = Seq(10L, 11L, 12L, 13L).sortBy(i => (bkt(i), i)).take(2)
    assert(got == (Set(1L, 2L, 3L) ++ bFirst2).map(i =>
      (i, if (i < 10) "A" else "B")), s"got=$got expected B picks $bFirst2")
    // budget beyond total supply keeps everything
    assert(Sampling.budgetMix(docs, "source", Map("A" -> 3, "B" -> 1),
      budget = 100L, tokensCol = "n_tokens").count() == 7)
    // zero budget keeps nothing; unweighted sources are dropped
    assert(Sampling.budgetMix(docs, "source", Map("A" -> 3, "B" -> 1),
      budget = 0L, tokensCol = "n_tokens").count() == 0)
    assert(Sampling.budgetMix(docs, "source", Map("A" -> 1),
      budget = 100L, tokensCol = "n_tokens").count() == 3)
  }

  test("knnGraph: within-cell top-k, symmetric membership, rank order") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val g = Similarity.knnGraph(emb, k = 3).cache()
    val rows = g.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // every vector with >= 1 cellmate appears; no self-edges; k bounds
    assert(rows.nonEmpty && rows.forall(r => r._1 != r._2))
    val byVec = rows.groupBy(_._1)
    assert(byVec.values.forall(_.length <= 3))
    // ranks are 1..n and cosine is non-increasing along them
    byVec.values.foreach { ns =>
      val sorted = ns.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to ns.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x._4 >= y._4
        case _ => true
      })
    }
    // spot-check one vector against a brute-force within-cell recompute
    val assign = Similarity.ivfAssign(emb).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val some = rows.head._1
    val mates = assign.filter(_._2 == assign(some)).keySet - some
    assert(byVec(some).map(_._2).toSet.subsetOf(mates))
    g.unpersist()
  }

  test("sqEncode/sqTopK: hand-checked codes, symmetric distance, self-exclusion") {
    // dim0 quantized values: {1000, 2000, 3000} -> lo 1000, hi 3000
    // dim1: {0, 0, 0} constant -> code 0 everywhere
    // dim2: {-500, 0, 500} -> lo -500, hi 500
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, -0.5f)),
      (1L, Array(2.0f, 0.0f, 0.0f)),
      (2L, Array(3.0f, 0.0f, 0.5f))).toDF("vec_id", "embedding")
    val codes = Similarity.sqEncode(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // code = floor((v-lo)*255/(hi-lo)): dim0 -> 0, 127, 255
    assert(codes(0L) == Seq(0L, 0L, 0L), codes.toString)
    assert(codes(1L) == Seq(127L, 0L, 127L), codes.toString)
    assert(codes(2L) == Seq(255L, 0L, 255L), codes.toString)
    // probe 0: dist(1) = 127^2*2 = 32258, dist(2) = 255^2*2 = 130050
    val nn = Similarity.sqTopK(emb, emb.where(col("vec_id") === 0), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(nn == Seq((1L, 32258L), (2L, 130050L)), nn.toString)
    // self never appears even at k covering the whole corpus
    val all = Similarity.sqTopK(emb, emb.where(col("vec_id") === 0), k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(!all.contains(0L) && all == Set(1L, 2L))
  }

  test("bm25TopK: hand-checked scores, ranking, and missing-term handling") {
    // corpus: d1 "a b a" (dl 3), d2 "b c" (dl 2), d3 "a" (dl 1)
    // query (a, c): df(a)=2, df(c)=1, N=3, total_dl=6
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a")).toDF("doc_id", "text")
    def contrib(tf: Long, df: Long, dl: Long): Long =
      math.round(math.log((3.0 - df + 0.5) / (df + 0.5) + 1.0)
        * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl * 3.0 / 6.0)) * 1000000)
    val got = TextAnalysis.bm25TopK(docs, Seq("a", "c"), k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exp = Map(
      1L -> (contrib(2, 2, 3), 1L),   // only 'a' matches; 'b' is not queried
      2L -> (contrib(1, 1, 2), 1L),   // only 'c'
      3L -> (contrib(1, 2, 1), 1L))   // only 'a'
    assert(got.map(r => r._1 -> ((r._2, r._3))).toMap == exp, got.toString)
    // rarer term + shorter doc outrank the long doc's double hit here:
    // returned order is (score desc, id asc)
    assert(got.map(_._1) == got.sortBy(r => (-r._2, r._1)).map(_._1))
    // k bounds output; absent terms -> empty result
    assert(TextAnalysis.bm25TopK(docs, Seq("a", "c"), k = 1).count() == 1)
    assert(TextAnalysis.bm25TopK(docs, Seq("zzz")).count() == 0)
  }

  test("bpeLearnMerges: driver fast path == distributed path on fixture docs") {
    // same adaptive-path contract as dupClusters: identical output
    // either side of driverThreshold, ties and all (the sf0.001 docs
    // exercise real tie-breaks in the top-8 merge ranks)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val fast = rows(TextAnalysis.bpeLearnMerges(docs, nMerges = 6))
    val dist = rows(TextAnalysis.bpeLearnMerges(docs, nMerges = 6,
      driverThreshold = 0L))
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast.size == 6)
  }

  test("hardNegatives: band filter + top-k match a from-scratch IVF recompute") {
    // same synthetic family as the PQ spec: 120 vectors, dim 8,
    // seeds vec_id % 50 == 0 -> cells {0, 50, 100}
    val emb = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 7 + d * 3) % 11) - 5).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val probes = emb.where(col("vec_id") % 100 === 0) // {0, 100}
    def quant(i: Long): Array[Long] = Array.tabulate(8)(d =>
      Math.round(((((i * 7 + d * 3) % 11) - 5).toFloat / 10f).toDouble * 1000))
    def dot(x: Array[Long], y: Array[Long]): Long =
      x.zip(y).map { case (p, q) => p * q }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    val seedIds = Seq(0L, 50L, 100L)
    def cellOf(v: Array[Long]): Long = seedIds.minBy(s => (-cos(v, quant(s)), s))
    def probeCells(p: Array[Long], nprobe: Int): Set[Long] =
      seedIds.sortBy(s => (-cos(p, quant(s)), s)).take(nprobe).toSet
    val (lo, hi) = (0.1, 0.7)
    def expectFor(band: Option[(Double, Double)], k: Int) =
      Seq(0L, 100L).flatMap { p =>
        val cells = probeCells(quant(p), 2)
        (0L until 120L)
          .filter(v => v != p && cells.contains(cellOf(quant(v))))
          .map(v => (p, v, cos(quant(p), quant(v))))
          .filter { case (_, _, c) => band.forall { case (l, h) => c >= l && c < h } }
          .sortBy { case (_, v, c) => (-c, v) }.take(k)
      }.map { case (p, v, c) => (p, v) -> c }.toMap
    val got = Similarity.hardNegatives(emb, probes, k = 5,
      simLo = lo, simHi = hi, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expectFor(Some((lo, hi)), 5), s"hardNegatives: $got")
    assert(got.values.forall(c => c >= lo && c < hi))
    // the full band reproduces plain ivfTopK
    val full = Similarity.hardNegatives(emb, probes, k = 5,
      simLo = -2.0, simHi = 2.0, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plain = Similarity.ivfTopK(emb, probes, k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == plain, "full band must equal ivfTopK")
  }

  test("pqAdc: native expression equals the HOF formulation") {
    val df = spark.range(50).select(
      array((col("id") % 3).cast("long"), ((col("id") + 2) % 3).cast("long")).as("codes"),
      array(
        transform(sequence(lit(1L), lit(3L)), x => x * 10L + col("id")),
        transform(sequence(lit(1L), lit(3L)), x => x * 100L - col("id"))).as("tables"))
    val both = df.select(
      graft.functions.PqAdc.pqAdc(col("codes"), col("tables")).as("native"),
      Similarity.pqAdcHof(col("codes"), col("tables")).as("hof")).collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("c4Clean: line rules and page rules fire as designed") {
    val docs = Seq(
      (1L, "this line ends with a period.\nthis one has a question mark?\nshort one.\nno terminal punct here at all\nanother good sentence right here."),
      (2L, "uses javascript for the menu bar.\nfine sentence number one here.\nfine sentence number two here.\nfine sentence number three here."),
      (3L, "config { key: value } in braces.\ngood line one stays in place.\ngood line two stays in place.\ngood line three stays in place."),
      (4L, "lorem ipsum dolor sit amet today.\nperfect sentence number one here.\nperfect sentence number two here.\nperfect sentence number three here."),
      (5L, "only one good sentence survives here.\nbad\nworse\nno punct")
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.c4Clean(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // doc 1: 5 lines; "short one." fails min words, unpunctuated line fails
    assert(got(1L)._1 == 5 && got(1L)._2 == 3)
    assert(!got(1L)._3.contains("short one"))
    // doc 2: javascript LINE dropped, page survives on the other three
    assert(got(2L)._2 == 3 && !got(2L)._3.contains("javascript"))
    // doc 3: braces line dropped
    assert(got(3L)._2 == 3 && !got(3L)._3.contains("{"))
    // doc 4: lorem ipsum anywhere kills the PAGE
    assert(!got.contains(4L))
    // doc 5: fewer than 3 surviving lines kills the page
    assert(!got.contains(5L))
  }

  test("bigramLmQuality: word salad scores below fluent text with identical unigrams") {
    // transitions must BRANCH for probabilities below 1: context "a"
    // is followed by "b" 4/5 of the time, by "c" 1/5 (the salad doc)
    val fluent = "a b x"
    val docs = Seq(
      (1L, fluent), (2L, fluent), (3L, fluent), (4L, fluent),
      (5L, "a c x"),          // salad: rare transition "a c"
      (6L, "x y")             // isolated pair, P(y|x)=1 → logprob 0
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.bigramLmQuality(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got(1L)._2 > got(5L)._2,
      s"fluent must outscore salad: ${got(1L)} vs ${got(5L)}")
    assert(got(6L)._2 == 0.0, "deterministic transitions score ln(1)=0")
    assert(got(1L)._1 == 2 && got(5L)._1 == 2)
    // single-token docs have no bigrams and drop out
    val single = Seq((9L, "lonely")).toDF("doc_id", "text")
    assert(graft.ext.TextAnalysis.bigramLmQuality(single).count() == 0)
  }

  test("bigramLmQualityPruned: minCount=2 == exact; higher floors only touch pruned bigrams") {
    val real = spark.read.parquet(s"$sf/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // floor 2 prunes only singletons, whose backoff count 1 IS their
    // true count — bit-for-bit identical to the exact model
    val exact = rows(graft.ext.TextAnalysis.bigramLmQuality(real))
    assert(exact.nonEmpty)
    assert(rows(graft.ext.TextAnalysis.bigramLmQualityPruned(real, 2)) == exact)
    // floor 3 approximates: same docs, same bigram counts, and every
    // per-doc score moves DOWN or not at all (backoff 1 <= true count)
    val pruned = rows(graft.ext.TextAnalysis.bigramLmQualityPruned(real, 3))
    assert(pruned.map(r => (r._1, r._2)) == exact.map(r => (r._1, r._2)))
    assert(pruned.zip(exact).forall { case (p, e) => p._3 <= e._3 })
  }

  test("dsirWeights: target-like docs outscore raw-like docs, OOV-in-target penalized") {
    // target = label 1 docs; "good" tokens dominate the target slice,
    // "junk" tokens appear only outside it
    val docs = Seq(
      (1L, 1, "good fine nice good fine"),
      (2L, 1, "good nice fine nice good"),
      (3L, 0, "junk spam junk spam junk"),
      (4L, 0, "good fine junk spam nice"),   // mixed
      (5L, 0, "good fine nice fine good")    // target-like but raw-labeled
    ).toDF("doc_id", "label", "text")
    val got = graft.ext.TextAnalysis.dsirWeights(docs, col("label") === 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    assert(got(1L)._1 == 5 && got(3L)._1 == 5)
    // pure target-vocab docs score higher than pure junk docs
    assert(got(1L)._2 > got(3L)._2)
    assert(got(5L)._2 > got(4L)._2, "mixed doc sits below target-like doc")
    assert(got(4L)._2 > got(3L)._2, "mixed doc sits above pure junk")
    // junk tokens never occur in target ⇒ negative mean log-ratio
    assert(got(3L)._2 < 0)
  }

  test("lehmer_hash32 native == interpreted HOF reference, code-point semantics") {
    val toks = Seq("alpha", "z", "", "value9", "中文字", "éclair").toDF("tok")
    // reference: the portable recurrence spelled as interpreted HOFs
    val ref = when(col("tok") === "", lit(7L)).otherwise(
      aggregate(split(col("tok"), ""), lit(7L),
        (acc, c) => (acc * 31L + ascii(c)) % 2147483647L))
    val rows = toks.select(col("tok"),
      graft.functions.LehmerHash32.lehmerHash32(col("tok")).as("native"),
      ref.as("hof")).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"token '${r.getString(0)}': native ${r.getLong(1)} != hof ${r.getLong(2)}"))
    // empty string hashes to the seed
    assert(rows.find(_.getString(0) == "").get.getLong(1) == 7L)
    // SQL registration reaches it
    graft.functions.GraftFunctions.register(spark)
    toks.createOrReplaceTempView("lh_toks")
    val sql = spark.sql("SELECT lehmer_hash32(tok) FROM lh_toks WHERE tok = 'alpha'")
      .head.getLong(0)
    assert(sql == rows.find(_.getString(0) == "alpha").get.getLong(1))
  }

  test("qualityPercentileFilter: keeps exactly the >= pct-quantile slice") {
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val kept = TextAnalysis.qualityPercentileFilter(real, pct = 0.25)
    val n = real.count()
    // ~75% survive the p25 cutoff (ties can push the kept side higher)
    assert(kept.count() >= n * 3 / 4 && kept.count() < n, s"${kept.count()} of $n")
    // every kept quality clears every dropped quality
    val minKept = kept.agg(min("quality")).head.getDouble(0)
    val all = TextAnalysis.qualityScore(real)
    val maxDropped = all.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(max("quality")).head.getDouble(0)
    assert(maxDropped < minKept)
  }

  test("randomProjection: exact integer sums, sign bits agree with the LSH sketch") {
    val got = Similarity.randomProjection(vecs, k = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.values.forall(_.size == 4), "k dims out")
    // opposite vectors project to exact negations
    assert(got(3L) == got(0L).map(-_), s"${got(0L)} vs ${got(3L)}")
    // sign pattern matches LshSketch64's bucket bits
    val sk = vecs.select(col("vec_id"),
      Similarity.lshSketch(Similarity.quantize(col("embedding")), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, proj) =>
      val expected = proj.zipWithIndex.map { case (v, p) =>
        if (v >= 0) 1L << p else 0L }.sum
      assert(expected == sk(id), s"vec $id: proj signs $proj vs sketch ${sk(id)}")
    }
  }

  test("snapshotDiff: all four statuses from a crafted version pair") {
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val newer = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = graft.ext.Profiling.snapshotDiff(old, newer).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got.toString)
  }

  test("snapshotDiff: NULL payloads — presence from the join side, null-safe compare") {
    val old = Seq((1L, None: Option[String]), (2L, None: Option[String]),
      (3L, Some("body"))).toDF("doc_id", "text")
    val newer = Seq((1L, None: Option[String]), (2L, Some("now set")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val got = graft.ext.Profiling.snapshotDiff(old, newer).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // a matched key must NEVER read as added/removed just because a
    // side's body (hence its sha2) is NULL
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed"),
      got.toString)
  }

  test("qualityTiers: quartiles partition the corpus, tiers ordered by quality") {
    val real = spark.read.parquet(s"$sf/documents.parquet")
    val tiers = TextAnalysis.qualityTiers(real).collect()
      .map(r => (r.getDouble(1), r.getInt(2)))
    assert(tiers.map(_._2).toSet.subsetOf(Set(1, 2, 3, 4)))
    // monotone: any tier-t quality <= any tier-(t+1) quality boundary-wise
    val byTier = tiers.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    byTier.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(byTier(a).max <= byTier(b).min ||
        byTier(a).max == byTier(b).min, s"tier $a overlaps $b beyond ties")
      case _ =>
    }
    // each quartile holds roughly a quarter (ties shift boundaries)
    val n = tiers.length.toDouble
    byTier.values.foreach(v => assert(v.length / n > 0.1 && v.length / n < 0.45))
  }

  test("referentialAudit: orphans counted each side, duplicates don't inflate") {
    val l = Seq(1L, 2L, 3L, 3L, 4L).toDF("id")       // dup key 3
    val r = Seq(3L, 4L, 5L).toDF("k")
    val a = graft.ext.Profiling.referentialAudit(l, "id", r, "k").head
    assert(a.getLong(0) == 4, "distinct left keys")
    assert(a.getLong(1) == 3, "distinct right keys")
    assert(a.getLong(2) == 2 && a.getLong(3) == 2 && a.getLong(4) == 1,
      a.toString)
    // empty sides degrade to zeros
    val e = graft.ext.Profiling.referentialAudit(l.limit(0), "id", r, "k").head
    assert(e.getLong(0) == 0 && e.getLong(4) == 3)
  }

  test("profile: nulls/distincts/minmax per column, cents for doubles, approx path sane") {
    val df = Seq(
      (Some(1L), Some("a"), Some(1.25)),
      (Some(2L), None, Some(-0.335)),
      (Some(2L), Some("c"), None)
    ).toDF("id", "s", "v")
    val got = graft.ext.Profiling.profile(df, Seq("id", "s", "v")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got("id") == ((3L, 0L, 2L, "1", "2")))
    assert(got("s") == ((3L, 1L, 2L, "a", "c")))
    // -0.335*100 rounds half-away-from-zero to -34? No: Spark round
    // HALF_UP on -33.5 → -34; cents contract matches the engine-wide
    // quantization rule
    assert(got("v")._4 == "-34" && got("v")._5 == "125")
    assert(got("v")._2 == 1L)
    val approx = graft.ext.Profiling.profile(df, Seq("id"), exact = false)
      .collect().head
    assert(approx.getLong(3) >= 1L, "approx distinct in a sane range")
  }

  test("eventFunnel/retentionCohorts: ordering rule and cohort offsets on synthetic events") {
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 11:00:00", 1L, "click"),
      (3L, "2024-01-02 12:00:00", 1L, "purchase"),
      (4L, "2024-01-01 10:00:00", 2L, "view"),
      (5L, "2024-01-01 11:00:00", 2L, "click"),
      (6L, "2024-01-01 09:00:00", 3L, "click"),     // no view: not in funnel
      (7L, "2024-01-01 08:00:00", 4L, "purchase"),  // purchase before view
      (8L, "2024-01-01 09:00:00", 4L, "view"),
      (9L, "2024-01-03 09:00:00", 5L, "view"),
      (10L, "2024-01-01 09:00:00", 5L, "click")     // click BEFORE view: no conversion
    ).toDF("event_id", "ts_s", "user_id", "event_type")
      .select(col("event_id"),
        // fixture schema parity: ts is TIMESTAMP_NTZ at µs precision
        expr("cast(to_timestamp(ts_s) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val f = graft.analytics.ShapeQueries.eventFunnel(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(f(0) == ((4L, 1.0)), f.toString)   // users 1,2,4,5 viewed
    assert(f(1) == ((2L, 0.5)), f.toString)   // 1,2 clicked after viewing
    assert(f(2)._1 == 1L, f.toString)         // only user 1 completed
    val r = graft.analytics.ShapeQueries.retentionCohorts(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    // users 1,2,3,4,5 first active 2024-01-01 except user 5 (01-01 via click)
    assert(r(("2024-01-01", 0L)) == 5L, r.toString)
    assert(r(("2024-01-01", 1L)) == 1L, r.toString) // user 1 on 01-02
    assert(r(("2024-01-01", 2L)) == 1L, r.toString) // user 5 on 01-03
  }

  test("dedupCorpusMinhash: exact copies collapse to the min-id keeper") {
    val kept = Dedup.dedupCorpusMinhash(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 0 and 3 are byte-identical → identical signatures → est 1.0
    assert(kept.contains(0L) && !kept.contains(3L), s"got $kept")
    // non-duplicated docs all survive at the 0.9 estimate threshold
    assert(Set(1L, 2L, 4L).subsetOf(kept), s"got $kept")
  }

  test("sourceResemblance: mirror source estimates 1.0, disjoint near 0, merge = union sketch") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "A"),
      (2L, "iota kappa lambda mu nu xi omicron pi", "A"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "B"), // mirror of A doc 1
      (4L, "iota kappa lambda mu nu xi omicron pi", "B"),         // mirror of A doc 2
      (5L, "rho sigma tau upsilon phi chi psi omega", "C")        // disjoint
    ).toDF("doc_id", "text", "source")
    val m = Dedup.sourceResemblance(base).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // B's shingle UNION equals A's -> identical merged signatures
    assert(m(("A", "B")) == 1.0, m.toString)
    assert(m(("A", "C")) < 0.2 && m(("B", "C")) < 0.2, m.toString)
    // mergeability: the source signature equals the signature of the
    // concatenated-union corpus (one doc holding all of A's text)
    val union = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta", "U"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "A"),
      (2L, "iota kappa lambda mu nu xi omicron pi", "A")).toDF("doc_id", "text", "source")
    // (sanity only: est(A,U) counts agreement of A's merged sig with a
    // single-doc subset sig — the shared half must agree)
    assert(Dedup.sourceResemblance(union).collect().nonEmpty)
  }

  test("contaminationReport: attribution counts, threshold edge, unrelated docs absent") {
    // bench doc: 9 tokens -> two 8-shingles [t1..t8], [t2..t9]
    val bench = Seq((100L, "t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),  // both shingles: overlap 1.0
      (2L, "t2 t3 t4 t5 t6 t7 t8 t9"),      // one shingle: overlap 0.5 (edge: passes >= 50%)
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")    // nothing shared
    ).toDF("doc_id", "text")
    val r = Dedup.contaminationReport(corpus, bench).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("bench_id") == 100L)
    assert(row.getAs[Int]("n_sh") == 2)
    assert(row.getAs[Long]("n_contaminating_docs") == 2L, row.toString)
    assert(row.getAs[Double]("max_overlap") == 1.0)
    // raising the threshold past the partial overlap drops doc 2
    val strict = Dedup.contaminationReport(corpus, bench, minFracPct = 60).collect()
    assert(strict.head.getAs[Long]("n_contaminating_docs") == 1L)
  }

  test("knnCommunities: two tight cliques split into two communities, mutual filter holds") {
    import spark.implicits._
    // one IVF cell (only id 0 is a centroid at mod 50); k=2 so each
    // vector's top-2 are its clique partners — mutual inside cliques,
    // never across (cross-clique cosine ~0)
    val e = Seq(
      (0L, Array(1f, 0f, 0.01f)), (1L, Array(0.99f, 0f, 0.02f)),
      (2L, Array(0.98f, 0.01f, 0f)),
      (3L, Array(0f, 1f, 0.01f)), (4L, Array(0f, 0.99f, 0.02f)),
      (5L, Array(0.01f, 0.98f, 0f))
    ).toDF("vec_id", "embedding")
    val com = Similarity.knnCommunities(e, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(com == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L), com.toString)
    // injectable-edges overload is value-identical
    val viaEdges = Similarity.knnCommunitiesFromEdges(
      Similarity.knnGraph(e, k = 2).localCheckpoint())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaEdges == com)
  }

  test("imageDupVerified: contrast collision rejected, near-dup kept, group audit counts") {
    def mk(id: Long, vals: Seq[Int]) =
      (id, new String(vals.map(_.toChar).toArray), "png", 8, 8)
    // 64 one-byte pixels at width 8: the box resize is per-cell identity.
    // A: alternating 10/120 (mean 65). B: same brightness PATTERN as A
    // except cell0 flipped above-mean — but via DIFFERENT base values
    // (60/70 + a 200 cell): hamming(A,B)=1 while every cell differs.
    val patt = (0 until 64).map(_ % 2)
    val A = patt.map(b => if (b == 1) 120 else 10)
    val B = patt.map(b => if (b == 1) 70 else 60).updated(0, 200)
    val C = A.updated(0, 200) // same HASH as B, very different content
    val D = A                 // byte-identical: collapses into A's group
    val E = A.updated(1, 60)  // true near-variant of A (one cell, bit1 flips)
    val assets = Seq(mk(1, A), mk(2, B), mk(3, C), mk(4, D), mk(5, E))
      .toDF("asset_id", "text", "format", "width", "height")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("media"),
        col("format"), col("width"), col("height"))
    val out = Multimodal.imageDupVerified(spark, assets).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    // cross-group contrast collision (hamming 1, every cell differs):
    // the candidates tier proposes it, the verify tier rejects it
    assert(!out.contains((1L, 2L)), s"contrast collision must be rejected: $out")
    // true near-variant: one cell of diff 60 -> verified pair
    assert(out.contains((1L, 5L)), s"true near-dup must survive: $out")
    val (h, d, na, nav, nb, nbv) = out((1L, 5L))
    assert(h == 1 && d == 60L, out.toString)
    // A's group holds {A, D}, both verify against rep A
    assert(na == 2L && nav == 2L, out.toString)
    assert(nb == 1L && nbv == 1L, out.toString)
    // the in-group blind spot is MEASURED: B's group holds {B, C} but
    // C does not verify against rep B -> n_verified = 1 of 2 (visible
    // on any pair involving rep 2; here we check the audit directly
    // is carried by the (2, 5) rejection being absent yet the (1, 5)
    // row proving the audit join shape)
    assert(!out.contains((2L, 5L)), s"B-E contrast pair must be rejected: $out")
  }

  test("calibrationReport: hand-computed bins, boundary clamp, perfect vs broken calibration") {
    import spark.implicits._
    // scores land in bins of width 0.1; 1.0 clamps into bin 9
    val rows = Seq(
      (0.05, false), (0.05, false), (0.05, false), (0.05, true), // bin 0: mean .05, rate .25
      (0.95, true), (0.95, true), (0.95, true), (0.95, false),   // bin 9: mean .95, rate .75
      (1.0, true),                                               // clamps to bin 9
      (0.30, false)                                              // bin 3 singleton
    ).toDF("score", "y")
    val r = TextAnalysis.calibrationReport(rows, "score", "y").collect()
      .map(x => x.getAs[Int]("bin") ->
        (x.getAs[Long]("n"), x.getAs[Long]("n_pos"),
          x.getAs[Double]("mean_score"), x.getAs[Double]("frac_pos"))).toMap
    assert(r(0) == ((4L, 1L, 0.05, 0.25)), r.toString)
    assert(r(3) == ((1L, 0L, 0.30, 0.0)), r.toString)
    val (n9, p9, m9, f9) = r(9)
    assert(n9 == 5L && p9 == 4L && f9 == 0.8)
    assert(math.abs(m9 - (0.95 * 4 + 1.0) / 5) < 1e-12)
    // abs_gap is |mean - rate|
    val gaps = TextAnalysis.calibrationReport(rows, "score", "y").collect()
      .map(x => x.getAs[Int]("bin") -> x.getAs[Double]("abs_gap")).toMap
    assert(math.abs(gaps(0) - 0.2) < 1e-12, gaps.toString)
  }

  test("lmQualityHeldOut: hand-computed add-1 smoothing, OOV mass, disjoint split") {
    // train "a a b": tf(a)=2, tf(b)=1, total=3, vocab=2
    // p(a) = (2+1)/(3+2+1) = 0.5          -> q = round(ln(0.5)*1e6)  = -693147
    // p(c) = (0+1)/6 (unseen, +1 mass)    -> q = round(ln(1/6)*1e6) = -1791759
    val train = Seq((10L, "a a b"), (11L, "")).toDF("doc_id", "text")
      .where(col("doc_id") === 10L) // keep the fixture minimal
    val score = Seq((1L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.lmQualityHeldOut(train, score).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_tokens") == 2L)
    assert(row.getAs[Long]("sum_q_logprob") == -693147L - 1791759L,
      s"got ${row.getAs[Long]("sum_q_logprob")}")
    assert(row.getAs[Long]("n_oov") == 1L)
    assert(row.getAs[Double]("oov_rate") == 0.5)
    assert(math.abs(row.getAs[Double]("mean_logprob") - (-2484906.0 / 2 / 1e6)) < 1e-12)
  }

  test("dedupCorpusVerified: verify tier rescues a sketch false positive, exact dups still collapse") {
    // Block swap: the two halves reorder, so 3-shingle resemblance
    // stays ~0.8 (only the boundary shingles differ) while the
    // character-level texts are NOT redundant — the MinHash failure
    // mode the verify tier exists for.
    val half1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val half2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val fp = Seq(
      (10L, s"$half1 $half2", "en", "s"),
      (11L, s"$half2 $half1", "en", "s"), // swapped halves: sketch false positive
      (12L, s"$half1 $half2", "en", "s")  // exact dup of 10: must still collapse
    ).toDF("doc_id", "text", "lang", "source")
    val cands = Dedup.minhashLshPairsPortable(fp, minEstJaccard = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((10L, 11L)),
      s"fixture must produce the sketch false positive, got $cands")
    val verified = Dedup.editDistanceVerify(fp,
        Dedup.minhashLshPairsPortable(fp, minEstJaccard = 0.5))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!verified.contains((10L, 11L)), "verify tier must reject the block swap")
    assert(verified.contains((10L, 12L)), "verify tier must keep the exact dup")
    // composed chain: both DISTINCT docs survive, only the exact copy drops...
    val kept = Dedup.dedupCorpusVerified(fp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 11L), s"got $kept")
    // ...whereas the unverified sketch chain at the same threshold merges them
    val unverified = Dedup.dedupCorpusMinhash(fp, minEst = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(unverified == Set(10L), s"got $unverified")
  }

  test("substringDedup: later copies of a shared span excise cleanly, first stays whole") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ")       // 10-token shared span
    val docs = Seq(
      (1L, s"u1 u2 u3 $span u4 u5 u6"),                       // first occurrence
      (2L, s"v1 v2 v3 v4 v5 v6 v7 v8 $span v9 v10 v11 v12 v13 v14 v15 v16"), // later copy
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")          // untouched
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.substringDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L)._3 == docs.where(col("doc_id") === 1).head.getString(1),
      "first occurrence keeps every token")
    // doc 2 loses exactly the 10 span tokens
    assert(got(2L)._1 == 26 && got(2L)._2 == 16, got(2L).toString)
    assert(got(2L)._3 ==
      "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12 v13 v14 v15 v16")
    assert(got(3L)._2 == 12, "unique doc untouched")
  }

  test("noveltyScore: copies score zero, originals one, first doc owns shared spans") {
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, a),                                             // first: fully novel
      (2L, a),                                             // exact copy: novelty 0
      (3L, "totally fresh words appearing nowhere else in any other document here")
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.noveltyScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 1.0, s"first occurrence owns its spans: $got")
    assert(got(2L) == 0.0, s"pure copy adds nothing: $got")
    assert(got(3L) == 1.0)
  }

  test("featureHashVectors: bag-of-words histogram, order-invariant, feeds kmeans") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha alpha beta gamma"),  // permutation of 1 → same vector
      (3L, "delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val v = graft.ext.TextAnalysis.featureHashVectors(docs, dim = 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(v(1L)._1 == 4 && v(1L)._2.sum == 4, "histogram sums to token count")
    assert(v(1L)._2 == v(2L)._2, "bag-of-words: permutations share a vector")
    assert(v(1L)._2 != v(3L)._2, "different vocab, different vector")
    assert(v.values.forall(_._2.size == 16), "dense fixed dim")
    // composition: the vectors drive kmeans directly
    val emb = graft.ext.TextAnalysis.featureHashVectors(docs, dim = 16)
      .select(col("doc_id").as("vec_id"),
        transform(col("features"), _.cast("float")).as("embedding"))
    val km = graft.ext.Similarity.kmeansAssign(emb, k = 2, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(km(1L) == km(2L), "identical vectors cluster together")
  }

  test("curationFunnel: counts are monotone non-increasing and stages attribute drops") {
    val good = "plain sensible words forming a steady document body here " * 4
    val docs = Seq(
      (1L, good + "one"),
      (2L, good + "one"),            // exact dup of 1 → drops at stage 2
      (3L, good + "two extra"),      // near dup of 1 → drops at stage 3
      (4L, "xx"),                    // fails word-count floor → stage 1
      (5L, "a wholly different and completely unrelated piece of text about gardens flowers and long afternoons in the quiet sunshine today")
    ).toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") === 5L)  // doc 5 contaminates itself
    val got = graft.ext.Curation.curationFunnel(docs, bench).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got(0) == 5)
    assert(got(1) == 4, s"stage1: $got")          // doc 4 gone
    assert(got(2) == 3, s"stage2: $got")          // doc 2 gone
    assert(got(3) == 2, s"stage3: $got")          // doc 3 gone
    assert(got(4) == 1, s"stage4: $got")          // doc 5 contaminated
    assert((0 to 3).forall(i => got(i) >= got(i + 1)), "monotone funnel")
  }

  test("incrementalDedup: batch deduped vs corpus and earlier batch docs only") {
    val corpus = Seq(
      (1L, "the standing corpus document about spark joins and shuffles"),
      (2L, "a corpus document describing broadcast hash joins in detail")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the standing corpus document about spark joins and shuffles"), // dup of corpus 1
      (11L, "a fresh batch document with genuinely novel content here"),
      (12L, "a fresh batch document with genuinely novel content here"),    // dup of batch 11
      (13L, "completely unrelated text that matches nothing else at all")
    ).toDF("doc_id", "text")
    val kept = graft.ext.Dedup.incrementalDedup(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L), s"got $kept")
    // corpus is never filtered — only the batch is returned
    assert(!kept.contains(1L) && !kept.contains(2L))
    // conservative rule: a doc duplicating a DROPPED lower batch doc
    // still drops (10 dups corpus; 14 dups 10 → both gone)
    val batch2 = batch.union(Seq(
      (14L, "the standing corpus document about spark joins and shuffles"))
      .toDF("doc_id", "text"))
    val kept2 = graft.ext.Dedup.incrementalDedup(corpus, batch2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L, 13L), s"got $kept2")
  }

  test("lineDedup: first corpus-wide occurrence survives, docs reassemble in order") {
    val docs = Seq(
      (1L, "alpha\nshared header\nbeta"),
      (2L, "shared header\ngamma\nshared header"), // cross-doc dup + in-doc dup
      (3L, "shared header\ndelta"),
      (4L, "shared header")                        // nothing survives
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 holds the first occurrence of "shared header" (doc 1, ord 1)
    assert(got(1L) == ((3L, 3L, "alpha\nshared header\nbeta")))
    // doc 2: both its copies are later occurrences
    assert(got(2L) == ((3L, 1L, "gamma")))
    assert(got(3L) == ((2L, 1L, "delta")))
    assert(got(4L) == ((1L, 0L, "")))
    // layout-invariant: survivor choice is (doc_id, ord) argmin, not task order
    val rep = graft.ext.Dedup.lineDedup(docs.repartition(5)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rep == got)
  }

  test("boilerplateStrip: high-df lines drop everywhere, df counts a doc once") {
    val docs = Seq(
      (1L, "alpha\ncookie banner\nbeta"),
      (2L, "cookie banner\ngamma\ncookie banner"), // in-doc repeat = ONE doc
      (3L, "cookie banner\ndelta"),
      (4L, "epsilon\nzeta")
    ).toDF("doc_id", "text")
    // threshold 0.5*4 = 2 docs: "cookie banner" (df=3) drops everywhere,
    // every df=1 line survives
    val got = graft.ext.Dedup.boilerplateStrip(docs, maxDocFrac = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((3L, 2L, "alpha\nbeta")))
    assert(got(2L) == ((3L, 1L, "gamma")))
    assert(got(3L) == ((2L, 1L, "delta")))
    assert(got(4L) == ((2L, 2L, "epsilon\nzeta")))
    // df counted per document: were doc 2's repeat double-counted,
    // a 0.8 threshold (3.2 docs) would still drop it — it must not
    val loose = graft.ext.Dedup.boilerplateStrip(docs, maxDocFrac = 0.8).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(loose(2L) == "cookie banner\ngamma\ncookie banner")
    // layout-invariant
    val rep = graft.ext.Dedup.boilerplateStrip(docs.repartition(5), maxDocFrac = 0.5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rep == got)
  }

  test("gopherRules: each rule fires on the document built to trip it") {
    val good = ("the quick brown fox jumps with energy and that verve " +
      "which we have come to expect of good long prose text ") * 5
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "too short to count"),                   // word-count floor
      (3L, ("- bullet one\n- bullet two\n- bullet three\n") + good), // bullets < 90% → still passes bullets, sanity row
      (4L, ("a\nb...\nc...\nd...\n") + "the of and that have with be to " * 10), // ellipsis lines > 30%
      (5L, "### ## # " * 30 + good),                // symbol ratio > 0.1
      (6L, "12 34 56 78 90 " * 30)                  // frac_alpha < 0.8, no required words
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, minWords = 20).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("pass"), got(1L).toString)
    assert(!got(2L).getAs[Boolean]("pass"), "short doc must fail word floor")
    assert(got(3L).getAs[Double]("frac_bullet_lines") > 0.0 &&
      got(3L).getAs[Double]("frac_bullet_lines") < 0.9)
    assert(got(4L).getAs[Double]("frac_ellipsis_lines") > 0.3 &&
      !got(4L).getAs[Boolean]("pass"))
    assert(got(5L).getAs[Double]("symbol_ratio") > 0.1 &&
      !got(5L).getAs[Boolean]("pass"))
    assert(got(6L).getAs[Double]("frac_alpha_words") < 0.8 &&
      got(6L).getAs[Int]("n_required_hits") === 0 &&
      !got(6L).getAs[Boolean]("pass"))
    // required-word hits are DISTINCT matches
    assert(got(1L).getAs[Int]("n_required_hits") >= 2)
  }

  test("labelCentroids: exact per-dim sums and counts per label") {
    val e = Seq(
      (1L, Array(1.0f, 2.0f), 7),
      (2L, Array(3.0f, 4.0f), 7),
      (3L, Array(10.0f, 20.0f), 9)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got((7, 0)) == ((4000L, 2L, 2000.0)))
    assert(got((7, 1)) == ((6000L, 2L, 3000.0)))
    assert(got((9, 0)) == ((10000L, 1L, 10000.0)))
    assert(got((9, 1)) == ((20000L, 1L, 20000.0)))
  }

  test("chunk: overlapping windows, clamped tail, short doc passes whole") {
    // 10 tokens, chunk 4, overlap 2 → step 2, nch = ceil(8/2) = 4
    val doc = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "short doc")).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.chunk(doc, chunkTokens = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(out == Seq(
      (1L, 0, "t1 t2 t3 t4", 4), (1L, 1, "t3 t4 t5 t6", 4),
      (1L, 2, "t5 t6 t7 t8", 4), (1L, 3, "t7 t8 t9 t10", 4),
      (2L, 0, "short doc", 2)))
  }

  test("contamination: exact copy = 1.0, disjoint doc absent, partial in between") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"), // copy
      (2L, "totally different words that never appeared anywhere at all"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta AND NOW new tail words here")
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, bench, w = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 1.0, s"exact copy fully contaminated: $out")
    assert(!out.contains(2L), "disjoint doc must produce no row")
    assert(out.contains(3L) && out(3L) > 0.0 && out(3L) < 1.0,
      s"partial overlap strictly between 0 and 1: $out")
  }

  test("lmQuality: exact quantized unigram log-probs on a known distribution") {
    // tf: a=3, b=1, c=1; total=5
    // q(a) = round(ln(3/5)*1e6) = -510826; q(b) = q(c) = round(ln(1/5)*1e6) = -1609438
    val d = Seq((0L, "a a a b"), (1L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmQuality(d).orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 4 && out(0).getLong(2) == 3L * -510826 - 1609438)
    assert(out(1).getLong(1) == 1 && out(1).getLong(2) == -1609438)
    assert(out(1).getDouble(3) == -1.609438)
  }

  test("contaminationBloom == contamination, even with a saturated (high-fpp) filter") {
    val sf = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val bench = corpus.where(col("doc_id") % 97 === 0)
    val exact = Dedup.contamination(corpus, bench)
      .orderBy("doc_id").collect().toSeq
    val bloomed = Dedup.contaminationBloom(corpus, bench)
      .orderBy("doc_id").collect().toSeq
    assert(exact.nonEmpty && bloomed == exact)
    // a deliberately undersized filter saturates (fpp -> high): more
    // rows reach the verify join, but the output must not change
    val saturated = Dedup.contaminationBloom(corpus, bench,
      expectedItems = 8, fpp = 0.5)
      .orderBy("doc_id").collect().toSeq
    assert(saturated == exact)
  }

  test("spanDupScore: shared spans counted cross-doc, unique docs score zero") {
    // w=3 for readable fixtures; docs 0 and 1 share their first 3-token
    // span; doc 2 shares nothing
    val d = Seq(
      (0L, "alpha beta gamma one two"),
      (1L, "alpha beta gamma nine ten"),
      (2L, "totally different words entirely here")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDupScore(d, w = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // doc 0 shingles: [abc, bc1, c12] — only "alpha beta gamma" shared
    assert(out(0L) == ((3, 1L)), s"doc0: $out")
    assert(out(1L) == ((3, 1L)), s"doc1: $out")
    assert(out(2L) == ((3, 0L)), s"doc2: $out")
  }

  test("simhashPairs rejects maxDist the chunk blocking cannot cover") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxDist = 4).collect()
    }
  }

  test("simhashPairs xxhash and portable variants agree on exact-dup pairs") {
    // The xxhash64 variant has no DuckDB twin (and thus no gate entry);
    // the portable twin carries the oracle proof. This pins the two
    // variants to the same semantics where they must agree regardless
    // of hash choice: identical texts hash to identical fingerprints
    // (hamming 0) under ANY per-token hash, so the exact-dup pair
    // (0,3) appears in both, and neither invents pairs between the
    // disjoint-vocab docs 2 and 4.
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue)
        .toMap
    val x = pairs(Dedup.simhashPairs(docs))
    val p = pairs(Dedup.simhashPairsPortable(docs))
    for ((name, m) <- Seq("xxhash" -> x, "portable" -> p)) {
      assert(m.get((0L, 3L)).contains(0L), s"$name must pair the exact dup: $m")
      assert(!m.contains((2L, 4L)), s"$name invented a disjoint-vocab pair: $m")
    }
  }

  test("round-3 operators degrade cleanly on empty/degenerate input") {
    val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sfEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // empty corpus/embeddings: empty out, no NPE/analysis error
    assert(TextAnalysis.lmQuality(sfDocs.limit(0)).count() == 0)
    assert(Similarity.semanticDedup(sfEmb.limit(0)).count() == 0)
    // empty benchmark: nothing is contaminated
    assert(Dedup.contaminationBloom(sfDocs, sfDocs.limit(0)).count() == 0)
    // threshold above any cosine: nothing pruned
    assert(Similarity.semanticDedup(sfEmb, threshold = 1.1).count() == sfEmb.count())
    // empty pair graph: leakage-safe split == plain assignSplit
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val ls = Sampling.leakageSafeSplit(sfDocs, noPairs)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val as = Sampling.assignSplit(sfDocs)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ls == as)
  }

  test("round-4 operators degrade cleanly on empty/degenerate input") {
    val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sfEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val none = sfDocs.limit(0)
    val blank = Seq((1L, "", "en", "s0")).toDF("doc_id", "text", "lang", "source")
    // empty corpus: empty output, no analysis/runtime error
    assert(TextAnalysis.gopherRules(none).count() == 0)
    assert(TextAnalysis.c4Clean(none).count() == 0)
    assert(TextAnalysis.dsirWeights(none, col("lang") === "en").count() == 0)
    assert(TextAnalysis.featureHashVectors(none).count() == 0)
    assert(TextAnalysis.tfidfTopTerms(none).count() == 0)
    assert(TextAnalysis.qualityPercentileFilter(none).count() == 0)
    assert(Dedup.lineDedup(none).count() == 0)
    assert(Dedup.substringDedup(none).count() == 0)
    assert(Dedup.noveltyScore(none).count() == 0)
    assert(Dedup.dedupCorpusMinhash(none).count() == 0)
    assert(Sampling.mixtureSample(none, "source", Map("src0" -> 1)).count() == 0)
    assert(Similarity.kmeansAssign(sfEmb.limit(0)).count() == 0)
    assert(Similarity.clusterBalancedSample(sfEmb.limit(0)).count() == 0)
    assert(Similarity.randomProjection(sfEmb.limit(0)).count() == 0)
    // empty batch / empty corpus sides of incremental dedup
    assert(Dedup.incrementalDedup(sfDocs, none).count() == 0)
    assert(Dedup.incrementalDedup(none, blank).count() == 1,
      "batch passes through an empty corpus (self-unique)")
    // funnel on empty corpus: 5 stage rows, all zero
    val f = graft.ext.Curation.curationFunnel(none, none).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(f.keySet == Set(0, 1, 2, 3, 4) && f.values.forall(_ == 0L))
    // single empty-text document flows through every per-row op
    assert(TextAnalysis.gopherRules(blank).count() == 1)
    // empty text tokenizes to ZERO tokens (the phantom "" token the
    // old trim+split emitted is gone), so the explode drops the doc
    assert(TextAnalysis.featureHashVectors(blank).count() == 0L)
    assert(Dedup.lineDedup(blank).head.getString(3) == "")
    assert(Dedup.substringDedup(blank).count() == 1)
  }

  test("dupClusters: layout-invariant (repartitioned pairs give same clusters)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // diameter > 4
      (10L, 11L), (11L, 12L)).toDF("a_id", "b_id")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.dupClusters(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val base = run(pairs)
    assert(base == run(pairs.repartition(13)))
    // chain 1-6 must fully collapse to label 1 (needs >1 superstep)
    assert(base.filter(_._1 <= 6).forall(_._2 == 1L), s"$base")
    assert(base.filter(_._1 >= 10).forall(_._2 == 10L), s"$base")
  }

  test("dupClusters: transitive closure, min-id canonical keeper") {
    // chain 1-2, 2-3 (1 and 3 never paired directly) + island 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("dupClusters: driver union-find path == distributed superstep path") {
    // high-diameter chain + islands + a cycle, run through BOTH paths
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L), (10L, 11L), (11L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
    val small = norm(Dedup.dupClusters(pairs)) // under threshold: union-find
    val dist = norm(Dedup.dupClusters(pairs, driverThreshold = -1L))
    assert(small == dist, s"paths must agree:\n$small\n$dist")
    // real-fixture pairs through both paths too
    val real = Dedup.ngramJaccardPairs(docs)
    assert(norm(Dedup.dupClusters(real)) ==
      norm(Dedup.dupClusters(real, driverThreshold = -1L)))
  }

  test("multimodal resize: fixed output dims, box-filter means, deterministic") {
    // 4×2 "image": payload bytes 0,4,8,12 / 16,20,24,28 → 2×1 resize
    // averages each 2×2 box: (0+4+16+20)/4=10, (8+12+24+28)/4=18
    val bytes = Array[Byte](0, 4, 8, 12, 16, 20, 24, 28)
    val assets = Seq(Multimodal.MediaAsset(1L, bytes, "png", 4, 2)).toDS().toDF()
    val r = Multimodal.resize(spark, assets, outW = 2, outH = 1).collect().head
    assert(r.width == 2 && r.height == 1)
    assert(r.media.toSeq == Seq[Byte](10, 18))
    val again = Multimodal.resize(spark, assets, outW = 2, outH = 1).collect().head
    assert(again.media.toSeq == r.media.toSeq)
  }

  test("decodeStatsRobust: malformed rows null out, PGM arm is luma-exact") {
    // ids chosen against the mod rules: 9 -> bmp ok, 4 -> ppm ok,
    // 11 -> pgm ok (same text: all three containers must agree on the
    // luma stats — the P5 grayscale round trip is luma-exact);
    // 7 -> 7%7=0 truncated-at-half, 1 -> 1%7=1 corrupted magic
    val text = "The quick brown fox jumps over the lazy dog."
    val docs = Seq((9L, text), (4L, text), (11L, text), (7L, text), (1L, text))
      .toDF("doc_id", "text")
    val out = Multimodal.decodeStatsRobust(spark, docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(9).getString(1) == "bmp" && out(9).getBoolean(2))
    assert(out(4).getString(1) == "ppm" && out(4).getBoolean(2))
    assert(out(11).getString(1) == "pgm" && out(11).getBoolean(2))
    for (col <- Seq("n_px", "luma_sum", "luma_wsum"))
      assert(Set(9L, 4L, 11L).map(id => out(id).getAs[Long](col)).size == 1,
        s"container formats disagree on $col")
    for (id <- Seq(7L, 1L)) {
      assert(!out(id).getBoolean(2))
      for (c <- Seq("width", "height", "n_px", "luma_sum", "luma_wsum"))
        assert(out(id).isNullAt(out(id).fieldIndex(c)), s"id=$id $c not null")
    }
    // stats of the ok rows match the strict tier on the same text
    val strict = Multimodal.decodeStats(spark, Seq((9L, text)).toDF("doc_id", "text"))
      .collect().head
    assert(out(9).getAs[Long]("luma_wsum") == strict.getAs[Long]("luma_wsum"))
  }

  test("decodeStatsImageIo: PNG arm exact, JPEG arm close, corruption nulls") {
    // mod rules: 4 -> png ok, 9 -> jpeg ok, 14 -> png truncated (14%7=0),
    // 15 -> jpeg corrupted magic (15%7=1)
    val text = "The quick brown fox jumps over the lazy dog."
    val docs = Seq((4L, text), (9L, text), (14L, text), (15L, text))
      .toDF("doc_id", "text")
    val out = Multimodal.decodeStatsImageIo(spark, docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // PNG: lossless — exact luma_sum equals the BMP strict tier's
    val strict = Multimodal.decodeStats(spark,
      Seq((4L, text)).toDF("doc_id", "text")).collect().head
    assert(out(4).getString(1) == "png" && out(4).getBoolean(2))
    assert(out(4).getAs[Long]("luma_sum") == strict.getAs[Long]("luma_sum"),
      "PNG round trip must be bit-exact")
    assert(out(4).getAs[Boolean]("luma_close"))
    // JPEG: shape exact, luma_sum deliberately NULL, tolerance verdict
    assert(out(9).getString(1) == "jpeg" && out(9).getBoolean(2))
    assert(out(9).getAs[Int]("width") == 32)
    assert(out(9).isNullAt(out(9).fieldIndex("luma_sum")))
    assert(out(9).getAs[Boolean]("luma_close"),
      "JPEG mean luma must stay inside the ±4 band")
    // corrupted rows: ok=false, everything NULL
    for (id <- Seq(14L, 15L)) {
      assert(!out(id).getBoolean(2), s"id=$id must fail decode")
      for (c <- Seq("width", "height", "n_px", "luma_sum", "luma_close"))
        assert(out(id).isNullAt(out(id).fieldIndex(c)), s"id=$id $c not null")
    }
  }

  test("txlog SQL surface: spark.sql over a registered view == API snapshot") {
    import graft.ingest.TxLog
    val t = java.nio.file.Files.createTempDirectory("txsql_spec").toString
    val df = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("doc_id", "lang", "n_chars")
    TxLog.write(df, t, "overwrite")
    TxLog.delete(spark, t, col("doc_id") === 2L)
    TxLog.registerView(spark, t, "txsql_spec_now")
    TxLog.registerView(spark, t, "txsql_spec_v0", asOf = Some(0L))
    // SQL over the view ≡ API snapshot, row for row
    val viaSql = spark.sql(
      "SELECT doc_id, lang, n_chars FROM txsql_spec_now ORDER BY doc_id")
      .collect().toSeq
    val viaApi = TxLog.snapshot(spark, t)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect().toSeq
    assert(viaSql == viaApi)
    assert(viaSql.map(_.getLong(0)) == Seq(1L, 3L))
    // the time-travel view still shows the pre-delete table
    assert(spark.sql("SELECT COUNT(*) FROM txsql_spec_v0")
      .collect().head.getLong(0) == 3L)
    // snapshot isolation: a commit AFTER registration doesn't leak in
    TxLog.write(Seq((9L, "fr", 90L)).toDF("doc_id", "lang", "n_chars"),
      t, "append")
    assert(spark.sql("SELECT COUNT(*) FROM txsql_spec_now")
      .collect().head.getLong(0) == 2L)
    TxLog.registerView(spark, t, "txsql_spec_now") // re-register advances
    assert(spark.sql("SELECT COUNT(*) FROM txsql_spec_now")
      .collect().head.getLong(0) == 3L)
  }

  test("audioStats: hand-computed waveform stats, corruption arms null out") {
    // id 4: mono ok; id 9: stereo ok; id 7 (7%7=0) truncated;
    // id 15 (15%7=1) corrupted magic. text "ab" -> len 2, frames 4
    val docs = Seq((4L, "ab"), (9L, "ab"), (7L, "ab"), (15L, "ab"))
      .toDF("doc_id", "text")
    val out = Multimodal.audioStats(spark, docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // mono, len 2: b = [97, 98]; s_i = ((b(i%2)*257 + i*31) % 65536) - 32768
    val b = Array(97, 98)
    val monoS = (0 until 4).map(i => ((b(i % 2) * 257 + i * 31) % 65536) - 32768)
    assert(out(4L).getBoolean(2))
    assert(out(4L).getAs[Int]("channels") == 1)
    assert(out(4L).getAs[Long]("n_samples") == 4L)
    assert(out(4L).getAs[Long]("amp_sum") == monoS.map(_.toLong).sum)
    assert(out(4L).getAs[Long]("abs_sum") == monoS.map(s => math.abs(s).toLong).sum)
    assert(out(4L).getAs[Int]("max_abs") == monoS.map(math.abs).max)
    assert(out(4L).getAs[Long]("zero_cross") ==
      monoS.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong)
    // stereo, len 2: 8 interleaved samples, channel term 8191
    val stS = (0 until 8).map { j =>
      val i = j / 2; val c = j % 2
      ((b(i % 2) * 257 + i * 31 + c * 8191) % 65536) - 32768
    }
    assert(out(9L).getAs[Int]("channels") == 2)
    assert(out(9L).getAs[Long]("n_samples") == 8L)
    assert(out(9L).getAs[Long]("amp_sum") == stS.map(_.toLong).sum)
    // corruption arms: ok=false, all stats NULL
    for (id <- Seq(7L, 15L)) {
      assert(!out(id).getBoolean(2))
      for (c <- Seq("channels", "sample_rate", "n_samples", "amp_sum",
        "abs_sum", "max_abs", "zero_cross"))
        assert(out(id).isNullAt(out(id).fieldIndex(c)), s"id=$id $c not null")
    }
  }

  test("audioFrameEnergy: exact per-window sums, full windows only") {
    // mono (id 4), text of 200 chars -> 400 samples -> one full
    // 256-window; the 144-sample tail is dropped
    val text = "x" * 200
    val out = Multimodal.audioFrameEnergy(spark,
      Seq((4L, text)).toDF("doc_id", "text")).collect()
    assert(out.length == 1 && out.head.getInt(1) == 0)
    val bx = 'x'.toInt
    val expect = (0 until 256).map { i =>
      val s = ((bx * 257 + i * 31) % 65536) - 32768
      s.toLong * s
    }.sum
    assert(out.head.getLong(2) == expect)
    // stereo doubles the sample count: 800 samples -> 3 full windows
    assert(Multimodal.audioFrameEnergy(spark,
      Seq((9L, text)).toDF("doc_id", "text")).count() == 3L)
  }

  test("videoFrameLuma: hand-computed sampled-frame sums through the container") {
    // "ab" -> len 2 -> n_frames = 4 + 2%5 = 6; sampled f = 0, 2, 4
    val out = Multimodal.videoFrameLuma(spark,
      Seq((1L, "ab")).toDF("doc_id", "text")).collect()
      .map(r => r.getInt(1) -> r).toMap
    assert(out.keySet == Set(0, 2, 4))
    val b = Array('a'.toInt, 'b'.toInt)
    def sum(f: Int): Long = (0 until 256).map(i =>
      ((b((i + 13 * f) % 2) + 7 * f) % 256).toLong).sum
    for (f <- Seq(0, 2, 4)) {
      assert(out(f).getInt(2) == 6, "n_frames")
      assert(out(f).getInt(3) == 32 && out(f).getInt(4) == 8)
      assert(out(f).getLong(5) == sum(f), s"frame $f luma sum")
    }
  }

  test("multimodalManifest: one row per doc, per-arm stats, quarantine NULLs") {
    val text = "The quick brown fox jumps over the lazy dog."
    // 4: all arms ok; 7 (7%7=0): image+audio corrupt (video arm is the
    // clean sampler — n_frames always present)
    val out = Multimodal.multimodalManifest(spark,
      Seq((4L, text), (7L, text)).toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 2)
    val ok = out(4L)
    assert(ok.getAs[Boolean]("img_ok") && ok.getAs[Boolean]("aud_ok"))
    // arm values equal the standalone tiers'
    val img = Multimodal.decodeStatsRobust(spark,
      Seq((4L, text)).toDF("doc_id", "text")).collect().head
    assert(ok.getAs[Long]("img_luma_sum") == img.getAs[Long]("luma_sum"))
    val aud = Multimodal.audioStats(spark,
      Seq((4L, text)).toDF("doc_id", "text")).collect().head
    assert(ok.getAs[Long]("aud_abs_sum") == aud.getAs[Long]("abs_sum"))
    assert(ok.getAs[Int]("n_frames") == 4 + text.length % 5)
    assert(ok.getAs[Int]("n_sampled") == (4 + text.length % 5 + 1) / 2)
    val bad = out(7L)
    assert(!bad.getAs[Boolean]("img_ok") && !bad.getAs[Boolean]("aud_ok"))
    assert(bad.isNullAt(bad.fieldIndex("img_luma_sum")))
    assert(bad.isNullAt(bad.fieldIndex("aud_abs_sum")))
    assert(bad.getAs[Int]("n_frames") > 0, "video arm has no dirty path")
  }

  test("multimodal frameSample: every stride-th fixed-size frame, streamed") {
    // 300 bytes → 4 frames of 64 (tail 44 bytes dropped); stride 4 keeps frame 0
    val media = Array.tabulate(300)(_.toByte)
    val assets = Seq(Multimodal.MediaAsset(7L, media, "webm", 0, 0)).toDS().toDF()
    val frames = Multimodal.frameSample(spark, assets, frameBytes = 64, stride = 4)
      .collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0))
    assert(frames.head.getAs[Array[Byte]]("frame").toSeq == media.take(64).toSeq)
    // stride 2 over 5 frames (320 bytes) keeps 0,2,4
    val a2 = Seq(Multimodal.MediaAsset(8L, Array.tabulate(320)(_.toByte), "webm", 0, 0))
      .toDS().toDF()
    assert(Multimodal.frameSample(spark, a2, 64, 2).collect().map(_.getInt(1)).toSeq
      == Seq(0, 2, 4))
  }

  test("prefix-filtered ngram Jaccard == naive shingle join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val naive = graft.ext.Dedup.ngramJaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = graft.ext.Dedup.ngramJaccardPairsPrefix(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == naive)
    assert(naive.nonEmpty, "fixture must contain near-duplicate docs")
  }

  test("editDistanceVerify: exact dup at 0, near-dup small, unrelated pair rejected") {
    val pairs = Seq((0L, 1L), (0L, 3L), (0L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.editDistanceVerify(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Int]("edit_dist"), r.getAs[Double]("edit_sim"))).toMap
    assert(out((0L, 3L))._1 == 0 && out((0L, 3L))._2 == 1.0) // exact dup
    val (nd, ns) = out((0L, 1L)) // today -> tonight: a few char edits
    assert(nd > 0 && nd <= 6 && ns > 0.9)
    assert(!out.contains((0L, 2L)), "unrelated pair must fail the 30% filter")
  }

  test("editDistanceVerify: prefix cap bounds the DP and the reported lengths") {
    val long = Seq(
      (0L, "x" * 500 + " tail one"),
      (1L, "x" * 500 + " tail two")).toDF("doc_id", "text")
    val out = Dedup.editDistanceVerify(long, Seq((0L, 1L)).toDF("a_id", "b_id"),
      prefix = 100).collect()
    assert(out.length == 1)
    // both prefixes are the identical first 100 chars -> distance 0
    assert(out.head.getAs[Int]("edit_dist") == 0)
    assert(out.head.getAs[Int]("a_len") == 100 && out.head.getAs[Int]("b_len") == 100)
  }

  test("sourceCap: per-source quota enforced, survivors are the quality top-cap") {
    val base = docs.withColumn("source",
      when(col("doc_id") < 3, "sA").otherwise("sB"))
    val out = graft.ext.Curation.sourceCap(base, cap = 2).collect()
    assert(out.groupBy(_.getAs[String]("source")).forall(_._2.length <= 2))
    val q = TextAnalysis.withQuality(base)
      .select("doc_id", "source", "quality").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = q.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(t => (-t._3, t._1)).take(2).map(_._1).toSeq
    }.toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == expected)
    // ranks within each source are contiguous from 1
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("source_rank")).sorted.toSeq ==
        (1 to rows.length).toSeq)
    }
  }

  test("shardManifest: rollup consistent with the assignment, md5 digest of id list") {
    val df = (0L until 40L).map(i => (i, 100)).toDF("doc_id", "n_tokens")
    val packed = Sampling.packShards(df, "n_tokens", budget = 1000, nBuckets = 4)
    val man = Sampling.shardManifest(packed).collect()
    man.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == r.getAs[Long]("n_docs") * 100)
      assert(r.getAs[Long]("min_id") <= r.getAs[Long]("max_id"))
    }
    assert(man.map(_.getAs[Long]("n_docs")).sum == 40L)
    val members = packed
      .where(col("pack_bucket") === 0 && col("shard_in_bucket") === 0)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(members.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val row = man.find(r => r.getAs[Long]("pack_bucket") == 0L &&
      r.getAs[Long]("shard_in_bucket") == 0L).get
    assert(row.getAs[String]("content_digest") == md)
  }

  test("dedupKeepBest keeps the higher-quality cluster member, not min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (20L, base + " alpha alpha alpha"), // repetitive tail -> lower TTR
      (21L, base),                        // clean copy, HIGHER quality, higher id
      (22L, "unrelated words that share no shingles with the pair above at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, minJaccard = 0.5)
    assert(pairs.count() == 1) // only (20, 21)
    val kept = Dedup.dedupKeepBest(d, pairs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(21L, 22L), "quality-canonical keeps the clean copy")
    // contrast: the min-id convention keeps 20 instead
    val minIdKept = d.join(
        Dedup.dupClusters(pairs).where(!col("is_keeper")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(minIdKept == Set(20L, 22L))
  }

  test("lexicalDiversity: type/token/hapax arithmetic on a known corpus") {
    val d = Seq(
      (0L, "a a a b", "s1"), (1L, "x y z w", "s2")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.lexicalDiversity(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_tokens") == 4 && s1.getAs[Long]("n_types") == 2 &&
      s1.getAs[Long]("n_hapax") == 1)
    assert(s1.getAs[Double]("type_token_ratio") == 0.5 &&
      s1.getAs[Double]("hapax_rate") == 0.5)
    val s2 = out("s2")
    assert(s2.getAs[Long]("n_types") == 4 &&
      s2.getAs[Double]("hapax_rate") == 1.0)
  }

  test("qualityCalibration: bins partition the corpus, means stay in-bin") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.qualityCalibration(d).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == d.count())
    out.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 9)
      val m = r.getAs[Double]("mean_quality")
      assert(m >= bin / 10.0 - 1e-9 && m <= (bin + 1) / 10.0 + 1e-9 ||
        bin == 9L && m <= 1.0 + 1e-9)
      val pr = r.getAs[Double]("pass_rate")
      assert(pr >= 0.0 && pr <= 1.0)
    }
  }

  test("filterAgreement: contingency sums to n, kappa consistent with po/pe") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val r = TextAnalysis.filterAgreement(d).collect().head
    val (n, n11, n10, n01, n00) = (r.getAs[Long]("n"), r.getAs[Long]("n11"),
      r.getAs[Long]("n10"), r.getAs[Long]("n01"), r.getAs[Long]("n00"))
    assert(n == d.count() && n == n11 + n10 + n01 + n00)
    val (po, pe) = (r.getAs[Double]("po"), r.getAs[Double]("pe"))
    assert(po >= 0.0 && po <= 1.0 && pe > 0.0 && pe < 1.0)
    assert(r.getAs[Double]("kappa") == (po - pe) / (1.0 - pe))
  }

  test("kmvCardinality: exact below k, driver-recomputed kth min above k") {
    // polyhash64 + Fibonacci finalizer recompute on the driver
    def ph(s: String): Long = {
      var h = 0L
      s.getBytes("UTF-8").foreach(b => h = h * 1000003L + (b & 0xffL))
      h * -7046029254386353131L // wraps ≡ mod 2^64
    }
    val small = (1 to 10).map(i => s"tok$i").mkString(" ")     // 10 distinct
    val big = (1 to 400).map(i => s"w$i").mkString(" ")        // 400 distinct
    val d = Seq((0L, small, "small"), (1L, big, "big"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Sketches.kmvCardinality(d, k = 16).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("small").getAs[Long]("n_kept") == 10)
    assert(out("small").getAs[Double]("est_distinct") == 10.0)
    // big source: kth hash equals the driver-computed 16th smallest
    val mins = (1 to 400).map(i => ph(s"w$i")).distinct
      .sorted(Ordering.fromLessThan[Long](
        (a, b) => java.lang.Long.compareUnsigned(a, b) < 0))
    assert(out("big").getAs[Long]("kth_hash") == mins(15))
    val est = out("big").getAs[Double]("est_distinct")
    assert(est > 80 && est < 2000, s"KMV estimate $est wildly off 400")
  }

  test("kmvCardinality aggregates with a map-side partial (constant state)") {
    val d = Seq((0L, "a b c", "s")).toDF("doc_id", "text", "source")
    val plan = graft.ext.Sketches.kmvCardinality(d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_kmv_sketch"),
      "kmv_sketch must partial-aggregate before the exchange")
  }

  test("cmsHeavyHitters: heavy token surfaces with exact verdict, screen is upper-biased") {
    // 'hot' = 500 of 1000 instances; fillers unique (1 instance each)
    val d = (0 until 50).map { i =>
      (i.toLong,
        (("hot " * 10) + (1 to 10).map(j => s"u${i}_$j").mkString(" ")).trim,
        "s")
    }.toDF("doc_id", "text", "source")
    // phi=0.1 → threshold ceil(0.1·1000) = 100; only 'hot' qualifies
    val out = graft.ext.Sketches.cmsHeavyHitters(d, phi = 0.1).collect()
    val hot = out.find(_.getString(0) == "hot")
    assert(hot.isDefined, "heavy token must reach the candidate tier and pass")
    assert(hot.get.getAs[Long]("exact_freq") == 500L)
    assert(hot.get.getAs[Long]("threshold") == 100L)
    assert(hot.get.getAs[Boolean]("is_heavy"))
    out.foreach { r =>
      // CMS is upper-biased: est ≥ exact, and everything surfaced
      // passed the screen; is_heavy is the exact-count verdict
      assert(r.getAs[Long]("est_freq") >= r.getAs[Long]("exact_freq"))
      assert(r.getAs[Long]("est_freq") >= r.getAs[Long]("threshold"))
      assert(r.getAs[Boolean]("is_heavy") ==
        (r.getAs[Long]("exact_freq") >= r.getAs[Long]("threshold")))
    }
  }

  test("bloomFprAudit: bits and false positives match an independent Scala fold") {
    def mix(z0: Long): Long = {
      var z = z0
      z ^= z >>> 30; z *= -4658895280553007687L
      z ^= z >>> 27; z *= -7723592293110705685L
      z ^ (z >>> 31)
    }
    val GOLD = graft.functions.CmsSketch.GOLD
    val m = 4096
    def poss(h: Long): Seq[Int] =
      (0 until 6).map(i => ((h * (2L * i + 1) + i.toLong * GOLD) & (m - 1)).toInt)
    val d = (0L until 1400L).map(i => (i, s"doc $i", "s"))
      .toDF("doc_id", "text", "source")
    val bits = (0L until 1400L by 2).flatMap(i => poss(mix(i))).toSet
    val fps = (1L until 1400L by 2).count(p => poss(mix(p)).forall(bits))
    val r = graft.ext.Sketches.bloomFprAudit(d, mBits = m).collect().head
    assert(r.getAs[Long]("n_members") == 700L)
    assert(r.getAs[Long]("n_probes") == 700L)
    assert(r.getAs[Long]("n_bits_set") == bits.size.toLong)
    assert(r.getAs[Long]("n_false_pos") == fps.toLong)
    assert(r.getAs[Double]("measured_fpr") == fps / 700.0)
    // kn/m ≈ 1.0 here — a well-conditioned regime where the measured
    // rate should sit near the analytic bound (deterministic, no flake)
    val th = r.getAs[Double]("theoretical_fpr")
    assert(r.getAs[Double]("measured_fpr") > th / 3 &&
      r.getAs[Double]("measured_fpr") < th * 3,
      s"measured ${r.getAs[Double]("measured_fpr")} vs theoretical $th")
  }

  test("hllCardinality: registers and estimate match an independent Scala fold") {
    def ph(s: String): Long = {
      var h = 0L
      s.getBytes("UTF-8").foreach(b => h = h * 1000003L + (b & 0xffL))
      var z = h // splitmix64 finalizer, as HllSketch.mix64
      z ^= z >>> 30; z *= -4658895280553007687L
      z ^= z >>> 27; z *= -7723592293110705685L
      z ^ (z >>> 31)
    }
    val p = 10; val m = 1 << p
    def estOf(hs: Seq[Long]): (Long, Double, Long) = {
      val regs = new Array[Int](m)
      hs.foreach { h =>
        val j = (h >>> (64 - p)).toInt
        val r = math.min(java.lang.Long.numberOfLeadingZeros(h << p) + 1,
          64 - p + 1)
        if (r > regs(j)) regs(j) = r
      }
      val v = regs.count(_ == 0).toLong
      val s = regs.map(r => BigDecimal(math.pow(2.0, 64.0 - r))).sum
      val raw = graft.functions.HllSketch.alphaMm2Pow64(p) / s.toDouble
      val est = if (v > 0 && raw <= 2.5 * m)
        (math.round(math.log(m.toDouble / v) * 1e6) * m).toDouble / 1e6
      else raw
      (v, est, hs.distinct.length.toLong)
    }
    val small = (1 to 10).map(i => s"tok$i").mkString(" ")
    val big = (1 to 4000).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, small, "small"), (1L, big, "big"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Sketches.hllCardinality(d, p).collect()
      .map(r => r.getString(0) -> r).toMap
    Seq("small" -> small, "big" -> big).foreach { case (src, text) =>
      val (v, est, nd) = estOf(text.split("\\s+").toSeq.map(ph))
      assert(out(src).getAs[Long]("v_zero") == v, s"$src v_zero")
      assert(out(src).getAs[Double]("est_distinct") == est, s"$src est")
      assert(out(src).getAs[Long]("exact_distinct") == nd, s"$src exact")
    }
    // linear-counting regime: 10 of 1024 registers set — est ~ 10
    assert(math.abs(out("small").getAs[Double]("est_distinct") - 10.0) < 1.0)
    // raw regime at 4000 distinct: within the ~3.2% stderr (10% slack)
    assert(math.abs(out("big").getAs[Long]("err_bp")) < 1000L)
  }

  test("hllCardinality: repartition-invariant, map-side partial in the plan") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val a = graft.ext.Sketches.hllCardinality(d).orderBy("source").collect()
    val b = graft.ext.Sketches.hllCardinality(d.repartition(7))
      .orderBy("source").collect()
    assert(a.toSeq == b.toSeq, "register merge must be order-independent")
    assert(a.forall(r => math.abs(r.getAs[Long]("err_bp")) < 1500L),
      "per-source estimates should sit near the 1.04/sqrt(1024) stderr")
    val plan = graft.ext.Sketches.hllCardinality(d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_hll_sketch"),
      "hll_sketch must partial-aggregate before the exchange")
  }

  test("hllUnionSources: mirror pair at jaccard 1, disjoint pair near 0, " +
      "union equals the concatenated corpus estimate") {
    val tA = (1 to 300).map(i => s"a$i").mkString(" ")
    val tB = (1 to 300).map(i => s"b$i").mkString(" ")
    val d = Seq((0L, tA, "A"), (1L, tB, "B"), (2L, tA, "M"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Sketches.hllUnionSources(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // M mirrors A: identical registers, union = either side, jaccard = 1
    val am = out(("A", "M"))
    assert(am.getAs[Double]("est_union") == am.getAs[Double]("est_a"))
    assert(am.getAs[Double]("est_jaccard") == 1.0)
    // disjoint vocabularies: intersection is IE noise only
    val ab = out(("A", "B"))
    assert(ab.getAs[Double]("est_jaccard") < 0.2)
    assert(ab.getAs[Double]("est_union") > ab.getAs[Double]("est_a"))
    // merged registers ARE the union corpus' registers: relabel A+B as
    // one source and the single-source estimate matches est_union bit
    // for bit (the mergeability contract)
    val concat = graft.ext.Sketches.hllCardinality(
      d.where(col("source").isin("A", "B")).withColumn("source", lit("all")))
      .collect().head.getAs[Double]("est_distinct")
    assert(ab.getAs[Double]("est_union") == concat)
  }

  test("hllUnionSources: a persisted register table feeds the identical report") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_hllregs").toString
    graft.ext.Sketches.hllRegistersOf(d)
      .write.mode("overwrite").parquet(dir)
    val fromRegs = graft.ext.Sketches
      .hllUnionSourcesFromRegs(spark.read.parquet(dir))
      .orderBy("source_a", "source_b").collect()
    val selfBuilt = graft.ext.Sketches.hllUnionSources(d)
      .orderBy("source_a", "source_b").collect()
    assert(fromRegs.toSeq == selfBuilt.toSeq,
      "register arrays must survive the parquet round trip bit-exactly")
  }

  test("decontaminateFuzzy drops resemblance matches the exact tier misses") {
    val bench = "the capital of france is paris and the seine flows through it gently"
    val para = "the capital of france is paris and the seine flows through it softly"
    val d = Seq(
      (1L, para),                       // near-dup of the benchmark doc
      (2L, "completely unrelated text about spark partitions and shuffle exchanges here"),
      (3L, bench)                       // verbatim benchmark copy
    ).toDF("doc_id", "text")
    val b = Seq((100L, bench)).toDF("doc_id", "text")
    val kept = Dedup.decontaminateFuzzy(d, b).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"got $kept")
    // the benchmark side broadcasts; candidate generation never
    // shuffles the corpus against itself
    val plan = Dedup.decontaminateFuzzy(d, b).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("dedupCrossSource: mirror cell and self-crawl cell both surface") {
    val t = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq(
      (0L, t, "srcA"), (1L, t + " x", "srcA"),   // self-crawl inside srcA
      (2L, t, "srcB"),                            // srcB mirrors srcA
      (3L, "entirely different content with no shingle overlap at all here", "srcC")
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(d, minJaccard = 0.5)
    val m = Dedup.dedupCrossSource(d, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_involved"))).toMap
    assert(m(("srcA", "srcA")) == (1L, 2L))   // (0,1)
    assert(m(("srcA", "srcB")) == (2L, 3L))   // (0,2), (1,2) over docs {0,1,2}
    assert(!m.keySet.exists(k => k._1 == "srcC" || k._2 == "srcC"))
  }

  test("oovRate: everything in-vocab at full V, rare tokens OOV at tiny V") {
    val d = Seq(
      (0L, "aa aa aa bb", "en"), (1L, "aa cc", "de")
    ).toDF("doc_id", "text", "lang")
    // vocabSize 1: only 'aa' (cnt 4) survives; bb and cc are OOV
    val tiny = TextAnalysis.oovRate(d, vocabSize = 1).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(tiny("en").getAs[Long]("n_oov") == 1 &&
      tiny("en").getAs[Double]("oov_rate") == 0.25)
    assert(tiny("de").getAs[Long]("n_oov") == 1 &&
      tiny("de").getAs[Double]("oov_rate") == 0.5)
    // full vocabulary: zero OOV everywhere
    val full = TextAnalysis.oovRate(d, vocabSize = 10).collect()
    assert(full.forall(_.getAs[Long]("n_oov") == 0L))
  }

  test("lengthQuantiles: weighted-frequency percentile equals plain percentile") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = TextAnalysis.lengthQuantiles(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // recompute one source's p50/p99 over raw (unweighted) lengths
    val plain = docs
      .select(col("source"), size(split(trim(col("text")), "\\s+"))
        .cast("long").as("n"))
      .groupBy(col("source"))
      .agg(expr("percentile(n, array(0.5, 0.99))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    plain.foreach { case (src, q) =>
      assert(got(src).getAs[Double]("p50_tokens") == q(0), s"$src p50")
      assert(got(src).getAs[Double]("p99_tokens") == q(1), s"$src p99")
    }
  }

  test("clusterSizeHistogram: crafted 3-cluster + pair corpus") {
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val t2 = "an entirely different second text talking about spark catalyst plans today"
    val d = Seq(
      (0L, t1), (1L, t1), (2L, t1),      // triple
      (3L, t2), (4L, t2),                 // pair
      (5L, "unique text with no duplicate partner anywhere in this fixture corpus")
    ).toDF("doc_id", "text")
    val h = Dedup.clusterSizeHistogram(Dedup.ngramJaccardPairs(d, minJaccard = 0.5))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(3L) == (1L, 3L) && h(2L) == (1L, 2L))
    assert(!h.contains(1L), "singletons never enter the pair graph")
  }

  test("rrfFuse: both-arm docs outrank single-arm, scores exact") {
    val armA = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val armB = Seq((1L, 10L, 3L), (1L, 12L, 1L)).toDF("query_id", "doc_id", "rank")
    val out = TextAnalysis.rrfFuse(armA, armB, k = 5).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(10L) == 1.0 / 61 + 1.0 / 63) // both arms
    assert(out(12L) == 1.0 / 61)            // vector-only
    assert(out(11L) == 1.0 / 62)            // lexical-only
    assert(out(10L) > out(12L) && out(12L) > out(11L))
  }

  test("kmv_sketch / unsigned_to_double reach the SQL surface") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, 5L), (1L, 3L), (1L, 5L), (1L, -1L)).toDF("g", "h")
      .createOrReplaceTempView("kmv_in")
    // unsigned order: 3 < 5 < 2^64-1 (-1); duplicates collapse
    val arr = spark.sql(
      "SELECT kmv_sketch(h, 2) AS m FROM kmv_in GROUP BY g")
      .head.getSeq[Long](0)
    assert(arr == Seq(3L, 5L))
    val d = spark.sql("SELECT unsigned_to_double(-1L)").head.getDouble(0)
    assert(d == 1.8446744073709552e19) // 2^64-1 correctly rounded
    // hll_sketch at p=4: h=5 → bucket 0, rank nlz(5·2⁴)+1 = 58;
    // h=3 → bucket 0, rank 59 (wins the max); h=-1 → bucket 15, rank 1
    val regs = spark.sql(
      "SELECT hll_sketch(h, 4) AS r FROM kmv_in GROUP BY g")
      .head.getSeq[Int](0)
    assert(regs.length == 16)
    assert(regs(0) == 59 && regs(15) == 1)
    assert((1 to 14).forall(regs(_) == 0))
  }

  test("klDivergence: zero on a single-source corpus, hand-check on two") {
    // one source == the corpus distribution -> quantized logs identical,
    // KL exactly 0.0 (integer arithmetic, no float tolerance needed)
    val solo = Seq((0L, "a a b", "s1"), (1L, "b c", "s1"))
      .toDF("doc_id", "text", "source")
    assert(TextAnalysis.klDivergence(solo).head.getAs[Double]("kl_divergence")
      == 0.0)
    val d = Seq(
      (0L, "a a b", "s1"),    // a:2 b:1 of 3
      (1L, "a b b b", "s2")   // a:1 b:3 of 4; corpus a:3 b:4 of 7
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.klDivergence(d).collect()
      .map(r => r.getString(0) -> r).toMap
    def q(x: Double): Long = BigDecimal(math.log(x) * 1000000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expS1 = (2L * (q(2.0 / 3) - q(3.0 / 7))
      + 1L * (q(1.0 / 3) - q(4.0 / 7))).toDouble / 3 / 1000000
    assert(out("s1").getAs[Long]("n_tokens") == 3L)
    assert(out("s1").getAs[Double]("kl_divergence") == expS1)
    assert(out.values.forall(_.getAs[Double]("kl_divergence") > 0.0))
  }

  test("skewReport: hot key share and skew ratio hand-computed") {
    val d = (Seq.fill(8)("hot") ++ Seq("a", "b")).toDF("k")
    val out = SkewJoin.skewReport(d, "k").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("hot").getAs[Long]("n_rows") == 8)
    assert(out("hot").getAs[Double]("share") == 0.8)
    // mean rows/key = 10/3; skew = 8 / (10/3) = 2.4
    assert(out("hot").getAs[Double]("skew_vs_mean") == 8.0 / (10.0 / 3.0))
    assert(out("a").getAs[Double]("skew_vs_mean") == 1.0 / (10.0 / 3.0))
  }

  test("equiDepthHistogram: bins partition rows, ranges ordered") {
    val d = (1 to 100).map(_.toDouble / 10).toDF("value")
    val out = Profiling.equiDepthHistogram(d, "value", bins = 10).collect()
      .sortBy(_.getLong(0))
    assert(out.length == 10)
    assert(out.map(_.getAs[Long]("n_rows")).sum == 100)
    // equi-depth on 100 distinct values: every bin holds ~10 rows
    assert(out.forall(r => math.abs(r.getAs[Long]("n_rows") - 10L) <= 1))
    // ranges are disjoint and increasing
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("max_cents") < hi.getAs[Long]("min_cents"))
    }
  }

  test("psiDrift: stationary stream near zero, shifted stream fires") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // stationary: the same 1..100 ramp in both halves
    val stable = (0 until 200).map(i =>
      (ts(if (i < 100) 1 else 20), (i % 100 + 1).toDouble))
      .toDF("ts", "value")
    val psiStable = Profiling.psiDrift(stable)
      .agg(sum(col("psi_contrib"))).head.getDouble(0)
    assert(math.abs(psiStable) < 0.1, s"stable stream: $psiStable")
    // shifted: second half moves up by 50 units
    val drifted = ((0 until 100).map(i => (ts(1), (i + 1).toDouble)) ++
      (0 until 100).map(i => (ts(20), (i + 51).toDouble)))
      .toDF("ts", "value")
    val psiDrifted = Profiling.psiDrift(drifted)
      .agg(sum(col("psi_contrib"))).head.getDouble(0)
    assert(psiDrifted > 0.25, s"shifted stream must fire: $psiDrifted")
  }

  test("rendezvousShard: HRW stability — a key only ever moves TO the new shard") {
    val keys = (1L to 400L).toDF("k")
    val both = keys.select(col("k"),
      Sampling.rendezvousShard(col("k"), 8).as("s8"),
      Sampling.rendezvousShard(col("k"), 9).as("s9")).collect()
    both.foreach { r =>
      val (s8, s9) = (r.getLong(1), r.getLong(2))
      assert(s8 >= 0 && s8 < 8 && s9 >= 0 && s9 < 9)
      // the defining consistent-hashing property: adding shard 8
      // either leaves the key in place or moves it to shard 8
      assert(s9 == s8 || s9 == 8L, s"key ${r.getLong(0)}: $s8 -> $s9")
    }
    val moved = both.count(r => r.getLong(1) != r.getLong(2))
    assert(moved > 0 && moved < 400 / 4, s"~1/9 expected, got $moved/400")
    val rep = Sampling.reshardReport(keys, "k").head
    assert(rep.getAs[Long]("moved_rendezvous") == moved.toLong)
    assert(rep.getAs[Double]("frac_mod") > rep.getAs[Double]("frac_rendezvous") * 3)
  }

  test("vocabOverlapMatrix: shared types and Jaccard hand-computed") {
    val d = Seq(
      (0L, "a b c d", "s1"), (1L, "c d e", "s2"), (2L, "x y", "s3")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.vocabOverlapMatrix(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val p = out(("s1", "s2"))
    assert(p.getAs[Long]("n_shared_types") == 2) // c, d
    assert(p.getAs[Long]("n_types_a") == 4 && p.getAs[Long]("n_types_b") == 3)
    assert(p.getAs[Double]("vocab_jaccard") == 2.0 / 5.0)
    assert(!out.contains(("s1", "s3")), "disjoint vocabularies never pair")
  }

  test("cmsTokenFreq: upper-biased, exact when collision-free, merge-invariant") {
    val d = Seq(
      (0L, "alpha alpha alpha beta"), (1L, "alpha gamma")
    ).toDF("doc_id", "text")
    val wide = graft.ext.Sketches
      .cmsTokenFreq(d, Seq("alpha", "beta", "absent"), width = 1024)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(wide("alpha").getAs[Long]("est_freq") == 4L &&
      wide("alpha").getAs[Long]("overestimate") == 0L)
    assert(wide("beta").getAs[Long]("exact_freq") == 1L)
    assert(wide.values.forall(r =>
      r.getAs[Long]("est_freq") >= r.getAs[Long]("exact_freq")))
    // width 2: collisions guaranteed somewhere -> still upper-biased
    val tiny = graft.ext.Sketches
      .cmsTokenFreq(d, Seq("alpha", "beta", "gamma"), width = 2)
      .collect()
    assert(tiny.forall(r =>
      r.getAs[Long]("est_freq") >= r.getAs[Long]("exact_freq")))
    assert(tiny.map(_.getAs[Long]("overestimate")).sum > 0,
      "width 2 must collide for 3 distinct tokens")
    // partial-merge correctness: partition layout cannot change a cell
    val merged = graft.ext.Sketches
      .cmsTokenFreq(d.repartition(7), Seq("alpha", "beta")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val single = graft.ext.Sketches
      .cmsTokenFreq(d.coalesce(1), Seq("alpha", "beta")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == single)
  }

  test("joinCardinalityEstimate: exact below k on a known overlap") {
    val left = (1L to 10L).toDF("k1")
    val right = (6L to 15L).toDF("k2")
    val r = graft.ext.Sketches
      .joinCardinalityEstimate(left, "k1", right, "k2", k = 256).head
    assert(r.getAs[Double]("est_distinct_left") == 10.0)
    assert(r.getAs[Double]("est_distinct_right") == 10.0)
    assert(r.getAs[Long]("n_union_topk") == 15L)
    assert(r.getAs[Long]("n_common_topk") == 5L)
    assert(r.getAs[Double]("est_union") == 15.0)
    assert(r.getAs[Double]("est_jaccard") == 5.0 / 15.0)
    assert(r.getAs[Double]("est_intersection") == (5.0 / 15.0) * 15.0)
  }

  test("eventTransitions: per-user chains counted, probabilities sum to 1") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // user 1: view->click->view ; user 2: view->purchase
    val ev = Seq(
      (1L, 1L, ts(1), "view", 0.0), (2L, 1L, ts(2), "click", 0.0),
      (3L, 1L, ts(3), "view", 0.0), (4L, 2L, ts(1), "view", 0.0),
      (5L, 2L, ts(2), "purchase", 0.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("evtrans").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.analytics.ShapeQueries.eventTransitions(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet ==
      Set(("view", "click"), ("view", "purchase"), ("click", "view")))
    assert(out(("view", "click")).getAs[Long]("n_transitions") == 1)
    // from 'view' the mass splits evenly; from 'click' it is total
    assert(out(("view", "click")).getAs[Double]("p_transition") == 0.5)
    assert(out(("view", "purchase")).getAs[Double]("p_transition") == 0.5)
    assert(out(("click", "view")).getAs[Double]("p_transition") == 1.0)
  }

  test("sourceHealthReport: one row per source, signals mutually consistent") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.sourceHealthReport(d).collect()
    assert(out.length == d.select("source").distinct().count())
    out.foreach { r =>
      assert(r.getAs[Double]("kl_divergence") >= 0.0)
      assert(r.getAs[Double]("char_entropy") > 0.0)
      assert(r.getAs[Double]("zipf_slope") < 0.0, "freq decreasing in rank")
      assert(r.getAs[Double]("p50_tokens") <= r.getAs[Double]("p99_tokens"))
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("normalize->exact dedup collapses case/space/unicode-form variants") {
    val d = Seq(
      (0L, "Café au lait"),       // decomposed é
      (1L, "café  au\tlait"),      // composed é, messy whitespace
      (2L, "entirely different text")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(TextAnalysis.normalizeText(d)
      .select(col("doc_id"), col("text_norm").as("text"))).collect()
    assert(out.length == 2, "the two variants hash to one normalized form")
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("lmQualityBuckets: per-source tertiles, z-scores, single-doc source") {
    val d = Seq(
      // 'web': three docs with strictly ordered LM scores — the doc of
      // repeated common tokens scores highest (head), the rare-token
      // doc lowest (tail)
      (0L, "the the the the", "web"),
      (1L, "the the rare1 the", "web"),
      (2L, "rare2 rare3 rare4 rare5", "web"),
      (3L, "the solo document here", "solo")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.lmQualityBuckets(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getString(4) == "head")
    assert(out(1L).getString(4) == "middle")
    assert(out(2L).getString(4) == "tail")
    assert(out(0L).getDouble(3) > 0 && out(2L).getDouble(3) < 0)
    // a single-doc source: zero variance -> NULL z, doc is its own head
    assert(out(3L).isNullAt(3) && out(3L).getString(4) == "head")
  }

  test("langMismatch: mislabeled docs counted per source") {
    val d = Seq(
      (0L, "the quick brown fox is with the dog", "en", "good"),
      (1L, "der hund und die katze sind das haus", "de", "good"),
      (2L, "the cat and the dog are in the house", "de", "lying") // en text
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.langMismatch(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("good").getAs[Long]("n_mismatch") == 0 &&
      out("good").getAs[Double]("mismatch_rate") == 0.0)
    assert(out("lying").getAs[Long]("n_mismatch") == 1 &&
      out("lying").getAs[Double]("mismatch_rate") == 1.0)
  }

  test("kAnonymity: small classes flagged, rollup arithmetic exact") {
    val d = (Seq.fill(6)(("a", "x")) ++ Seq.fill(2)(("a", "y")) :+ ("b", "z"))
      .toDF("q1", "q2")
    val r = Profiling.kAnonymity(d, Seq("q1", "q2"), k = 5).head
    assert(r.getAs[Long]("n_classes") == 3 &&
      r.getAs[Long]("n_rows_total") == 9)
    assert(r.getAs[Long]("min_class_size") == 1)
    assert(r.getAs[Long]("n_small_classes") == 2) // (a,y)=2 and (b,z)=1
    assert(r.getAs[Long]("n_rows_at_risk") == 3)
    assert(r.getAs[Double]("at_risk_rate") == 3.0 / 9.0)
  }

  test("dupGraphTransitivity: triangle plus open path, hand-counted") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (5L, 6L))
      .toDF("a_id", "b_id")
    val r = Dedup.dupGraphTransitivity(pairs).head
    assert(r.getAs[Long]("n_edges") == 5)
    assert(r.getAs[Long]("n_wedges") == 4)        // 3 in the triangle + 4-5-6
    assert(r.getAs[Long]("n_closed_wedges") == 3)
    assert(r.getAs[Long]("n_triangles") == 1)
    assert(r.getAs[Double]("transitivity") == 0.75)
    val empty = Dedup.dupGraphTransitivity(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).head
    assert(empty.getAs[Long]("n_wedges") == 0 && empty.isNullAt(4))
  }

  test("imageDupCandidates: exact dups collapse to a group, near pair found") {
    val asc = Array.tabulate(64)(_.toByte)            // mean 31.5: bits 32..63
    // one byte dropped below the mean: exactly bit 40 flips (the new
    // sum 1996 moves no other byte across its threshold)
    val near = asc.clone(); near(40) = 20.toByte
    val desc = Array.tabulate(64)(i => (63 - i).toByte) // mirrored bits 0..31
    val assets = Seq(
      (1L, asc, "png", 8, 8), (2L, asc, "png", 8, 8),
      (3L, near, "png", 8, 8), (4L, desc, "png", 8, 8)
    ).toDF("asset_id", "media", "format", "width", "height")
    val pairs = Multimodal.imageDupCandidates(spark, assets).collect()
    // identical thumbs 1,2 are ONE group (no pairwise row — the
    // quadratic-mass collapse); the near variant pairs with its rep
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 3L && p.getInt(2) == 1)
    assert(p.getAs[Long]("n_a") == 2L && p.getAs[Long]("n_b") == 1L,
      "group sizes carry the exact-dup mass")
    // the mirrored image flips every bit: hamming 64, no shared chunk
  }

  test("AHash64 expression equals the reference pixel-loop recompute") {
    // pin the native expression (now on the imageDupCandidates path)
    // against the original typed-map formulation it replaced, on real
    // resized thumbnails + hand shapes incl. empty and short payloads
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val thumbs = Multimodal.resize(spark, Multimodal.toAssets(docs)).toDF()
      .select(col("asset_id"), col("media"))
      .union(Seq((9001L, Array.empty[Byte]),
        (9002L, Array[Byte](1, 2, 3)),
        (9003L, Array.tabulate(64)(i => (i * 37 % 251).toByte)))
        .toDF("asset_id", "media"))
    def ref(bytes: Array[Byte]): Long = {
      val px = bytes.map(_ & 0xff)
      val sum = px.foldLeft(0L)(_ + _)
      var h = 0L
      var i = 0
      while (i < math.min(px.length, 64)) {
        if (px(i).toLong * px.length > sum) h |= (1L << i)
        i += 1
      }
      h
    }
    val got = thumbs.select(col("asset_id"),
        graft.functions.AHash64.ahash64(col("media")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = thumbs.collect()
      .map(r => r.getLong(0) -> ref(r.getAs[Array[Byte]]("media"))).toMap
    assert(got == want)
    assert(got(9001L) == 0L)
  }

  test("bigramPmi: hand-computed collocation, minCount gates the tail") {
    val d = ((0 until 6).map(i => (i.toLong, "new york")) :+
      (6L, "a b a b a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramPmi(d, minCount = 5, k = 10).collect()
    // only (new, york) survives minCount 5: c_ab=6, N_bi=11, N_uni=18
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "new" && r.getString(1) == "york" &&
      r.getLong(2) == 6L)
    val p = (6.0 / 11) / ((6.0 / 18) * (6.0 / 18))
    val expQ = BigDecimal(math.log(p) * 1000000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(r.getLong(3) == expQ)
  }

  test("embeddingOutliers: per-cluster moments exact, flags consistent") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.embeddingOutliers(e).collect()
    assert(out.length == e.count())
    out.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val n = rows.head.getAs[Long]("n_members")
      assert(n == rows.length.toLong)
      val s1 = rows.map(r => BigInt(r.getAs[Long]("dist"))).sum
      assert(rows.head.getAs[Double]("mean_dist")
        == s1.toDouble / n.toDouble)
    }
    out.foreach { r =>
      if (r.getBoolean(7)) assert(!r.isNullAt(6) && r.getDouble(6) > 3.0)
      else assert(r.isNullAt(6) || r.getDouble(6) <= 3.0)
    }
  }

  test("eventAnomaly: constant volume NULL z, spike flagged, moments exact") {
    import java.sql.Timestamp
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows =
      // 'steady': exactly 2 events in each of 3 hours -> var 0, z NULL
      (for (h <- 0 until 3; m <- Seq(5, 25)) yield (ts(h, m), "steady")) ++
      // 'bursty': 1,1,10 per hour -> the 10 is a spike
      Seq((ts(0, 1), "bursty"), (ts(1, 1), "bursty")) ++
      (1 to 10).map(i => (ts(2, i), "bursty"))
    val ev = rows.toDF("ts", "event_type")
    val out = Profiling.eventAnomaly(ev, threshold = 1.2).collect()
      .map(r => (r.getString(0), r.getAs[Timestamp]("hour").getHours) -> r)
      .toMap
    assert(out(("steady", 0)).isNullAt(6) &&
      !out(("steady", 0)).getBoolean(7))
    val spike = out(("bursty", 2))
    assert(spike.getAs[Long]("n_events") == 10 &&
      spike.getAs[Double]("mean_events") == 4.0)
    // var = (102 - 144/3)/3 = 18, z = (10-4)/sqrt(18)
    assert(spike.getAs[Double]("var_events") == 18.0)
    assert(spike.getAs[Double]("z") == 6.0 / math.sqrt(18.0))
    assert(spike.getBoolean(7), "spike beyond 1.2 sigma flagged")
    assert(!out(("bursty", 0)).getBoolean(7))
  }

  test("charEntropy: zero on one symbol, ln2 on a fair coin, uniform max") {
    val d = Seq(
      (0L, "aaaa", "mono"), (1L, "abab", "coin"), (2L, "abcd", "uni")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.charEntropy(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("mono").getAs[Double]("char_entropy") == 0.0)
    assert(out("mono").getAs[Long]("n_distinct_chars") == 1L)
    // quantized ln(1/2) = -693147 -> entropy exactly 0.693147
    assert(out("coin").getAs[Double]("char_entropy") == 0.693147)
    assert(out("uni").getAs[Double]("char_entropy")
      > out("coin").getAs[Double]("char_entropy"))
  }

  test("vocabCoverage: hand-computed cuts on a 3-type corpus") {
    val d = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(d, cuts = Seq(1, 2, 10)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_types") == 1 &&
      out(1L).getAs[Long]("n_covered") == 3 &&
      out(1L).getAs[Double]("coverage") == 0.5)
    assert(out(2L).getAs[Long]("n_covered") == 5 &&
      out(2L).getAs[Double]("coverage") == 5.0 / 6.0)
    assert(out(10L).getAs[Long]("n_types") == 3 &&
      out(10L).getAs[Double]("coverage") == 1.0)
  }

  test("clusterTopTerms: distinctive terms win, shared terms idf to zero") {
    val d = Seq(
      (0L, "apple apple banana the"), (1L, "apple banana the"),
      (2L, "carrot carrot the"), (3L, "carrot daikon the")
    ).toDF("doc_id", "text")
    val assign = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L))
      .toDF("vec_id", "cluster")
    val out = TextAnalysis.clusterTopTerms(d, assign, m = 2).collect()
      .groupBy(_.getLong(0))
    val q1 = math.round(math.log(2.0) * 1000000) // idf for df=1 of K=2
    val c0 = out(0L).map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(c0.keySet == Set("apple", "banana"))
    assert(c0("apple") == 3L * q1 && c0("banana") == 2L * q1)
    val c1 = out(1L).map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(c1.keySet == Set("carrot", "daikon"))
    // 'the' is in every cluster: idf = ln(1) = 0, never outranks
    assert(!c0.contains("the") && !c1.contains("the"))
  }

  test("temperatureWeights: alpha=1 is natural sampling, small source upsampled") {
    val d = Seq(
      (0L, "a b c d e f g h", "big"),  // 8 tokens
      (1L, "z", "small")               // 1 token
    ).toDF("doc_id", "text", "source")
    val nat = Sampling.temperatureWeights(d, alpha = 1.0).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(nat("big").getAs[Long]("q_pow") == 8000000L)
    assert(nat.values.forall(_.getAs[Double]("upsample_factor") == 1.0))
    val t = Sampling.temperatureWeights(d, alpha = 0.5).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(t("big").getAs[Long]("q_pow")
      == math.round(math.sqrt(8.0) * 1000000))
    assert(t("small").getAs[Double]("upsample_factor") > 1.0 &&
      t("big").getAs[Double]("upsample_factor") < 1.0)
    assert(math.abs(t.values.map(_.getAs[Double]("temp_share")).sum - 1.0)
      < 1e-12)
  }

  test("winnowing: shift-robust shared runs, short-doc min, disjoint empty") {
    val run = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+window-1
    val d = Seq(
      (0L, s"one two $run x y z"),
      (1L, s"p q r s t $run"),       // same run at a DIFFERENT offset
      (2L, "totally disjoint words nothing shared here at all today"),
      (3L, "tiny doc")                // < window shingles -> global min
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // guarantee: a shared >= w+window-1 token run surfaces despite the shift
    assert((fps(0L) & fps(1L)).nonEmpty, "shared run must share a fingerprint")
    assert((fps(0L) & fps(2L)).isEmpty && (fps(1L) & fps(2L)).isEmpty)
    assert(fps(3L).size == 1, "short doc keeps exactly its global minimum")
    // identical docs share their entire fingerprint set -> candidates
    val dup = Seq((10L, d.head.getString(1)), (11L, d.head.getString(1)))
      .toDF("doc_id", "text")
    val cand = Dedup.winnowCandidates(dup).collect()
    assert(cand.length == 1 && cand.head.getLong(0) == 10L &&
      cand.head.getLong(1) == 11L)
    assert(cand.head.getLong(2)
      == Dedup.winnowFingerprints(dup).where(col("doc_id") === 10L).count())
  }

  test("retrievalMetrics: hand-computed recall/MRR/nDCG, zero-hit query") {
    val run = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L)).toDF("query_id", "doc_id", "rank")
    val gold = Seq((1L, 11L), (1L, 99L), (2L, 30L))
      .toDF("query_id", "doc_id")
    val out = TextAnalysis.retrievalMetrics(run, gold, k = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    def gain(r: Long): Long =
      math.round(1000000.0 / (math.log(r + 1.0) / math.log(2.0)))
    val q1 = out(1L)
    assert(q1.getAs[Long]("n_gold") == 2 && q1.getAs[Long]("n_hits") == 1)
    assert(q1.getAs[Double]("recall_at_k") == 0.5)
    assert(q1.getAs[Double]("mrr") == 0.5) // first hit at rank 2
    assert(q1.getAs[Long]("q_dcg") == gain(2))
    assert(q1.getAs[Long]("q_idcg") == gain(1) + gain(2))
    assert(q1.getAs[Double]("ndcg")
      == gain(2).toDouble / (gain(1) + gain(2)))
    val q2 = out(2L)
    assert(q2.getAs[Long]("n_hits") == 0 && q2.getAs[Double]("mrr") == 0.0 &&
      q2.getAs[Double]("ndcg") == 0.0)
  }

  test("zipfFit: slope -1 and intercept ln(C) on an exact C/rank corpus") {
    // frequencies 12/rank for ranks 1..4: ln(freq) = ln(12) - ln(rank)
    val text = ("a " * 12 + "b " * 6 + "c " * 4 + "d " * 3).trim
    val d = Seq((0L, text, "zipf")).toDF("doc_id", "text", "source")
    val r = TextAnalysis.zipfFit(d).head
    assert(r.getAs[Long]("n_terms") == 4L)
    assert(math.abs(r.getAs[Double]("slope") + 1.0) < 1e-4)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(12.0)) < 1e-4)
    // flat (near-uniform) source reads shallower than Zipf
    val flat = Seq((1L, "p p q q r r s s", "flat")).toDF("doc_id", "text", "source")
    assert(math.abs(TextAnalysis.zipfFit(flat).head.getAs[Double]("slope"))
      < 0.1)
  }
}
