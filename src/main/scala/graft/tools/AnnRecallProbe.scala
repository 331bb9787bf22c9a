package graft.tools

import org.apache.spark.sql.functions._
import graft._
import graft.ext.Similarity

/** ANN tier recall/latency probe — measures, per `annTopK` strategy,
  * recall@k against the exact brute-force truth and best-of-3 wall
  * seconds at sf0.1 (probes = every 100th vector, k = 10). The output
  * rows back the README "ANN tier selection" table: the point is the
  * measured TRADE (what recall a tier buys at what latency and memory
  * shape), not the absolute seconds of this 2k-vector fixture.
  *
  * Run: `sbt 'runMain graft.tools.AnnRecallProbe'` */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 100 === 0)
    val k = 10
    val truth = Similarity.bruteAllTopK(emb, probes, k)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // default knobs plus the variants that show each tier's actual
    // trade: LSH recall is a planes knob (fewer planes → bigger
    // buckets); re-rank quality is a shortlist-depth knob (r must
    // exceed k for the exact re-rank to buy anything)
    val configs: Seq[(String, String, Map[String, Int])] = Seq(
      ("brute", "brute", Map.empty),
      ("lsh planes=8", "lsh", Map.empty),
      ("lsh planes=4", "lsh", Map("planes" -> 4)),
      ("ivf nprobe=3", "ivf", Map.empty),
      ("ivf nprobe=6", "ivf", Map("nprobe" -> 6)),
      ("sq", "sq", Map.empty),
      ("pq m=4", "pq", Map.empty),
      ("ivfpq", "ivfpq", Map.empty),
      ("ivfpq_residual", "ivfpq_residual", Map.empty),
      ("ivfpq_rerank r=10", "ivfpq_rerank", Map.empty),
      ("ivfpq_rerank r=40", "ivfpq_rerank", Map("rerankDepth" -> 40)),
      ("matryoshka d=16 r=40", "matryoshka",
        Map("rerankDepth" -> 40, "truncDims" -> 16)),
      ("matryoshka d=8 r=40", "matryoshka",
        Map("rerankDepth" -> 40, "truncDims" -> 8)))
    println(f"${"config"}%-20s ${"recall@10"}%10s ${"best_s"}%8s  rows")
    for ((label, s, kn) <- configs) {
      var best = Double.MaxValue
      var hits: Set[(Long, Long)] = Set.empty
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        hits = Similarity.annTopK(emb, probes, k, strategy = s,
            planes = kn.getOrElse("planes", 8),
            nprobe = kn.getOrElse("nprobe", 3),
            rerankDepth = kn.getOrElse("rerankDepth", 10),
            truncDims = kn.getOrElse("truncDims", 16))
          .select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      val recall = (hits & truth).size.toDouble / truth.size
      println(f"$label%-20s $recall%10.3f $best%8.2f  ${hits.size}")
    }
    spark.stop()
  }
}
