package graft

import org.apache.spark.sql.functions._

/** The training-data twin of `BatchJob`: one schedulable main that
  * builds the full pretraining corpus and its packed training
  * sequences — the complete curation DAG a data team would run
  * nightly over new crawl drops:
  *
  *   1. `Curation.pretrainingCorpus`: lex + LM quality, repetition,
  *      exact + semantic dedup, leakage-safe split — one plan;
  *   2. keep-list join back to the raw text;
  *   3. `Sampling.packShards` + `packSequences`: token-budget shard
  *      assignment and the id-ordered concatenated sequences;
  *   4. parquet out: the curated manifest and the per-split packed
  *      sequences a tokenizer/loader consumes.
  *
  * Usage: `runMain graft.CorpusJob <sfDir> <outDir> [nBuckets]`.
  * Idempotent (overwrite mode) AND reproducible across machines:
  * `nBuckets` is pinned (default 8) rather than left to
  * `defaultParallelism`, because the bucket count determines shard
  * membership — a CPU-count-dependent default would make the packed
  * artifact differ between a laptop build and a cluster build of the
  * same corpus. */
object CorpusJob {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_corpus").toString)
    val nBuckets = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = Engine.session()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    val manifest = graft.ext.Curation.pretrainingCorpus(docs, emb)
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    val kept = spark.read.parquet(s"$outDir/manifest")
    println(s"[corpus] manifest: ${kept.count()} docs -> $outDir/manifest")

    // yield observability: per-stage survivor counts alongside the
    // artifact, so a mis-tuned threshold is a visible cliff in the
    // build report rather than a silently collapsed corpus
    val funnel = graft.ext.Curation.curationFunnel(
      docs, docs.where(col("doc_id") % 97 === 0))
    funnel.write.mode("overwrite").parquet(s"$outDir/funnel")
    funnel.orderBy("stage").collect().foreach(r =>
      println(s"[corpus] funnel ${r.getInt(0)} ${r.getString(1)}: ${r.getLong(2)}"))

    // pack each split separately (a loader never mixes splits)
    val withText = kept.select("doc_id", "split")
      .join(docs.select("doc_id", "text"), "doc_id")
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
    Seq("train", "val", "test").foreach { s =>
      val packed = graft.ext.Sampling.packSequences(
        graft.ext.Sampling.packShards(
          withText.where(col("split") === s), "n_tokens", budget = 2048,
          nBuckets = nBuckets))
      packed.write.mode("overwrite").parquet(s"$outDir/sequences/split=$s")
      println(s"[corpus] $s: ${packed.count()} packed shards")
    }
    println(s"[corpus] done -> $outDir")
    spark.stop()
  }
}
