package graft

import org.apache.spark.sql.functions._
import graft.ext.Indexing

/** Stable global row ids: contiguity, order, layout invariance, and
  * the no-single-reducer plan. */
class IndexingSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "lang")

  test("stableRowIds: contiguous 0..N-1 in key order, layout-invariant") {
    val n = docs.count()
    def ids(df: org.apache.spark.sql.DataFrame) =
      Indexing.stableRowIds(df, Seq("doc_id"), partitions = 5)
        .select("doc_id", "row_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val a = ids(docs)
    assert(a.map(_._2).toSet == (0L until n).toSet, "contiguous 0..N-1")
    // id order == key order
    assert(a.sortBy(_._2).map(_._1).toSeq == a.map(_._1).toSeq.sorted)
    // physical layout of the input must not matter
    assert(ids(docs.repartition(13)) == a)
  }

  test("stableRowIds: no global-window single reducer in the plan") {
    // Pin disabled: the result is pinned, and the checkpoint stub would
    // hide the plan the pin build runs
    val p = graft.ext.Pin.withDisabled(Indexing.stableRowIds(docs, Seq("doc_id"),
      partitions = 4).queryExecution.executedPlan.toString)
    assert(p.toLowerCase.contains("rangepartitioning"), s"range exchange expected:\n$p")
    assert(!p.contains("Window"), s"must not use a row_number window:\n$p")
  }
}
