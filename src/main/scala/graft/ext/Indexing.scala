package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stable global row numbering — contiguous ids 0..N-1 in `orderCols`
  * order, the "assign every document a stable id" step at the front of
  * a training pipeline. A `row_number() OVER (ORDER BY ...)` window
  * computes this through ONE reducer (empty partitionBy = a single
  * window partition) — a non-starter at 100 TB. The distributed shape:
  *
  *   1. `repartitionByRange` + `sortWithinPartitions` — a parallel
  *      range exchange (sampled bounds), every partition sorted and
  *      partition p entirely before partition p+1;
  *   2. per-partition local index from `monotonically_increasing_id`'s
  *      documented bit layout (record number in the low 33 bits —
  *      assigned in stream order, which after the sort IS the sorted
  *      order);
  *   3. per-partition row counts — ONE aggregate whose result is
  *      bounded by the partition count, not the data — cumulated into
  *      start offsets on the driver and broadcast-joined back.
  *
  * global id = partition offset + local index. Deterministic iff
  * `orderCols` is a total order (ties may straddle a range boundary
  * arbitrarily); pass a unique key set for bit-reproducibility.
  * The input is persisted across the two passes so the offsets match
  * the pass that carries them (at cluster scale, checkpoint or rely on
  * deterministic recompute instead of memory). */
object Indexing {

  def stableRowIds(df: DataFrame, orderCols: Seq[String],
      idCol: String = "row_id", partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n =
      if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__local",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .persist()
    try {
      val counts = sorted.groupBy(col("__pid"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until n).scanLeft(0L)((acc, p) =>
        acc + counts.getOrElse(p, 0L)).dropRight(1)
      import scala.jdk.CollectionConverters._
      val offDf = spark.createDataFrame(
        (0 until n).map(p =>
          org.apache.spark.sql.Row(p, offsets(p))).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__pid",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("__off",
            org.apache.spark.sql.types.LongType, nullable = false))))
      // pinned before unpersist releases the two-pass snapshot
      Pin.eager(sorted.join(broadcast(offDf), "__pid")
        .withColumn(idCol, col("__off") + col("__local"))
        .drop("__pid", "__local", "__off"))
    } finally sorted.unpersist()
  }
}
