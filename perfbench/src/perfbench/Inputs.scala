package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, row id,
  * salt), so one seed gives the same tables on any core count and
  * partitioning, and different seeds give different tables of the same
  * size. Schemas follow the TPC-H-style tables the library's fixtures
  * and DuckDB twins read (`orders`/`customer`/`nation`) and the corpus
  * tables (`documents`/`embeddings`). */
final class Inputs(spark: SparkSession, seed: Long) {

  private def h(salt: Long, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  private def pick(n: Long, salt: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))

  /** `orders` with `nOrders` rows: sparse unique keys (3 slots per row,
    * one taken) so the fixtures' `index % k` dirtying patterns shift
    * with the seed. */
  def orders(nOrders: Long, nCustomers: Long): DataFrame =
    spark.range(nOrders).select(
      (col("id") * 3 + pick(3, 1, col("id"))).as("o_orderkey"),
      (pick(nCustomers, 2, col("id")) + 1).as("o_custkey"))

  def customer(nCustomers: Long): DataFrame =
    spark.range(1, nCustomers + 1).select(
      col("id").as("c_custkey"),
      pick(25, 3, col("id")).cast("int").as("c_nationkey"))

  def nation: DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  /** Writes the three tables as `<dir>/<name>.parquet`, the layout
    * `RawDerive.tables` and the DuckDB twins read. */
  def writeSf(dir: String, nOrders: Long, nCustomers: Long): Unit = {
    orders(nOrders, nCustomers).coalesce(1).write.parquet(s"$dir/orders.parquet")
    customer(nCustomers).coalesce(1).write.parquet(s"$dir/customer.parquet")
    nation.coalesce(1).write.parquet(s"$dir/nation.parquet")
  }

  private val vocab = Seq("spark", "stream", "batch", "column", "row", "table",
    "join", "scan", "filter", "sort", "merge", "group", "agg", "hash",
    "window", "query", "value", "key", "line", "part", "order", "customer",
    "data", "vector", "big", "small", "fast", "slow", "the", "a", "of", "to")

  /** Bag-of-words documents from a 32-word vocabulary, 8–67 words each.
    * Every 53rd doc copies an earlier doc exactly and every 37th is a
    * near copy (one extra word), so the dedup tiers have work. */
  def documents(nDocs: Long): DataFrame = {
    val words = array(vocab.map(lit): _*)
    val langs = array(Seq("en", "en", "en", "fr", "es", "zh", "de").map(lit): _*)
    val id = col("id")
    spark.range(nDocs)
      .withColumn("base",
        when(id % 53 === 7, id - 3).when(id % 37 === 5, id - 1).otherwise(id))
      .withColumn("nw", (pick(60, 10, col("base")) + 8).cast("int"))
      .withColumn("text0", concat_ws(" ", transform(sequence(lit(1), col("nw")),
        j => element_at(words, (pmod(h(11, col("base"), j), lit(32L)) + 1).cast("int")))))
      .select(
        id.as("doc_id"),
        when(id % 37 === 5 && id % 53 =!= 7, concat(col("text0"), lit(" dup")))
          .otherwise(col("text0")).as("text"),
        element_at(langs, (pick(7, 12, col("base")) + 1).cast("int")).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float embeddings in 10 labels; every 29th vector is a small
    * perturbation of its predecessor (a semantic duplicate). */
  def embeddings(nVecs: Long): DataFrame = {
    val id = col("id")
    spark.range(nVecs)
      .withColumn("dup", id % 29 === 4)
      .withColumn("base", when(col("dup"), id - 1).otherwise(id))
      .select(
        id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(h(20, col("base"), j), lit(20001L)) - 10000) / 40000.0 +
            when(col("dup"), (pmod(h(21, id, j), lit(11L)) - 5) / 20000.0)
              .otherwise(0.0)).cast("float")).as("embedding"),
        pick(10, 22, col("base")).cast("int").as("label"))
  }
}
