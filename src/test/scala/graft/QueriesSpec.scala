package graft

import org.apache.spark.sql.functions._
import graft.pipeline.PinQueries

/** Analytics-query specs: structural invariants + quirk semantics on
  * the deterministic sf0.001 derivation. (Value-level correctness is
  * covered by the DuckDB oracle gate; these pin the quirky semantics
  * independently.) */
class QueriesSpec extends SparkSpec {

  private lazy val (pin, geo, user) = PinQueries.cleanedTables(spark, sf)

  test("driver contract: every oracle key has a queries entry, none dangle") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql keys without a queries entry: $dangling")
    assert(SparkEntry.queries.nonEmpty && SparkEntry.oracleSql.nonEmpty)
    // bench set is a subset of queries (excluded IO surfaces aside)
    assert(SparkEntry.benchQueries.keySet.subsetOf(SparkEntry.queries.keySet))
    // every txlog_/cdf_ entry builds tables per call: IO class, not benched
    val io = SparkEntry.queries.keySet.filter(k => k.startsWith("txlog_") || k.startsWith("cdf_"))
    assert(io.nonEmpty && SparkEntry.benchQueries.keySet.intersect(io).isEmpty)
  }

  test("warming the cleaned tables stores only their checkpoint stubs") {
    // a fresh fixture dir, so this test's warm-up is the first
    val dir = java.nio.file.Files.createTempDirectory("warm_tables")
    Seq("orders", "customer", "nation").foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    def cached: Set[Int] = spark.sparkContext.getPersistentRDDs.values
      .filter(!_.isCheckpointed).map(_.id).toSet
    val before = cached
    SparkEntry.warmTables(spark, dir.toString)
    assert((cached -- before).isEmpty,
      "the cleaning caches must be released once their checkpoints land")
  }

  test("Q1 keeps exactly the rank-1 categories per country") {
    val out = PinQueries.q1(pin, geo)
    val top = out.groupBy("country").agg(max("category_count").as("m"),
      min("category_count").as("n")).collect()
    // every surviving row of a country carries that country's max count
    assert(top.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("Q-c: Q7 returns count-squared per join year (code, not intent)") {
    val trueCounts = user.select(year(col("date_joined")).as("y"))
      .groupBy("y").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = PinQueries.q7(user).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    got.foreach { case (y, n2) => assert(n2 == trueCounts(y) * trueCounts(y)) }
    assert(got.keySet.forall(y => y >= 2015 && y <= 2020))
  }

  test("Q5 age buckets: ELSE catches under-18 as '50+' (quirk Q-f)") {
    val out = PinQueries.q5(pin, user)
    val groups = out.select("age_group").distinct()
      .collect().map(_.getString(0)).toSet
    assert(groups == Set("18-24", "25-35", "36-50", "50+"))
    // derivation ages span 10..69, so minors exist and land in '50+'
    val minors = user.where(col("age") < 18).count()
    assert(minors > 0)
  }

  test("Q6 median is the exact interpolated percentile") {
    val med = PinQueries.q6(pin, user)
      .where(col("age_group") === "18-24").head().getDouble(1)
    val vals = pin.join(user, "ind")
      .where(col("age").between(18, 24) && col("follower_count").isNotNull)
      .select("follower_count").collect().map(_.getInt(0)).sorted
    val n = vals.length
    val expected =
      if (n % 2 == 1) vals(n / 2).toDouble
      else (vals(n / 2 - 1) + vals(n / 2)) / 2.0
    assert(med == expected)
  }

  test("Q4 returns a single deterministic row") {
    assert(PinQueries.q4(pin, geo).count() == 1)
  }
}
