package graft

import org.apache.spark.sql.functions.col

/** Session settings owned by `Engine.prepare`. Generated-code reuse:
  * the class cache is sized past Spark's 100-entry default, class
  * names carry no stage ids, and sessions share one executor class
  * loader, so a warm pass over plans already run compiles nothing.
  * RocksDB state commits write changelogs unless the caller says no. */
class EngineSpec extends SparkSpec {

  test("a warm pass over 150 distinct plans compiles no class") {
    // each literal is inlined into its own generated class: 150+
    // classes, more than the default 100-entry LRU holds
    def pass(): Unit =
      (0 until 150).foreach(i => spark.range(3).select(col("id") + i).collect())
    pass()
    val before = Engine.codegenCompiles()
    pass()
    assert(Engine.codegenCompiles() - before == 0)
  }

  test("prepare drops stage ids from generated class names") {
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("cache size: the caller's explicit value wins over the engine's") {
    assert(Engine.codegenCacheSize(Some("250")) == 250)
    assert(Engine.codegenCacheSize(None) == Engine.codegenCacheEntries)
    assert(Engine.codegenCacheEntries > 100)
  }

  test("prepare turns off per-session artifact isolation") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  private val Changelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  test("prepare turns on RocksDB changelog checkpointing") {
    assert(spark.conf.get(Changelog) == "true")
  }

  test("an explicit SparkConf value of the changelog switch survives prepare") {
    // SparkEnv's conf is the live SparkContext conf that a new
    // session's SQL conf is merged from
    val conf = org.apache.spark.SparkEnv.get.conf
    conf.set(Changelog, "false")
    try assert(Engine.prepare(spark.newSession()).conf.get(Changelog) == "false")
    finally conf.remove(Changelog)
    assert(Engine.prepare(spark.newSession()).conf.get(Changelog) == "true")
  }
}
