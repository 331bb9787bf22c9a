package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** Session preparation + output canonicalization shared by every entry
  * point (SparkEntry.queries, Verify, Bench, tests). */
object Engine {

  /** Cores of a main's local session: `SPARK_GRAFT_CPUS`, else every
    * available processor. */
  private[graft] lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs on: `local[cpus]` with one shuffle
    * partition per core and the UI off, through `prepare`, logging at
    * WARN. Tests keep a fixed-size session of their own instead, so
    * their plans do not follow the host's core count. */
  def session(): SparkSession = {
    val spark = prepare(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Idempotent runtime session config.
    *  - ANSI off: the reference ran Spark 3.x ANSI-off; its cleaning
    *    relies on junk→NULL casts (SURVEY.md quirk Q-j). Spark 4 flips
    *    the default, so set it explicitly per session.
    *  - UTC: emulator timestamps are TZ-less ISO strings (UPLOAD:91);
    *    both Spark and the DuckDB oracle must parse them in one zone.
    *  - AQE on: runtime coalescing + skew-join handling — the 100 TB
    *    posture baked in even on local[32].
    *  - Generated-code reuse: see `sizeCodegenCache`,
    *    `useIdInClassName` and artifact isolation below.
    *  - Local disk: `LocalFs.install` swaps in a Hadoop local
    *    filesystem that forks no `chmod`/`readlink` per file.
    *  - RocksDB changelog checkpointing: a stateful micro-batch
    *    commits one changelog file per state partition, not a flushed,
    *    uploaded and deleted snapshot; the caller's value wins.
    */
  def prepare(spark: SparkSession): SparkSession = {
    sizeCodegenCache(spark)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // InferFiltersFromGenerate turns explode(f(x)) into an inferred
    // `size(f(x)) > 0` filter that PushDownPredicates then sinks below
    // every exchange to the scan — re-evaluating the generator child
    // (here: whole shingle/tokenize HOF pipelines, with their own
    // children inlined per reference) once more per INPUT row, on the
    // scan's parallelism. Measured 6s of single-task CPU per dedup
    // query at sf0.1; at 100 TB it double-charges the most expensive
    // projection of the pipeline. The rows it would drop (empty token
    // arrays) are a negligible fraction, so exclude the rule.
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // events.parquet carries TIMESTAMP(MICROS) with isAdjustedToUTC
    // false → TIMESTAMP_NTZ on read; under the UTC session above,
    // cast-to-timestamp + unix_micros reproduces DuckDB's epoch_us
    // exactly. (Earlier testdata generations used TIMESTAMP(NANOS),
    // needing the legacy nanosAsLong long-read — no longer present.)
    // RocksDB state store: the production-grade provider (state spills
    // to disk instead of living on the JVM heap — the 100 TB posture
    // for large streaming state), and the only one supporting the
    // multiple column families transformWithState needs.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: a state commit writes one changelog file
    // per partition instead of flushing the memtable, taking a local
    // checkpoint, uploading it and `rm -rf`-ing the checkpoint dir on
    // the trigger path; background maintenance uploads the snapshots.
    // A restarted query replays the changelogs since the last uploaded
    // snapshot. Checkpoints written in either mode load in the other.
    // The caller's SparkConf value, if any, is already in the session.
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    if (!spark.sparkContext.getConf.contains(changelog))
      spark.conf.set(changelog, "true")
    // TxLog's DataSourceV2 catalog: `graft.`<table-dir>`` identifiers
    // resolve to TxLog snapshots with SQL time travel (VERSION AS OF /
    // TIMESTAMP AS OF), INSERT INTO/OVERWRITE, and DELETE FROM.
    // Catalog configs are read lazily at first resolution, so setting
    // it here covers every session.
    spark.conf.set("spark.sql.catalog.graft",
      "org.apache.spark.sql.graftx.GraftCatalog")
    // Whole-stage class names carry the codegen stage id by default,
    // and that id is part of the cached source text. AQE numbers
    // stages in completion order, so the same stage body gets a new
    // name (a cache miss and a fresh Janino compile) from run to run.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    // Spark caches a generated class by (task thread's context class
    // loader, source). With artifact isolation on (the default), every
    // session UUID gets its own executor class loader, and every
    // streaming `.start()` clones the session under a new UUID, so
    // each trigger of a recurring query would recompile every class
    // the trigger before it compiled. The library adds no per-session
    // artifacts (jars, files, classes), so isolation buys it nothing.
    // Each session's ArtifactManager reads the flag lazily from its own
    // runtime conf, so the clones made at `.start()` inherit it. An
    // explicit value in the caller's SparkConf (a deployment that adds
    // per-session jars needs it on) is already in the session's conf.
    val isolation = "spark.sql.artifact.isolation.enabled"
    if (!spark.sparkContext.getConf.contains(isolation))
      spark.conf.set(isolation, "false")
    // Every parquet write, TxLog staging, streaming offset/commit log and
    // RocksDB state upload goes through Hadoop's local filesystem, which
    // without libhadoop forks a process per file permission and per
    // rename (see `LocalFs`). Sessions' Hadoop confs copy this one.
    graft.ingest.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    spark
  }

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Entries of Spark's generated-class cache (default 100). A
    * recurring job plans the same queries pass after pass: a corpus
    * pass alone touches ~185 distinct classes, so a 100-entry LRU
    * walked cyclically never hits and every warm pass recompiles all
    * of them, then runs the fresh classes cold in the JIT. The same
    * cause showed in the 182-plan `graft.Bench` suite: the round-12
    * bisect measured 159 s of C2 compilation DURING the timed section
    * and per-entry CPU inflation up to 3.2x on unchanged code, because
    * warm-up-compiled classes were evicted before their timed run.
    * 5000 holds every stage of every bench entry at both scale
    * factors. */
  private[graft] val codegenCacheEntries = 5000

  /** The cache size to install: the caller's explicit
    * `spark.sql.codegen.cache.maxEntries`, else `codegenCacheEntries`. */
  private[graft] def codegenCacheSize(explicit: Option[String]): Int =
    explicit.map(_.trim.toInt).getOrElse(codegenCacheEntries)

  /** Janino compiles so far in this JVM, one per generated class: a
    * warm pass over cached plans should add none. */
  private[graft] def codegenCompiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val codegenCacheSized = new AtomicBoolean(false)

  /** Spark reads the cache size once per JVM, in `CodeGenerator`'s
    * static initializer, from whatever `SQLConf.get` returns then. The
    * first `prepare` in a JVM initializes `CodeGenerator` under a conf
    * carrying `codegenCacheSize` (`setConfString` has no static-conf
    * check). If code was compiled before that, the cache already
    * exists at its old size; say so once instead of failing. */
  private def sizeCodegenCache(spark: SparkSession): Unit =
    if (codegenCacheSized.compareAndSet(false, true)) {
      val size = codegenCacheSize(
        spark.sparkContext.getConf.getOption(CodegenCacheKey))
      if (codegenCompiles() > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "classes were compiled before the first Engine.prepare: the " +
            s"generated-class cache keeps its earlier size, not $size")
      val conf = new SQLConf
      conf.setConfString(CodegenCacheKey, size.toString)
      // the first reference to the object runs its static initializer
      SQLConf.withExistingConf(conf)(java.util.Objects.requireNonNull(CodeGenerator))
    }

  /** Deterministic total order over every output column (asc, NULLS
    * FIRST — Spark's asc default). The driver hash-compares results
    * against the DuckDB oracle, so ties left by a query's own ORDER BY
    * must be broken identically on both sides; each oracle twin ends
    * with the same explicit ORDER BY ... ASC NULLS FIRST list.
    * Single extra exchange on an already-small result — negligible. */
  def canonical(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
}
