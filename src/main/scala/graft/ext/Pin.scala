package graft.ext

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.Checkpoint

/** Eager pinning of a shared intermediate (r18).
  *
  * The round-18 profiling showed two failure modes for "shared"
  * subtrees: (1) Catalyst merges agg-over-agg chains so consumers get
  * independent full pipelines (ReusedExchange never fires), and (2) a
  * LAZY persist()/cache() does not dedup under AQE — consumer shuffle
  * stages are submitted concurrently, race the cold cache before any
  * partition lands, and each recomputes the upstream pipeline.
  *
  * `Pin.eager` materializes immediately, so every consumer — including
  * concurrently-submitted AQE stages — reads the one materialized copy.
  * A pin is a plain value: nothing is memoised, so every invocation
  * builds its own pins, and an operator that wants one proxy for two
  * consumers passes the pinned frame to both.
  *
  * A pin is built in one pass (`graftx.Checkpoint.local`): the frame is
  * planned once, its rows are locally checkpointed, and the one job
  * that stores them also counts them. The returned frame scans the
  * checkpoint, so its lineage is truncated, and its partitions are
  * coalesced to the counted rows, a narrow step that runs no job.
  * Profiling in r18 (jstack sampling of the executor pool) attributed
  * the dominant CPU of every post-pin stage to
  * `ObjectInputStream.readObject` — task-binary
  * deserialization: a persisted frame keeps its FULL upstream plan in
  * the serialized RDD graph, so each downstream task paid ~0.2 s just
  * deserializing the pipeline it never runs, multiplied by every task
  * of every consumer stage (32-128 tasks each on KB-sized proxies).
  * The checkpoint cut + row-derived partition count removed ~75% of
  * the pageRank loop's CPU in the isolated A/B. Partition sizing is
  * scale-adaptive (rows / rowsPerPart), never a core-count constant:
  * at 100 TB a billion-row proxy still fans out to hundreds of
  * partitions, while a KB-sized one stops paying 32 tasks of fixed
  * deserialization cost per consumer stage. The frame's statistics
  * are the exact row count and the checkpoint's stored bytes, so a
  * consumer's broadcast decision sees the real size.
  *
  * `eager` and `kept` are the only ways the operator kit, the
  * streaming tier and `SparkEntry` store a frame (the fixture stub in
  * `SparkEntry.sharedRead` aside); an operator's result is returned
  * lazy, for its one consumer to run.
  *
  * Use ONLY on lightweight proxies (counts-collapsed tables,
  * signatures, thumbnails, assignments — guide §8 "decide with small
  * rows"), never on corpus payloads. Batch only (localCheckpoint is
  * illegal in streaming plans).
  *
  * Fault-tolerance tradeoff, stated for the 100 TB posture:
  * `localCheckpoint` stores blocks in executor memory/disk and CUTS
  * lineage, so on a real cluster an executor loss makes downstream
  * consumers of the lost blocks unrecoverable (the job fails and must
  * re-run, instead of recomputing the lost partitions). That is the
  * price of the truncation that removes the per-task plan
  * deserialization floor. It is the right trade here because every
  * pin is a cheap-to-rebuild proxy inside one job; a deployment that
  * needs mid-job executor-loss recovery should swap `localCheckpoint`
  * for a reliable `checkpoint` (requires `setCheckpointDir` on
  * durable storage — one-line change in `graftx.Checkpoint.local`),
  * paying a write-to-storage per pin build. */
object Pin {
  /** Narrow proxy rows per checkpoint partition: ~2M rows of a few
    * longs ≈ tens of MB — the same band AQE's 64 MB advisory targets. */
  private val RowsPerPart = 2L * 1000 * 1000

  /** Name given to the checkpoint RDD behind every `eager` pin: `reset`
    * releases exactly these, never a `kept` frame. */
  private[graft] val Tag = "graft.ext.Pin.eager"

  /** Name of the SQL execution, and call site of the jobs and stages,
    * that build an `eager` pin. */
  private[graft] val BuildName = "Pin.eager"

  /** Plan-shape test support: run `f` with `eager` as the identity, so
    * a PlanSpec assertion sees the FULL logical tree — including the
    * subtree a pin build would otherwise hide behind a checkpoint-scan
    * stub. The pinned shape and the full shape compute identically;
    * the tests assert properties of the real dataflow (map-side
    * partial aggregation, scan-side filters) that the pin build runs
    * verbatim. Thread-local so a concurrent bench/verify session is
    * unaffected; nests (restores the previous value). Never used
    * outside tests. */
  private val disabled = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }
  def withDisabled[A](f: => A): A = {
    val prev = disabled.get
    disabled.set(true)
    try f finally disabled.set(prev)
  }

  /** Release the checkpoint blocks of every live `eager` pin in the
    * active session. Called by the bench harnesses BETWEEN
    * entries/passes (never inside a timed region), so blocks do not
    * wait for the ContextCleaner to collect the dropped frames. A frame
    * obtained from `eager` before the reset must not be used after it:
    * its lineage is cut, so it cannot recompute the released blocks. */
  def reset(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(s => pinRdds(s.sparkContext).foreach(_.unpersist(blocking = true)))

  /** The persisted checkpoint RDDs of the live `eager` pins. */
  private[graft] def pinRdds(sc: SparkContext): Seq[RDD[_]] =
    sc.getPersistentRDDs.values.filter(_.name == Tag).toSeq

  /** The locally checkpointed RDD behind a pinned frame. */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  def eager(df: DataFrame): DataFrame =
    if (disabled.get) df else build(df, BuildName, Some(Tag))

  /** `eager` for a frame its caller keeps: untagged, so `reset` never
    * releases it, and built even under `withDisabled`. */
  def kept(df: DataFrame): DataFrame = build(df, "Pin.kept", None)

  private def build(df: DataFrame, name: String,
      tag: Option[String]): DataFrame = {
    val (frame, rdd, rows) = Checkpoint.local(df, name, tag)
    val parts = partitionsFor(rdd.getNumPartitions, rows)
    if (parts < rdd.getNumPartitions) frame.coalesce(parts) else frame
  }

  /** min(`stored` partitions, ceil(`rows` / `rowsPerPart`)), at least 1. */
  private[graft] def partitionsFor(stored: Int, rows: Long,
      rowsPerPart: Long = RowsPerPart): Int =
    math.max(1L, math.min(stored.toLong,
      (rows + rowsPerPart - 1) / rowsPerPart)).toInt
}
