package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

/** The one place the library starts a streaming query.
  *
  * Dedup-only plans run one micro-batch per trigger. With a watermark
  * in the plan, Spark follows every data batch with an EMPTY batch
  * whose only job is to evict state the advanced watermark expired —
  * a full offset-log write, state-store load/commit, sink job and (on
  * a TxLog sink) an empty commit, 0.4–0.65 s each on a small trigger.
  * A `Deduplicate`/`DeduplicateWithinWatermark` emits a row the first
  * time it sees it and evicts at the end of every data batch, so for
  * a plan whose only stateful operators are dedups that batch changes
  * no output: the same eviction happens in the next data batch
  * instead, with the same watermark. Such a query starts with
  * `spark.sql.streaming.noDataMicroBatches.enabled=false`. Any
  * operator whose OUTPUT waits on the watermark (an append-mode
  * aggregation's closed window, a stream-stream join's outer rows, a
  * state timeout) keeps the empty batches: under `AvailableNow` they
  * are what emits the last closed window.
  *
  * Scoping: `.start()` clones the caller's session into the query
  * (`StreamExecution`'s own session), and the stream thread reads the
  * flag from that clone. So the flag is set on the caller's session
  * only around `.start()` and the prior value restored in `finally`
  * (the idiom `TxLog.stage` uses for the parquet timestamp type); one
  * lock keeps two library starts from seeing each other's value. Not
  * by re-binding the frame to `cloneSession()`: a query started from a
  * cloned session is missing from the caller's `spark.streams.active`
  * and its `StreamingQueryListener`s never hear from it. */
object StreamStart {

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val lock = new Object

  /** A plan with a dedup and no stateful operator whose output waits
    * on the watermark. */
  private[graft] def dedupOnly(plan: LogicalPlan): Boolean =
    plan.exists {
      case _: Deduplicate | _: DeduplicateWithinWatermark => true
      case _ => false
    } && !plan.exists {
      case _: Aggregate | _: Join | _: FlatMapGroupsWithState |
           _: FlatMapGroupsInPandasWithState | _: TransformWithState |
           _: TransformWithStateInPySpark => true
      case _ => false
    }

  /** Start `configure(df.writeStream)`. */
  private def start(df: DataFrame)(
      configure: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val writer = configure(df.writeStream)
    lock.synchronized {
      if (!dedupOnly(df.queryExecution.analyzed)) writer.start()
      else {
        val conf = df.sparkSession.conf
        // explicitly set value, if any (getOption answers the default)
        val prev = conf.getAll.get(NoDataBatches)
        conf.set(NoDataBatches, "false")
        try writer.start()
        finally prev.fold(conf.unset(NoDataBatches))(conf.set(NoDataBatches, _))
      }
    }
  }

  /** Append `df` to parquet under `outDir`, draining what has landed
    * (`AvailableNow`: process, checkpoint, stop — restartable). */
  def parquet(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    start(df)(_.format("parquet")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .trigger(Trigger.AvailableNow()))

  /** Run `f(batch, batchId)` per micro-batch, draining what has landed. */
  def foreachBatch(df: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    start(df)(_.foreachBatch(f)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()))
}
