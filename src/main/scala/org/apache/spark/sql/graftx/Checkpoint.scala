package org.apache.spark.sql.graftx

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.util.{CallSite, Utils}

/** A frame stored as a local checkpoint in one pass. `Dataset`'s own
  * `localCheckpoint` needs the row count from a separate query to size
  * its partitions, and reports the optimizer's size estimate; this
  * builds, counts and measures in the same job. */
object Checkpoint {

  /** Plans `df` once and runs it in one SQL execution named `name`
    * (also the call site of its jobs and stages, including the ones
    * AQE submits from its own threads). The row RDD is marked
    * `localCheckpoint` and named `rddName` (when given), and one job
    * stores every partition, counts its rows and reads back its stored
    * block size. `runJob` then performs the checkpoint with no second
    * job, since every block is already stored.
    *
    * Returns the frame over the checkpoint RDD, the RDD and the row
    * count. The frame's statistics are the exact row count and the
    * stored bytes, as a materialized cache would report them, so a
    * consumer's broadcast decision sees the real size. */
  def local(df: DataFrame, name: String, rddName: Option[String])
      : (DataFrame, RDD[InternalRow], Long) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    val sc = session.sparkContext
    val qe = ds.queryExecution
    val site = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setCallSite(name)
    val (rdd, rows, bytes) =
      try SQLExecution.withNewExecutionId(qe, Some(name)) {
        val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
        rddName.foreach(rdd.setName)
        val id = rdd.id
        val parts = sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) => {
          val n = Utils.getIteratorSize(it)
          val stored = SparkEnv.get.blockManager
            .getStatus(RDDBlockId(id, ctx.partitionId()))
          (n, stored.fold(0L)(s => s.memSize + s.diskSize))
        })
        (rdd, parts.map(_._1).sum, parts.map(_._2).sum)
      } finally sc.setLocalProperty(CallSite.SHORT_FORM, site)
    val plan = qe.executedPlan
    val relation = LogicalRDD(ds.logicalPlan.output, rdd,
      firstLeaf(plan.outputPartitioning), plan.outputOrdering,
      isStreaming = false)(session,
      Some(Statistics(sizeInBytes = bytes, rowCount = Some(rows))))
    (Dataset.ofRows(session, relation), rdd, rows)
  }

  /** The first leaf of a `PartitioningCollection`, as
    * `LogicalRDD.fromDataset` takes it: the collection of a chain of
    * joins grows with every join. */
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}
