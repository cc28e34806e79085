package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/**
 * Local checkpoints that carry their exact size. `Dataset.localCheckpoint`
 * keeps the optimizer's estimate as the relation's statistics (for a
 * join or aggregate output that is usually far over the broadcast
 * threshold) and needs a second action to learn the row count. Here the
 * plan runs once, inside one SQL execution, and that execution's result
 * job stores the rows, counts them and fingerprints them; the rebuilt
 * `LogicalRDD` then reports that exact row count to the planner.
 * `LogicalRDD`, `Dataset.ofRows` and `SQLExecution` are
 * `private[sql]`-scoped, hence this object in the sql package namespace
 * (the [[ColumnBridge]] way).
 */
object CheckpointBridge {

  /** Runs `df` into a local checkpoint; returns it with its row count
    * and the xor of every row's `xxhash64` over all its columns. */
  def materialize(df: DataFrame): (DataFrame, Long, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    // the SQL function xxhash64(<every column>), bound to row positions
    val hash = new XxHash64(qe.executedPlan.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    })
    val (rdd, rows, fingerprint) = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L
        var x = 0L
        it.foreach { r => n += 1; x ^= hash.eval(r).asInstanceOf[Long] }
        (n, x)
      })
      (rdd, parts.map(_._1).sum, parts.foldLeft(0L)(_ ^ _._2))
    }
    // partitioning and ordering exactly as localCheckpoint derives them;
    // the statistics are exact, and no constraints are carried over
    val base = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val stats = Statistics(EstimationUtils.getOutputSize(base.output, rows), Some(rows))
    val plan = LogicalRDD(base.output, rdd, base.outputPartitioning, base.outputOrdering)(
      ds.sparkSession, Some(stats))
    (classic.Dataset.ofRows(ds.sparkSession, plan), rows, fingerprint)
  }

  /** Drops the blocks of the checkpoint behind `df`; false if `df` is
    * not a checkpoint. Goes to the context directly: `RDD.unpersist`
    * would warn, on every call, that a truncated lineage cannot be
    * recomputed, which is the point of releasing a superseded round. */
  def release(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false); true
    case _ => false
  }
}
