package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
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
 * job both stores and counts it; the rebuilt `LogicalRDD` then
 * reports that exact row count to the planner. `LogicalRDD`,
 * `Dataset.ofRows` and `SQLExecution` are `private[sql]`-scoped, hence
 * this object in the sql package namespace (the [[ColumnBridge]] way).
 */
object CheckpointBridge {

  /** Runs `df` into a local checkpoint; returns it with its row count. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val (rdd, rows) = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      (rdd, rdd.count())
    }
    // partitioning and ordering exactly as localCheckpoint derives them;
    // the statistics are exact, and no constraints are carried over
    val base = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val stats = Statistics(EstimationUtils.getOutputSize(base.output, rows), Some(rows))
    val plan = LogicalRDD(base.output, rdd, base.outputPartitioning, base.outputOrdering)(
      ds.sparkSession, Some(stats))
    (classic.Dataset.ofRows(ds.sparkSession, plan), rows)
  }

  /** The checkpointed RDD behind a frame, if the frame is a checkpoint. */
  def checkpointRdd(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }
}
