package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CheckpointBridge

/**
 * The materialization kernel of the distributed graph loops (closure
 * doubling, BFS, PageRank, ancestry). A driver loop that lets round
 * k+1 read round k lazily grows its plan with every round, and the
 * checkpointed relation it cuts the plan with knows neither its row
 * count nor its size, so the planner cannot choose a broadcast for it.
 * Each round instead goes through [[materialize]]: the round's plan
 * runs exactly once, and the result comes back as a flat checkpoint
 * that carries its exact row count as a statistic, so broadcast versus
 * shuffle is the planner's choice, not a hand-coded gate.
 */
object Loop {

  /** Runs `df` once into a local checkpoint, in one SQL execution whose
    * result job both stores and counts it (no second action). Returns
    * the checkpoint, which carries `rowCount` = the count and the
    * matching `sizeInBytes`, and that count. Like every local checkpoint
    * its blocks live on the executors and are not fault tolerant. */
  def materialize(df: DataFrame): (DataFrame, Long) = CheckpointBridge.materialize(df)

  /** Frees the blocks of a checkpoint `materialize` (or
    * `Dataset.localCheckpoint`) returned, once no later round reads it.
    * `Dataset.unpersist` cannot: checkpoint blocks sit under the RDD,
    * not in the cache manager. */
  def release(df: DataFrame): Unit = {
    val rdd = CheckpointBridge.checkpointRdd(df).getOrElse(throw new IllegalArgumentException(
      "Loop.release: not a checkpoint; release the frame materialize returned"))
    rdd.unpersist(blocking = false)
  }
}
