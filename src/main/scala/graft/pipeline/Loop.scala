package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CheckpointBridge

/**
 * The materialization kernel of the distributed graph, closure and
 * ranking loops. A driver loop that lets round k+1 read round k lazily
 * grows its plan with every round, and the checkpointed relation it
 * cuts the plan with knows neither its row count nor its size, so the
 * planner cannot choose a broadcast for it. Each round instead goes
 * through [[materialize]]: the round's plan runs exactly once, and the
 * result comes back as a flat checkpoint that carries its exact row
 * count as a statistic, so broadcast versus shuffle is the planner's
 * choice, not a hand-coded gate. The same job fingerprints the rows,
 * so a convergence loop compares (count, fingerprint) of consecutive
 * rounds without a second action. Fixed-round chains go through
 * [[iterate]], and every superseded round is freed with [[release]].
 */
object Loop {

  /** Runs `df` once into a local checkpoint, in one SQL execution whose
    * result job stores, counts and fingerprints it (no second action).
    * Returns the checkpoint, which carries `rowCount` = the count and
    * the matching `sizeInBytes`, that count, and the rows' fingerprint:
    * the xor of each row's `xxhash64` over all its columns, so it does
    * not depend on row order or partitioning (two equal rows cancel, so
    * compare it together with the count). Like every local checkpoint
    * its blocks live on the executors and are not fault tolerant. */
  def materialize(df: DataFrame): (DataFrame, Long, Long) = CheckpointBridge.materialize(df)

  /** Rounds 0..`rounds` of a fixed-round chain: round 0 is `init`,
    * round r is `step(round r-1, r)`. Intermediate rounds checkpoint
    * lazily: under AQE a round's shuffle stages still run when the
    * round is built, and only its result stage waits to be stored
    * inside the job of the round that reads it. The last round is
    * materialized, which runs the whole chain before this returns.
    * Every round therefore reads back without the inputs `step` read,
    * and the caller may release those (and any round it no longer
    * reads) at once. `init` is returned as given: pass a checkpoint. */
  def iterate(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    (1 to rounds).scanLeft(init) { (prev, r) =>
      val next = step(prev, r)
      if (r == rounds) materialize(next)._1 else next.localCheckpoint(eager = false)
    }
  }

  /** Frees the blocks of a checkpoint `materialize` or `iterate` (or
    * `Dataset.localCheckpoint`) returned, once nothing reads it any
    * more. `Dataset.unpersist` cannot: checkpoint blocks sit under the
    * RDD, not in the cache manager. */
  def release(df: DataFrame): Unit =
    require(CheckpointBridge.release(df),
      "Loop.release: not a checkpoint; release the frame materialize returned")
}
