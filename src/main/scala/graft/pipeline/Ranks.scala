package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed prefix sums over a totally-ordered relation — the
 * two-phase rank that removes the engine's last single-task windows
 * (the q134 tie-rank over distinct Adamic–Adar scores and the SGNS
 * vocab rank), whose `Window.orderBy(...)` form funnels the WHOLE
 * relation through one task.
 *
 * Two-phase shape (the textbook distributed rank):
 *   1. range-partition by the order column and pin the layout with a
 *      checkpoint (the partition id column must mean the same thing to
 *      both passes — an uncached range exchange re-samples boundaries
 *      per pass);
 *   2. per-partition weight totals come back to the driver — at most
 *      ONE ROW PER PARTITION, bounded by cluster width, never by data;
 *   3. exclusive prefix offsets over the ordered partition ids ride
 *      back as a literal map, and a per-partition window (each task
 *      sorts only its own range) adds the within-partition running sum.
 *
 * The result is EXACTLY the unpartitioned window's running sum for any
 * partition boundaries (ranges are ordered and disjoint; the order
 * column is distinct in both call sites, so no tie can straddle a
 * boundary decision), which the spec pins by running both paths.
 *
 * ADAPTIVE: below `singlePartThreshold` rows the one-task window IS
 * the right plan (the relation fits one task by construction and the
 * two-phase machinery costs a checkpoint + a driver read), so the
 * helper counts the input once, in the job that materializes it, and picks — the same
 * judgment as the graph loops' `localThreshold` driver fast paths,
 * with the distributed path spec-pinned value-equal.
 */
private[graft] object Ranks {

  /**
   * Append `out` = Σ `weight` over all rows STRICTLY BEFORE this row
   * in ascending `orderCol` order (0 for the first row). `orderCol`
   * values must be distinct (both call sites group by it first);
   * `weight` must be a long column.
   */
  def withPrefixSum(df: DataFrame, orderCol: String, weight: Column,
      out: String, singlePartThreshold: Long = 4000000L): DataFrame =
    withPrefixSumCounted(df, orderCol, weight, out, singlePartThreshold)._1

  /** [[withPrefixSum]] plus the input's row count — the count is paid
    * for the adaptive gate anyway, so callers that need it (the SGNS
    * vocab size) must not run a second pass for it. */
  def withPrefixSumCounted(df: DataFrame, orderCol: String, weight: Column,
      out: String, singlePartThreshold: Long = 4000000L): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val (ck, n, _) = Loop.materialize(df)
    val res = if (n <= singlePartThreshold) {
      val w = Window.orderBy(col(orderCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      ck.withColumn(out, coalesce(sum(weight).over(w), lit(0L)))
    } else {
      val (p, _, _) = Loop.materialize(ck.repartitionByRange(col(orderCol))
        .withColumn("_pp_pid", spark_partition_id()))
      Loop.release(ck)
      val partTotals = p.groupBy(col("_pp_pid"))
        .agg(sum(weight).as("_pp_w"))
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1))
        .sortBy(_._1)
      // exclusive prefix over ordered partition ids; partitions with no
      // rows simply don't appear (their offset is never looked up)
      val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      var acc = 0L
      partTotals.foreach { case (pid, w) => offsets(pid) = acc; acc += w }
      val offCol =
        if (offsets.isEmpty) lit(0L)
        else coalesce(element_at(typedLit(offsets.toMap), col("_pp_pid")), lit(0L))
      val w = Window.partitionBy(col("_pp_pid")).orderBy(col(orderCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      p.withColumn(out, coalesce(sum(weight).over(w), lit(0L)) + offCol)
        .drop("_pp_pid")
    }
    (res, n)
  }
}
