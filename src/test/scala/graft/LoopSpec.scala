package graft

import graft.pipeline.Loop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The loop materialization kernel: exact counts, exact statistics,
  * planner-chosen broadcasts and releasable checkpoints. */
class LoopSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("materialize returns the exact row count and the same rows") {
    val df = spark.range(0, 10000).filter(col("id") % 7 === 3)
      .select(col("id"), (col("id") * 2).as("v"))
    val (m, n) = Loop.materialize(df)
    assert(n == df.count())
    assert(m.count() == n)
    assert(m.columns.toSeq == Seq("id", "v"))
    assert(m.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // an empty result counts 0 and still reads back
    val (empty, zero) = Loop.materialize(df.filter(col("id") < 0))
    assert(zero == 0L && empty.count() == 0L)
  }

  test("materialize's rowCount statistic equals the count") {
    val (m, n) = Loop.materialize(spark.range(0, 5000).filter(col("id") % 10 === 1).toDF())
    val stats = m.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(n)), stats)
    // bytes scale with the rows, far under the estimate a filter over a
    // 5000-row range would carry
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes <= BigInt(64L * n), stats)
  }

  test("a small materialized side broadcasts into a large join with no hint (AQE on and off)") {
    val big = spark.range(0, 3000000).select(col("id").as("k"), (col("id") % 13).as("w"))
    // the optimizer's estimate for this filter is the whole 3M-row range
    val small = spark.range(0, 3000000).filter(col("id") % 100000 === 7)
      .select(col("id").as("k"), lit(1).as("hit"))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      def joined(side: DataFrame) = big.join(side, Seq("k"))
      val (m, n) = Loop.materialize(small)
      assert(n == 30)
      val j = joined(m)
      assert(j.count() == 30)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
        s"AQE=$aqe:\n$plan")
      // without exact statistics the planner cannot see the side is small
      if (aqe == "false") {
        val unsized = joined(small).queryExecution.executedPlan.toString
        assert(unsized.contains("SortMergeJoin"), unsized)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("release keeps the persisted-RDD count flat across rounds") {
    val sc = spark.sparkContext
    var (cur, _) = Loop.materialize(spark.range(0, 1000).select(col("id").as("x")))
    val base = sc.getPersistentRDDs.size
    (1 to 10).foreach { round =>
      val (next, n) = Loop.materialize(cur.select((col("x") + 1).as("x")))
      assert(n == 1000)
      Loop.release(cur)
      cur = next
      // (<=: the context cleaner may drop other tests' leftovers meanwhile)
      assert(sc.getPersistentRDDs.size <= base, s"round $round")
    }
    assert(cur.agg(min("x")).head().getLong(0) == 10L)
    Loop.release(cur)
    assert(sc.getPersistentRDDs.size <= base - 1)
    // only a checkpoint can be released
    intercept[IllegalArgumentException](Loop.release(spark.range(3).toDF()))
  }
}
