package graft

import graft.pipeline.Loop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The loop materialization kernel: exact counts, order-independent
  * fingerprints, exact statistics, planner-chosen broadcasts,
  * releasable checkpoints and fixed-round chains. */
class LoopSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("materialize returns the exact row count and the same rows") {
    val df = spark.range(0, 10000).filter(col("id") % 7 === 3)
      .select(col("id"), (col("id") * 2).as("v"))
    val (m, n, _) = Loop.materialize(df)
    assert(n == df.count())
    assert(m.count() == n)
    assert(m.columns.toSeq == Seq("id", "v"))
    assert(m.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // an empty result counts 0 and still reads back
    val (empty, zero, _) = Loop.materialize(df.filter(col("id") < 0))
    assert(zero == 0L && empty.count() == 0L)
  }

  test("materialize's rowCount statistic equals the count") {
    val (m, n, _) = Loop.materialize(spark.range(0, 5000).filter(col("id") % 10 === 1).toDF())
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
      val (m, n, _) = Loop.materialize(small)
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
    var (cur, _, _) = Loop.materialize(spark.range(0, 1000).select(col("id").as("x")))
    val base = sc.getPersistentRDDs.size
    (1 to 10).foreach { round =>
      val (next, n, _) = Loop.materialize(cur.select((col("x") + 1).as("x")))
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

  test("the fingerprint depends on the rows only, not their order or partitioning") {
    val rows = spark.range(0, 2000).select(col("id"), (col("id") % 17).as("v"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"))
    val (a, n1, fp1) = Loop.materialize(rows)
    val (b, n2, fp2) = Loop.materialize(rows.repartition(7, col("v")).orderBy(col("id").desc))
    val (c, n3, fp3) = Loop.materialize(rows.coalesce(1))
    assert(n1 == 2000 && n2 == n1 && n3 == n1)
    assert(fp1 != 0L && fp2 == fp1 && fp3 == fp1)
    // it is the SQL xor of every row's xxhash64 over all columns
    val want = rows.agg(expr("bit_xor(xxhash64(id, v, s))")).head().getLong(0)
    assert(fp1 == want)
    // one changed value in one row changes it
    val (d, n4, fp4) = Loop.materialize(rows.withColumn("v",
      when(col("id") === 1234, col("v") + 1).otherwise(col("v"))))
    assert(n4 == n1 && fp4 != fp1)
    // an empty frame fingerprints to 0
    assert(Loop.materialize(rows.filter(col("id") < 0))._3 == 0L)
    Seq(a, b, c, d).foreach(Loop.release)
  }

  test("iterate returns rounds 0..n, every one readable after its inputs are released") {
    val (e, _, _) = Loop.materialize(spark.range(0, 50).select(col("id").as("x")))
    val (init, _, _) = Loop.materialize(e.select(col("x"), lit(0L).as("r")))
    // each round reads `e` in its final stage: a narrow union, no exchange
    // between the scan of `e` and the round's own output
    val rounds = Loop.iterate(init, 3) { (prev, r) =>
      prev.select(col("x"), (col("r") + 1).as("r"))
        .unionByName(e.filter(col("x") < 0).select(col("x"), lit(r.toLong).as("r")))
    }
    assert(rounds.size == 4)
    assert(rounds.head eq init)
    // a lazy last round would read the released `e` and fail here
    Loop.release(e)
    rounds.zipWithIndex.foreach { case (df, r) =>
      val got = df.agg(count(lit(1)), min("r"), max("r"), sum("x")).head()
      assert(got.getLong(0) == 50 && got.getLong(1) == r && got.getLong(2) == r &&
        got.getLong(3) == (0 until 50).sum, s"round $r: $got")
    }
    // the last round carries exact statistics, like any materialization
    assert(rounds.last.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(50)))
    rounds.foreach(Loop.release)
  }

  test("iterate with rounds = 0 returns the init alone") {
    val (init, _, _) = Loop.materialize(spark.range(0, 5).toDF())
    val rounds = Loop.iterate(init, 0)((_, _) => fail("no round may run"))
    assert(rounds.size == 1 && (rounds.head eq init))
    intercept[IllegalArgumentException](Loop.iterate(init, -1)((prev, _) => prev))
    Loop.release(init)
  }
}
