package graft

import graft.tools.Probe
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Probe` on the sf0.001 fixture: per named query, two timing lines,
  * one plan file and one audit line. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("Probe times, dumps and audits a sweep query and a dist: twin") {
    val out = Files.createTempDirectory("graft-probe").toString
    val specs = Seq("q01_agg", "dist:q75_pagerank", "q134_link_pred_auc")
    val log = new java.io.ByteArrayOutputStream()
    Console.withOut(log)(Probe.run(spark, Array("/root/testdata/sf0.001", out) ++ specs))
    val lines = log.toString.linesIterator.toSeq
    specs.foreach { q =>
      val times = lines.filter(_.startsWith(s"QTIME $q "))
      assert(times.map(_.split(" ")(2)) == Seq("pass1", "pass2"), lines)
      val rows = times.map(t => """ [\d.]+ s rows=(\d+)$""".r.findFirstMatchIn(t).get.group(1).toLong)
      assert(rows.distinct.size == 1 && rows.head > 0, times)
      val audits = lines.filter(_.startsWith(s"AUDIT $q "))
      assert(audits.size == 1 && audits.head.matches(s"AUDIT \\Q$q\\E exchanges=\\d+ flags=.*"),
        lines)
      val plan = Files.readString(Paths.get(out, s"${q.replace(':', '_')}.txt"))
      assert(plan.startsWith(s"== $q: final-plan explain(formatted) ==\n== Physical Plan =="))
      assert(plan.contains("\n== executed plans of every action (loop rounds included) ==\n"))
      assert(plan.contains("\n==== action: "), plan)
    }
    assert(new java.io.File(out).list().length == specs.size)
    // a loop query's exchanges are in its round plans, not in the final
    // scan of its last checkpoint
    val pr = lines.find(_.startsWith("AUDIT dist:q75_pagerank ")).get
    assert("""exchanges=(\d+)""".r.findFirstMatchIn(pr).get.group(1).toInt > 0, pr)
    // PageRank's one-partition shuffles are its global count and
    // dangling-mass sums (one row per map partition); the link-prediction
    // AUC ranks every scored pair in one unpartitioned window
    def flags(audit: String) = audit.split("flags=", -1)(1).split(",").toSet
    assert(!flags(pr).contains("SinglePartition"), pr)
    val lp = lines.find(_.startsWith("AUDIT q134_link_pred_auc ")).get
    assert(flags(lp).contains("SinglePartition"), lp)
  }
}
