package graft.pipeline

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator
import scala.collection.concurrent.TrieMap

/**
 * Pipeline counters — the "per-partition lineage and counters" half of
 * the north rule's resumability requirement.
 *
 * Two layers:
 *  - named `LongAccumulator`s for domain counters (files parsed, rows
 *    dropped as malformed, mentions emitted) that pipeline code bumps
 *    inside typed maps, mirroring Hadoop counters the reference got for
 *    free from MapReduce;
 *  - a SparkListener capturing per-stage task/record/shuffle metrics,
 *    dumped as one JSON line per stage for the run log;
 *  - the generated classes compiled since this `Metrics` was built, on
 *    any thread of this JVM (the codegen layer of a run).
 */
final class Metrics(spark: SparkSession) {

  private val compilesAtStart = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val accs = TrieMap.empty[String, LongAccumulator]

  def counter(name: String): LongAccumulator =
    accs.getOrElseUpdate(name, spark.sparkContext.longAccumulator(s"graft.$name"))

  def snapshot(): Map[String, Long] =
    accs.map { case (k, v) => k -> v.value.longValue }.toMap

  final case class StageStats(
      stageId: Int, name: String, tasks: Int,
      inputRecords: Long, outputRecords: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      wallMs: Long)

  private val stages = TrieMap.empty[Int, StageStats]

  private val listener = new SparkListener {
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      stages.put(si.stageId, StageStats(
        si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def stageStats(): Seq[StageStats] = stages.values.toSeq.sortBy(_.stageId)

  def report(): String = {
    val cs = snapshot().toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val ss = stageStats().map(s =>
      s"""{"stage":${s.stageId},"tasks":${s.tasks},"in":${s.inputRecords},""" +
        s""""out":${s.outputRecords},"shr":${s.shuffleReadBytes},""" +
        s""""shw":${s.shuffleWriteBytes},"ms":${s.wallMs}}""").mkString(",")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesAtStart
    s"""{"counters":{$cs},"stages":[$ss],"codegen_compiles":$compiles}"""
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Metrics {

  /** Local property that marks [[drainListeners]]' job. */
  val DrainMark = "graft.drain"

  /** Returns once every listener event posted so far was delivered
    * (`QueryExecutionListener` calls included): runs a job marked with
    * [[DrainMark]] and waits until a listener sees it (the bus delivers
    * one queue's events in order). */
  def drainListeners(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(DrainMark) != null)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(DrainMark, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainMark, null)
      require(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
  }
}
