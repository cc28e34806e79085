// Time named driver queries and capture their plans, on Main's session.
// usage: runMain graft.tools.Probe <sfDir> <outDir> [[dist:]<query>...]
//
// `dist:<query>` names a SparkEntry.distGraphQueries twin (the forced-
// distributed graph loops), any other name a SparkEntry.queries slot;
// no name probes every query, then every twin.
// Per query, on stdout:
//   QTIME <query> pass<k> <s> s rows=<n>   two timed passes, no capture
//   AUDIT <query> exchanges=<n> flags=...  red flags summed over the
//                                          final plans of every action
//                                          (SinglePartition: a one-task
//                                          shuffle, not a global count's)
// and <outDir>/<query>.txt (':' written as '_'): the formatted explain
// plus the executed plan of every action of an untimed third pass, loop
// rounds included.
package graft.tools

import graft.SparkEntry
import graft.pipeline.Metrics
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Main.session()
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <outDir> [[dist:]<query>...]")
    val (dir, outDir) = (args(0), args(1))
    val specs = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted ++
        SparkEntry.distGraphQueries.keys.toSeq.sorted.map("dist:" + _)
    Files.createDirectories(Paths.get(outDir))
    specs.foreach { spec =>
      val query =
        if (spec.startsWith("dist:")) SparkEntry.distGraphQueries(spec.drop(5))
        else SparkEntry.queries(spec)
      (1 to 2).foreach { k =>
        val t0 = System.nanoTime()
        val n = query(spark, dir).count()
        println(f"QTIME $spec pass$k ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      }
      // the iterative operators run their rounds while the DataFrame is
      // built (each round is a driver-side action), so the listener is
      // on before construction. The bus is drained first: an action of
      // the timed passes still queued there would reach the listener
      Metrics.drainListeners(spark)
      val plans = ArrayBuffer.empty[(String, String, SparkPlan)]
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          plans.synchronized(plans += ((f"==== action: $fn (${ns / 1e6}%.0f ms) ====",
            qe.executedPlan.toString, qe.executedPlan)))
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val explain = try {
        val df = query(spark, dir)
        val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        df.write.format("noop").mode("overwrite").save()
        Metrics.drainListeners(spark)
        formatted
      } finally spark.listenerManager.unregister(listener)
      val actions = plans.synchronized(plans.toList)
      Files.writeString(Paths.get(outDir, s"${spec.replace(':', '_')}.txt"),
        s"== $spec: final-plan explain(formatted) ==\n$explain\n\n" +
          "== executed plans of every action (loop rounds included) ==\n" +
          actions.map { case (head, text, _) => s"$head\n${text.take(20000)}" }.mkString("\n"))
      // every action is audited: a loop query's last action (the noop
      // write) is a scan of its last checkpoint, its rounds ran before
      val ops = actions.flatMap(a => finalNodes(a._3))
      val flags = Seq[(String, SparkPlan => Boolean)](
        "CartesianProduct" -> (_.isInstanceOf[CartesianProductExec]),
        "SinglePartition" -> {
          case e: ShuffleExchangeExec =>
            e.outputPartitioning == SinglePartition && !keylessPartial(e.child)
          case _ => false
        },
        "ScalaUDF" -> (_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))))
        .collect { case (name, hit) if ops.exists(hit) => name }
      println(s"AUDIT $spec exchanges=${ops.count(hashShuffle)} flags=${flags.mkString(",")}")
    }
  }

  /** Every operator of an executed plan as it finally ran: AQE's final
    * plan (not its initial one), each query stage's plan, the plans of
    * cached relations it scans and of its subqueries. */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case s: QueryStageExec => finalNodes(s.plan)
    case m: InMemoryTableScanExec => finalNodes(m.relation.cachedPlan)
    case _ => (p.children ++ p.innerChildren.collect { case c: SparkPlan => c })
      .flatMap(finalNodes)
  })

  /** A hash shuffle that runs (a reused exchange reads another's output). */
  private def hashShuffle(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }

  /** A keyless partial aggregate (a global count's or sum's map side)
    * sends at most one row per map partition, so the one-task shuffle
    * after it is no bottleneck. */
  private def keylessPartial(p: SparkPlan): Boolean = p match {
    case w: WholeStageCodegenExec => keylessPartial(w.child)
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty && a.aggregateExpressions.forall(_.mode == Partial)
    case _ => false
  }
}
