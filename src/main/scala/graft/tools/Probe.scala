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
// and <outDir>/<query>.txt (':' written as '_'): the formatted explain
// plus the executed plan of every action of an untimed third pass, loop
// rounds included.
package graft.tools

import graft.SparkEntry
import graft.pipeline.Metrics
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
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
      val plans = ArrayBuffer.empty[(String, String)]
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          plans.synchronized(plans +=
            f"==== action: $fn (${ns / 1e6}%.0f ms) ====" -> qe.executedPlan.toString)
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
          actions.map { case (head, plan) => s"$head\n${plan.take(20000)}" }.mkString("\n"))
      // every action is audited: a loop query's last action (the noop
      // write) is a scan of its last checkpoint, its rounds ran before.
      // AQE's initial plan follows each action's final one
      val fins = actions.map(_._2.split("== Initial Plan ==").head)
      val flags = Seq("CartesianProduct", "SinglePartition", "ScalaUDF")
        .filter(f => fins.exists(_.contains(f)))
      val exchanges = fins.map(_.linesIterator.count(_.contains("Exchange hashpartitioning"))).sum
      println(s"AUDIT $spec exchanges=$exchanges flags=${flags.mkString(",")}")
    }
  }
}
