package kgbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/**
 * The benchmark's span tracer.
 *
 * A span is one call from the benchmark into a module's public
 * function. Spans live in memory and are written out once, when the
 * run ends. The listener half is attached to every SparkContext of a
 * traced run through `-Dspark.extraListeners=kgbench.Tracer`, so a
 * context that `graft.Main` builds for itself is traced too, without
 * any change to `Main`.
 *
 * Jobs, tasks and executed plans are tied to spans by time: the driver
 * runs one span at a time, so a job belongs to every span that was open
 * when it was submitted. That works for contexts created inside a span,
 * where a job-local property could not be set beforehand.
 */
class Tracer extends SparkListener {
  import Tracer._

  // The listener bus builds extra listeners as the last step of a
  // SparkContext's start, so this instant is when the context came up.
  contextUp(System.currentTimeMillis())

  private val ctx = nextContext()
  private val stageJobTime = mutable.HashMap.empty[Int, Long]
  private val plans = mutable.HashMap.empty[Long, (Long, SparkPlanInfo)]
  private val cachedSeen = mutable.HashSet.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    jobs.synchronized(jobs += e.time)
    e.stageInfos.foreach(s => stageJobTime.getOrElseUpdate(s.stageId, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    val m = e.taskMetrics
    val parsed = e.taskInfo.accumulables
      .find(_.name.contains("graft.files_parsed"))
      .flatMap(_.update).map(_.toString.toLong).getOrElse(0L)
    val rec = TaskRec(
      jobTime = stageJobTime.getOrElse(e.stageId, e.taskInfo.launchTime),
      stage = (ctx.toLong << 32) | e.stageId,
      runMs = if (m == null) 0L else m.executorRunTime,
      durMs = e.taskInfo.duration,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spill = if (m == null) 0L else m.diskBytesSpilled,
      parsed = parsed,
      failed = e.reason != Success)
    tasks.synchronized(tasks += rec)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (active) e match {
    case s: SparkListenerSQLExecutionStart =>
      plans(s.executionId) = (s.time, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      plans.get(u.executionId).foreach(p => plans(u.executionId) = (p._1, u.sparkPlanInfo))
    case end: SparkListenerSQLExecutionEnd =>
      plans.remove(end.executionId).foreach { case (t, info) =>
        val c = census(info, cachedSeen)
        executed.synchronized(executed += c.copy(time = t))
      }
    case _ =>
  }
}

object Tracer {

  final case class Span(id: Int, name: String, parent: Int,
      startMs: Long, endMs: Long, seconds: Double)
  final case class TaskRec(jobTime: Long, stage: Long, runMs: Long, durMs: Long,
      shuffleWrite: Long, spill: Long, parsed: Long, failed: Boolean)
  /** Operator counts of one executed plan (the final adaptive plan). */
  final case class Census(time: Long, exchanges: Int, smj: Int, bhj: Int,
      deser: Int, ser: Int)

  @volatile private var active = false
  private var contexts = 0
  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long)] // (id, start ms)
  private val contextStarts = mutable.ArrayBuffer.empty[Long]
  private val jobs = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val executed = mutable.ArrayBuffer.empty[Census]

  private def nextContext(): Int = synchronized { contexts += 1; contexts }
  private def contextUp(t: Long): Unit =
    contextStarts.synchronized(contextStarts += t)

  /** Run `body` as a span. The listener only records while a span has
    * been opened, so the untraced iterations before the first span pay
    * for an idle listener only. */
  def span[T](name: String)(body: => T): T = {
    active = true
    nextId += 1
    val id = nextId
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    open.push(id -> startMs)
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      open.pop()
      spans += Span(id, name, parent, startMs, System.currentTimeMillis(), secs)
    }
  }

  /** Start of the innermost open span. */
  def openSince: Long = open.head._2

  /** When the first SparkContext started at or after `t` came up. */
  def contextReady(t: Long): Long =
    contextStarts.synchronized(contextStarts.filter(_ >= t).minOption.getOrElse(t))

  /** Add a span that the caller timed itself, as a child of the open span. */
  def record(name: String, startMs: Long, endMs: Long): Unit = {
    nextId += 1
    spans += Span(nextId, name, open.head._1, startMs, endMs, (endMs - startMs) / 1e3)
  }

  /** Counts the operators of one executed plan. A cached relation's plan
    * counts once, where it is first scanned (which materializes it); a
    * reused exchange counts where it first ran. */
  private def census(info: SparkPlanInfo, cachedSeen: mutable.Set[String]): Census = {
    var ex, smj, bhj, deser, ser = 0
    def walk(p: SparkPlanInfo): Unit = {
      p.nodeName match {
        case "Exchange" => ex += 1
        case "SortMergeJoin" => smj += 1
        case "BroadcastHashJoin" => bhj += 1
        case "DeserializeToObject" => deser += 1
        case "SerializeFromObject" => ser += 1
        case _ =>
      }
      val descend = p.nodeName match {
        case "InMemoryTableScan" => cachedSeen.add(p.simpleString)
        case "ReusedExchange" => false
        case _ => true
      }
      if (descend) p.children.foreach(walk)
    }
    walk(info)
    Census(0L, ex, smj, bhj, deser, ser)
  }

  /** Per-span measurements, summed over every span of that name. */
  final class Layer(val name: String) {
    var s, selfS, busyS = 0.0
    var jobs, exchanges, smj, bhj, roundtrips = 0L
    var shuffleWriteB, parsed = 0L
    var taskSkew = 0.0
  }

  /** Close the books: every session a span created becomes a `session`
    * child span, and every span name gets its measurements. Call after
    * the last SparkContext stopped, which drains the listener bus. */
  def layers(): Map[String, Layer] = {
    def within(sp: Span, t: Long) = t >= sp.startMs && t <= sp.endMs
    // the innermost span the context came up in; a stage span that starts
    // at that very instant (see Stages.trace) is not its parent
    val sessions = contextStarts.flatMap { t =>
      spans.filter(sp => sp.startMs < t && t <= sp.endMs).sortBy(-_.startMs).headOption.map(p =>
        Span(-1, "session", p.id, p.startMs, t, (t - p.startMs) / 1e3))
    }
    val all = spans ++ sessions
    val out = mutable.LinkedHashMap.empty[String, Layer]
    all.foreach { sp =>
      val l = out.getOrElseUpdate(sp.name, new Layer(sp.name))
      l.s += sp.seconds
      l.selfS += sp.seconds - all.filter(c => c.parent == sp.id && sp.id >= 0).map(_.seconds).sum
      val ts = tasks.filter(t => within(sp, t.jobTime))
      l.busyS += ts.map(_.runMs).sum / 1e3
      l.shuffleWriteB += ts.map(_.shuffleWrite).sum
      l.parsed += ts.map(_.parsed).sum
      l.jobs += jobs.count(within(sp, _))
      // skew of the span's heaviest stage: its slowest task over its median task
      if (ts.nonEmpty) {
        val heavy = ts.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum)
        val d = heavy.map(_.durMs).sorted
        l.taskSkew = math.max(l.taskSkew, d.last.toDouble / math.max(1L, d(d.length / 2)))
      }
      executed.filter(c => within(sp, c.time)).foreach { c =>
        l.exchanges += c.exchanges; l.smj += c.smj; l.bhj += c.bhj
        l.roundtrips += math.min(c.deser, c.ser)
      }
    }
    out.toMap
  }

  def failedTasks: Long = tasks.count(_.failed)
  def spillBytes: Long = tasks.map(_.spill).sum

  /** The spans as JSON lines (name, start, end, parent, run id). */
  def spanLines(runId: String): Seq[String] = spans.sortBy(_.startMs).map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"s":${s.seconds}}"""
  }.toSeq
}
