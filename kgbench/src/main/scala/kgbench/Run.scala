package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/**
 * One benchmark run: set up, measure for `--seconds`, check the outputs,
 * and with `--trace 1` make the traced per-layer calls. The last stdout
 * line is one JSON object of raw metric values; `kgbench/run.py` attaches
 * units from BENCHMARK.json.
 *
 *   kgbench.Run --workload stages|topic --seed N --seconds S
 *     --trace 0|1 --cores C --home <kgbench dir> --work <run dir>
 *     (--prepare 1 | --launched-ms <epoch ms> --gen-s <input generation seconds>)
 *
 * With `--prepare 1` it only makes sure the inputs exist and prints the
 * seconds spent generating them.
 */
object Run {

  /** Workload sizes, chosen so one run fits the benchmark's time budget
    * (see kgbench/README.md for the sizing table). */
  def workload(name: String, env: Env): Workload = name match {
    case "stages" => new Stages(env, files = 4096, scale = 2, parseSlice = 8192)
    case "topic" => new Topic(env, depth = 6, width = 400)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Spans every traced run reports, with 0 for a span its workload does not make. */
  val spans = Seq("parse", "mentions", "closure", "triples", "session") ++
    Workload.stageNames.map("stage." + _) ++
    Seq("resume", "topiccorpus", "bfs", "cc", "pagerank")
  val censused = Seq("closure", "bfs", "cc", "pagerank", "stage.triples")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val home = opt("home")
    val env = Env(opt("seed").toLong, cores, s"$home/.fixtures", opt("work"))
    val w = workload(opt("workload"), env)
    val probeStartMs = System.currentTimeMillis()
    val fx = new Fixtures(env.fixtures)
    w.inputs(fx)
    if (opt.get("prepare").contains("1")) {
      println(fx.genSeconds)
      return
    }

    val probes = ArrayBuffer.fill(3)(probe(cores))
    val setupStart = System.currentTimeMillis()
    w.setup()
    // JVM launch to main, then the set-up itself: input checks and probes excluded
    val setupRawS =
      (probeStartMs - opt("launched-ms").toLong + System.currentTimeMillis() - setupStart) / 1e3

    val walls = ArrayBuffer.empty[Double]
    val results = ArrayBuffer.empty[w.Result]
    var thrown = 0
    val t0 = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc() // each iteration starts from the same heap, not the last one's garbage
      val t = System.nanoTime()
      try results += w.iteration()
      catch { case e: Exception => thrown += 1; e.printStackTrace() }
      walls += (System.nanoTime() - t) / 1e9
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    probes ++= Seq.fill(3)(probe(cores))
    // other work (the JIT still compiling, GC, other tenants) can only
    // slow a probe down, so the fastest one is the host's speed
    val hostS = probes.min
    val (flags, runOk) = w.check(results.toSeq)
    System.err.println(f"[kgbench] probe $hostS%.3f s (${probes.map(p => f"$p%.3f").mkString(" ")}), setup $setupRawS%.1f s, " +
      f"${walls.length} iterations in $timedS%.1f s, checks ${(System.nanoTime() - t0) / 1e9 - timedS}%.1f s")
    val failed = thrown + flags.count(!_)
    val wallS = median(walls.toSeq)

    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupRawS / hostS,
        "wall_s" -> wallS / hostS,
        "ok_frac" -> (walls.length - failed).toDouble / walls.length)
      else {
        // the traced repeat runs warm, so it is compared with a warm untraced one
        val t1 = System.nanoTime()
        w.iteration()
        val untracedS = (System.nanoTime() - t1) / 1e9
        val t = w.trace()
        if (!t.correct) throw new IllegalStateException("traced outputs are wrong")
        val layers = Tracer.layers()
        def q(span: String, f: Tracer.Layer => Double) = layers.get(span).map(f).getOrElse(0.0)
        val perSpan = spans.flatMap { s => Seq(
          s"$s.s" -> q(s, _.s),
          s"$s.self_s" -> q(s, _.selfS),
          s"$s.busy_s" -> q(s, _.busyS),
          s"$s.idle_core_s" -> q(s, l => l.s * cores - l.busyS),
          s"$s.jobs" -> q(s, _.jobs.toDouble),
          s"$s.shuffle_write_mb" -> q(s, _.shuffleWriteB / Workload.mb))
        } ++ censused.flatMap { s => Seq(
          s"$s.exchanges" -> q(s, _.exchanges.toDouble),
          s"$s.smj" -> q(s, _.smj.toDouble),
          s"$s.bhj" -> q(s, _.bhj.toDouble))
        }
        val defaults = Seq("parse.ns_per_file", "parse.mentions_per_file", "stages.parses_per_file",
          "stages.write_amp", "checkpoints.write_mb", "stage.triples.task_skew", "bfs.rounds",
          "bfs.s_per_round").map(_ -> 0.0)
        val runId = s"${opt("workload")}-s${env.seed}"
        Files.write(Paths.get(s"$home/.work/trace-$runId.jsonl"), Tracer.spanLines(runId).asJava)
        (perSpan ++ defaults).toMap ++ t.extra ++ Map(
          "mentions.obj_roundtrips" -> q("mentions", _.roundtrips.toDouble),
          "spark.failed_tasks" -> Tracer.failedTasks.toDouble,
          "jvm.peak_rss_mb" -> peakRssMb(),
          "spark.spill_mb" -> Tracer.spillBytes / Workload.mb,
          "fixtures.gen_s" -> opt("gen-s").toDouble,
          "host.probe_s" -> hostS,
          "trace.overhead" -> t.iterationS / untracedS)
      }

    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"correct":${failed == 0 && runOk},"attempted":${walls.length},""" +
      s""""failed":$failed,"metrics":{$json}}""")
  }

  /**
   * Host speed: seconds for fixed JDK-only work (SHA-256 and a sort) on
   * every core. The VM this benchmark was sized on changed per-core speed
   * up to twofold within minutes, so times are reported in probe units,
   * measured time ÷ probe time: the seconds a host needs where the probe
   * takes 1 s. The probe runs no program code, so no change to the
   * program moves it.
   */
  def probe(cores: Int): Double = {
    val t0 = System.nanoTime()
    val workers = (1 to cores).map { i =>
      new Thread(() => {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val buf = new Array[Byte](1 << 20)
        (1 to 24).foreach(k => { md.update(buf); buf(k) = md.digest()(0) })
        val rnd = new java.util.Random(i)
        java.util.Arrays.sort(Array.fill(1 << 21)(rnd.nextLong()))
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM, from /proc. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
