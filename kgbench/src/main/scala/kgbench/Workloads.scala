package kgbench

import graft.core.CodeFile
import graft.fixtures.CorpusGen
import graft.functions.TextFunctions
import graft.parse.{CodeParser, Segmenter}
import graft.pipeline.{Checkpoints, Mentions, Redirects, TopicCorpus, TopicGraph, Triples}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{File, OutputStream, PrintStream}
import scala.collection.mutable.ArrayBuffer

/** What a workload's run needs from the command line. */
final case class Env(seed: Long, cores: Int, fixtures: String, work: String)

/**
 * One benchmark workload. The harness calls `inputs`, then `setup` once
 * (session up, inputs loaded), then `iteration` for the measured time,
 * then `check` on every measured result, and last, in a traced run,
 * `trace`. The first iteration runs in a cold JVM, as every spark-submit
 * of the pipeline does.
 */
trait Workload {
  type Result
  /** Make sure the seeded inputs exist; a separate JVM does this before
    * the measured one, so set-up time does not depend on the cache. */
  def inputs(fx: Fixtures): Unit
  def setup(): Unit
  def iteration(): Result
  /** One flag per result: its output is right. May also check the run
    * as a whole; a failure there makes the run incorrect. */
  def check(results: Seq[Result]): (Seq[Boolean], Boolean)
  /** Traced calls into each layer, one of which repeats an iteration
    * for `trace.overhead`. Stops every SparkContext it used, which
    * drains the listener bus. */
  def trace(): Traced
}

/** A traced run's own results: whether the traced outputs were right,
  * the traced repeat of one iteration, and the workload's special
  * per-layer metrics. Span metrics come from [[Tracer.layers]]. */
final case class Traced(correct: Boolean, iterationS: Double, extra: Map[String, Double])

object Workload {
  val stageNames = Seq("mentions", "aliases", "closure", "ner", "triples", "priors")

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // graft.Bench's session settings for the same corpus shape
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-independent digest: row count and the sum of each row's xxhash64. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  val mb = 1024.0 * 1024.0

  /** Run `graft.Main` in-process as spark-submit would. Its report
    * lines stay off stdout; each is returned with the time it was printed. */
  def runMain(args: String*): Seq[(Long, String)] = {
    val lines = ArrayBuffer.empty[(Long, String)]
    val line = new java.io.ByteArrayOutputStream()
    val sink = new OutputStream {
      def write(b: Int): Unit =
        if (b != '\n') line.write(b)
        else { lines += (System.currentTimeMillis() -> line.toString("UTF-8")); line.reset() }
    }
    Console.withOut(new PrintStream(sink, true))(graft.Main.main(args.toArray))
    lines.toSeq
  }
}

import Workload._

/**
 * `stages`: `graft.Main` in-process, exactly as spark-submit runs it,
 * over all six stages with a fresh out dir per pass. Each pass builds
 * and stops its own SparkContext, so the harness holds no session while
 * one runs. The traced run also times the north-star extraction chain
 * (`Triples.mentionTriples`, as `graft.Bench.extractTriples` runs it)
 * layer by layer over the same corpus.
 */
final class Stages(env: Env, files: Int, scale: Int, parseSlice: Int) extends Workload {
  type Result = String
  private val all = stageNames.mkString(",")
  private val stageDirs =
    Seq("01_mentions", "02_aliases", "03_closure", "04_triples", "05_ner_corpus", "06_priors")
  private var corpusDir: String = _
  private var want: (Long, BigDecimal) = _
  private var passes = 0

  def inputs(fx: Fixtures): Unit = corpusDir = fx.corpus(files, env.seed, scale)

  /** Nothing to load: `Main` opens the corpus itself. */
  def setup(): Unit = ()

  private def freshOut(): String = { passes += 1; s"${env.work}/stages-$passes" }

  /** One `Main` call; returns its report lines, each with the time it was printed. */
  private def pass(out: String, stages: String): Seq[(Long, String)] =
    runMain("--corpus", corpusDir, "--out", out, "--stages", stages)

  def iteration(): String = {
    val out = freshOut()
    pass(out, all)
    out
  }

  private def corpus(spark: SparkSession): Dataset[CodeFile] = {
    import spark.implicits._
    spark.read.parquet(corpusDir).as[CodeFile]
  }

  /** Every stage snapshot is committed and the triples, as (subj, obj),
    * equal `Triples.mentionTriples` on the same corpus, which in turn
    * meets precision and recall 0.95 against the mentions `CorpusGen`
    * planted in the corpus. */
  def check(outs: Seq[String]): (Seq[Boolean], Boolean) = {
    val spark = session(env.cores)
    import spark.implicits._
    val got = Triples.mentionTriples(corpus(spark), CorpusGen.dictionary).persist()
    want = digest(got)
    val flags = outs.map { out =>
      val cp = new Checkpoints(spark, s"$out/stages")
      val ok = stageDirs.forall(cp.isCommitted) &&
        digest(spark.read.parquet(s"$out/triples").select("subj", "obj").distinct()) == want
      rmrf(new File(out))
      ok
    }
    val golden = CorpusGen.generate(files, env.seed, scale).filter(_.aliasTarget.isEmpty).flatMap { g =>
      val subj = TextFunctions.nameToUri(s"${g.file.repo}/${g.file.path}", g.file.lang)
      g.mentions.map(m =>
        (subj, TextFunctions.nameToUri(CorpusGen.resolveName(m.label), g.file.lang)))
    }.distinct.toDF("subj", "obj")
    val (p, r) = Triples.precisionRecall(got, golden)
    spark.stop()
    (flags, p >= 0.95 && r >= 0.95)
  }

  def trace(): Traced = {
    val full = freshOut()
    // one traced pass; Main reports after each stage, so its report
    // lines split the pass into stage spans
    Tracer.span("iteration") {
      val reports = pass(full, all)
      require(reports.length > stageNames.length, s"unexpected Main report: $reports")
      val ends = reports.take(stageNames.length).map(_._1)
      val starts = Tracer.contextReady(Tracer.openSince) +: ends.init
      stageNames.zip(starts.zip(ends)).foreach { case (s, (a, b)) => Tracer.record(s"stage.$s", a, b) }
    }
    val writeMb = du(new File(s"$full/stages")) / mb
    val outBytes = du(new File(full))
    Tracer.span("resume")(pass(full, all))

    val spark = session(env.cores)
    val writeAmp = outBytes.toDouble / Fixtures.contentBytes(corpus(spark).toDF())
    val dict = CorpusGen.dictionary
    val slice = (0 until parseSlice).map(i => CorpusGen.file(i, env.seed, scale))
    var mentions = 0L
    Tracer.span("parse") {
      slice.foreach { f =>
        val p = CodeParser.parse(f, dict)
        if (p.aliasTarget.isEmpty) mentions += Segmenter.sentencesWithMentions(p).length
      }
    }
    Tracer.span("mentions") {
      Mentions.extract(corpus(spark), dict).write.format("noop").mode("overwrite").save()
    }
    Tracer.span("closure") {
      Redirects.transitiveClosureDoubling(Mentions.aliasEdges(corpus(spark), dict).toDF("src", "dst"))
        .count()
    }
    val triplesOk = Tracer.span("triples")(digest(Triples.mentionTriples(corpus(spark), dict))) == want
    val (flags, _) = check(Seq(full))
    val layers = Tracer.layers()
    Traced(triplesOk && flags.forall(identity), layers("iteration").s, Map(
      "parse.ns_per_file" -> layers("parse").s * 1e9 / parseSlice,
      "parse.mentions_per_file" -> mentions.toDouble / parseSlice,
      "stages.parses_per_file" -> layers("iteration").parsed.toDouble / files,
      "stages.write_amp" -> writeAmp,
      "checkpoints.write_mb" -> writeMb,
      "stage.triples.task_skew" -> layers("stage.triples").taskSkew))
  }
}

/**
 * `topic`: the topic-corpus chain (`TopicCorpus.run`) and the graph
 * loops over a seeded taxonomy, every loop forced onto its distributed
 * path (`localThreshold = 0`). No parse: the cost is loop rounds times
 * the fixed cost of a round, plus the join strategy.
 */
final class Topic(env: Env, depth: Int, width: Int) extends Workload {
  import Topic.Out
  type Result = Out
  private val graph = Taxonomy(env.seed, depth, width)
  private lazy val spark = session(env.cores)
  private var dir: String = _
  private var reference: Out = _
  private var runs = 0

  def inputs(fx: Fixtures): Unit = dir = fx.taxonomy(graph)

  def setup(): Unit = Seq("edges", "grounding", "abstracts").foreach(t => table(t).count())

  private def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
  private def edges = table("edges").select("src", "dst")

  /** The chain; `distributed = false` runs only the loops, each at its
    * default threshold, i.e. the driver-side twin at this size. */
  private def chain(distributed: Boolean, step: String => (=> Any) => Any): (Out, DataFrame) = {
    def at[T](name: String)(body: => T): T = step(name)(body).asInstanceOf[T]
    import spark.implicits._
    val zero = if (distributed) Some(0L) else None
    val counts = if (!distributed) Map.empty[String, Long] else at("topiccorpus") {
      runs += 1
      TopicCorpus.run(spark, edges, table("grounding"), table("abstracts"),
        Seq(graph.root).toDF("root"), s"${env.work}/topic-$runs")
    }
    val closure = at("closure") {
      val primary = table("edges").filter(col("primary")).select("src", "dst")
      digest(zero.fold(Redirects.transitiveClosureDoubling(primary))(
        t => Redirects.transitiveClosureDoubling(primary, localThreshold = t)))
    }
    val (bfs, dist) = at("bfs") {
      val down = edges.select(col("dst").as("src"), col("src").as("dst"))
      val seeds = Seq(graph.root).toDF("node")
      val d = zero.fold(TopicGraph.hopDistance(down, seeds))(
        t => TopicGraph.hopDistance(down, seeds, localThreshold = t))
      (digest(d), d)
    }
    val cc = at("cc")(digest(zero.fold(TopicGraph.connectedComponents(edges))(
      t => TopicGraph.connectedComponents(edges, localThreshold = t))))
    val pr = at("pagerank") {
      zero.fold(TopicGraph.pageRank(edges))(t => TopicGraph.pageRank(edges, localThreshold = t))
        .as[(String, Double)].collect().toMap
    }
    (Out(counts, closure, bfs, cc, pr), dist)
  }

  private val untraced: String => (=> Any) => Any = _ => body => body

  def iteration(): Out = chain(distributed = true, untraced)._1

  /** Every topic has an edge, so none is trivial, and each one is either
    * grounded or not. */
  private def corpusOk(o: Out): Boolean = {
    val topics = 1L + (depth - 1).toLong * width
    o.counts("topics") == topics && o.counts("grounded") == topics &&
      o.counts("ancestry") > 0 && o.counts("corpus") > 0
  }

  /** Same loop outputs; PageRank sums in shuffle order, so it gets a tolerance. */
  private def loopsAgree(a: Out, b: Out): Boolean =
    a.closure == b.closure && a.bfs == b.bfs && a.cc == b.cc &&
      a.pagerank.keySet == b.pagerank.keySet &&
      a.pagerank.forall { case (k, v) => math.abs(v - b.pagerank(k)) <= 1e-9 }

  private def same(a: Out, b: Out): Boolean = a.counts == b.counts && loopsAgree(a, b)

  /** Every iteration agrees with the first; the first passes the corpus
    * checks and agrees with the driver-side twins. */
  def check(results: Seq[Out]): (Seq[Boolean], Boolean) = results.headOption match {
    case None => (Nil, false)
    case Some(first) =>
      reference = first
      val twins = chain(distributed = false, untraced)._1
      (results.map(same(_, first)), corpusOk(first) && loopsAgree(twins, first))
  }

  def trace(): Traced = {
    val (out, dist) = Tracer.span("iteration")(
      chain(distributed = true, name => body => Tracer.span(name)(body)))
    val rounds = dist.agg(max(col("dist"))).head().getInt(0) + 1
    spark.stop()
    val layers = Tracer.layers()
    Traced(same(out, reference), layers("iteration").s, Map(
      "bfs.rounds" -> rounds.toDouble,
      "bfs.s_per_round" -> layers("bfs").s / rounds))
  }
}

object Topic {
  final case class Out(counts: Map[String, Long], closure: (Long, BigDecimal),
      bfs: (Long, BigDecimal), cc: (Long, BigDecimal), pagerank: Map[String, Double])
}
