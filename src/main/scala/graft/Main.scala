package graft

import graft.core.{CodeFile, Mention}
import graft.fixtures.CorpusGen
import graft.functions.TextFunctions
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * spark-submit entry point — the full KG-construction pipeline with
 * stage selection, snapshot-checkpointed resume, and counters (the
 * north rule's operational surface):
 *
 *   spark-submit --class graft.Main pignlprocspark.jar \
 *     --corpus <parquet dir | gen:N> --out <dir> [--stages s1,s2,...]
 *
 * Stages (each a Checkpoints snapshot; a killed run resumes from the
 * last committed one): mentions, aliases, closure, ner, triples,
 * priors (PageRank over the triples), dedup (persistent signature
 * index + near-dup keep list over the corpus).
 *
 * Only `mentions` and `aliases` parse the corpus (through
 * [[graft.pipeline.Mentions]]); every later stage reads its inputs from
 * its prerequisites' committed snapshots (closure ← aliases; ner ←
 * mentions, closure; triples ← mentions, closure; priors ← triples). A
 * selected stage commits any missing prerequisite first, without
 * printing its line, so `--stages ner` alone on a fresh directory runs
 * mentions, aliases and closure as well.
 */
object Main {

  /** Codegen settings of every graft JVM (the root build's `javaOptions`
    * carry the same pair for `sbt run` and forked tests). Without a
    * stage id in its name, a generated class is keyed by its content
    * alone, so a loop round of an already compiled shape reuses its
    * classes; 1000 entries hold one `topic` iteration's ~130 distinct
    * classes, each compiled once per class loader. */
  val sessionDefaults: Map[String, String] = Map(
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def main(args: Array[String]): Unit = {
    val spark = session()
    try run(spark, args) finally spark.stop()
  }

  /** The session of every graft main but the frozen `Bench` and
    * `Verify`: [[sessionDefaults]], AQE, and `SPARK_GRAFT_CPUS` (32 when
    * unset) shuffle partitions and local cores. */
  def session(): SparkSession = {
    val builder = SparkSession.builder()
      .appName("graft-kg-construct")
      .config(sessionDefaults)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
    // spark-submit provides the master; standalone runs (sbt runMain,
    // smoke tests) fall back to local — never override a submit-set one
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Entity-type side inputs of the `ner` stage, derived from the corpus
    * dictionary (in production these come from NerCorpus.readUriUriNt
    * over real NT dumps): (subject, object) types and (typeUri,
    * typeName) names. */
  private[graft] def nerSideInputs(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val entityTypes = (for {
      e <- CorpusGen.dictionary.values.toSeq.distinct
      lang <- CorpusGen.langs
    } yield (TextFunctions.nameToUri(e, lang),
      "http://graft.dev/ontology/Component")).toDF("subject", "object")
    val typeNames = Seq(("http://graft.dev/ontology/Component", "component"))
      .toDF("typeUri", "typeName")
    (entityTypes, typeNames)
  }

  /** Run the selected stages on `spark`; returns the run's counters. */
  def run(spark: SparkSession, args: Array[String]): Map[String, Long] = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val corpus = opts.getOrElse("corpus", "gen:4096")
    val outDir = opts.getOrElse("out", "/tmp/graft-out")
    val stages = opts.getOrElse("stages", "mentions,aliases,closure,triples")
      .split(",").toSet
    import spark.implicits._

    val metrics = new Metrics(spark)
    try {
      val parsedCounter = metrics.counter("files_parsed")
      val cp = new Checkpoints(spark, s"$outDir/stages")
      val dict = CorpusGen.dictionary

      val files: DataFrame =
        if (corpus.startsWith("gen:")) {
          val n = corpus.drop(4).toInt
          spark.range(n).map(i => CorpusGen.file(i)).toDF()
        } else spark.read.parquet(corpus)

      // files_parsed counts inside the lambda that already deserializes
      // each row (PlanSpec guards the absence of a counting pass)
      def typedFiles = files.as[CodeFile]
      val countParse: CodeFile => Unit = _ => parsedCounter.add(1)

      // each stage's output: its committed snapshot, computed and committed
      // on first use
      lazy val mentions = cp.runStage("01_mentions") {
        Mentions.extract(typedFiles, dict, onParse = countParse).toDF()
      }
      lazy val aliases = cp.runStage("02_aliases") {
        Mentions.aliasEdges(typedFiles, dict, onParse = countParse).toDF("src", "dst")
      }
      lazy val canon = cp.runStage("03_closure") {
        // log-depth doubling (the scale default, as in NerCorpus);
        // small alias graphs take the same adaptive driver fast path
        Redirects.transitiveClosureDoubling(aliases)
      }
      lazy val ner = cp.runStage("05_ner_corpus") {
        // ner-corpus chain 02->03 (reference 01 is the mentions stage)
        val (entityTypes, typeNames) = nerSideInputs(spark)
        NerCorpus.annotatedCorpus(mentions.as[Mention],
          NerCorpus.typedEntities(entityTypes, canon), typeNames)
      }
      lazy val triples = cp.runStage("04_triples") {
        // skew-controlled linking join: MG-sketch hot keys -> selective
        // salting (Triples.linkCanonical) — identical rows to the plain
        // left-outer join, but no reducer pins on a ubiquitous surface
        Triples.linkCanonical(mentions, canon)
          .select(
            col("uri").as("subj"),
            lit("http://graft.dev/ontology#mentions").as("pred"),
            col("obj"),
            col("sha256"),
            // partition columns of the north rule: lang + repo prefix
            regexp_extract(col("uri"), "graft\\.dev/([^/]+)/", 1).as("lang"),
            substring(regexp_extract(col("uri"), "entity/(.*)$", 1), 1, 2).as("repo_prefix"))
          .distinct()
      }
      lazy val priors = cp.runStage("06_priors") {
        // entity-importance stage: PageRank over the triple graph — the
        // popularity prior behind the skew-aware linking join (its top
        // ranks ARE the hot-key list for Skew.saltedJoin) and
        // most-common-sense disambiguation
        TopicGraph.pageRank(triples.select(col("subj").as("src"), col("obj").as("dst")))
          .select(col("node").as("entity"), col("rank").as("pagerank"))
      }

      if (stages("mentions")) {
        mentions
        println(s"[graft] mentions: ${cp.rows("01_mentions")}")
      }
      if (stages("aliases")) {
        aliases
        println(s"[graft] alias edges: ${cp.rows("02_aliases")}")
      }
      if (stages("closure")) {
        canon
        println(s"[graft] canonical aliases: ${cp.rows("03_closure")}")
      }
      if (stages("ner")) {
        ner
        println(s"[graft] ner annotated sentences: ${cp.rows("05_ner_corpus")}")
      }
      if (stages("triples")) {
        // the export is rewritten only when this run computes the
        // snapshot, or when the export is missing or did not finish
        if (!cp.isCommitted("04_triples") ||
            !Files.exists(Paths.get(s"$outDir/triples/_SUCCESS")))
          triples.write.mode("overwrite")
            .partitionBy("lang", "repo_prefix")
            .parquet(s"$outDir/triples")
        // opt-in consumer-side co-location (--bucket-triples true): the
        // same triples also land bucketed+sorted by subj so downstream
        // subj-joins run zero-Exchange (TripleMaterialize.writeBucketed;
        // PlanSpec guards the read-back plan)
        if (opts.get("bucket-triples").contains("true"))
          TripleMaterialize.writeBucketed(
            triples.select(col("subj"), col("pred"), col("obj")), "graft_triples_bucketed")
        println(s"[graft] triples: ${cp.rows("04_triples")}")
      }
      if (stages("priors")) {
        priors
        println(s"[graft] priors: ${cp.rows("06_priors")} ranked entities")
      }
      if (stages("dedup")) {
        // curation stage: the corpus's persistent SIGNATURE INDEX (sign
        // once per batch; later increments search it via
        // Dedup.incrementalCandidates(..., fast = true) — the flag MUST
        // match this index's xxhash64 family — without re-scanning text)
        // and the near-dup keep list (candidates -> components -> keep
        // min-id)
        val docs = files.select(
          xxhash64(col("repo"), col("path"), col("commit")).as("doc_id"),
          col("content").as("text"))
        val sigs = cp.runStage("07_sig_index") {
          // fast xxhash64 signatures: the engine-internal index path
          Dedup.minhashSignaturesFast(docs)
        }
        val keep = cp.runStage("08_keep_list") {
          val edges = Dedup.candidatesFromSigs(sigs)
            .filter(col("est_jaccard") >= 0.5)
            .select(col("id_a").as("src"), col("id_b").as("dst"))
          val cc = TopicGraph.connectedComponents(edges)
            .withColumnRenamed("node", "doc_id")
          docs.select(col("doc_id"))
            .join(cc, Seq("doc_id"), "left_outer")
            .select(col("doc_id"),
              when(col("label").isNull || col("label") === col("doc_id"), 1)
                .otherwise(0).as("keep"))
        }
        val kept = keep.filter(col("keep") === 1).count()
        println(s"[graft] dedup: ${cp.rows("08_keep_list")} docs, $kept kept")
      }
      println(s"[graft] metrics: ${metrics.report()}")
      metrics.snapshot()
    } finally metrics.close()
  }
}
