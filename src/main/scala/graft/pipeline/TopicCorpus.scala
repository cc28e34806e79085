package graft.pipeline

import graft.functions.Aggregators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue

/**
 * Topic-corpus pipeline — the examples/topic-corpus/01..06 chain
 * re-realized over a (narrower, broader) topic edge list + per-entity
 * abstracts + topic-entity grounding:
 *
 *   01 count_topic_direct_degrees -> TopicGraph.degrees (3-way cogroup
 *      semantics) + non-trivial filter (`…pig:48-49`)
 *   02 create_topics_descriptions -> grounding left joins + coalesce,
 *      quality gate (CheckAbstract, U5), HAVING-style post-agg filter
 *   03/05 grounded ancestry       -> TopicGraph.groundedAncestry (BFS
 *      with paths + NoLoopInPath)
 *   06 aggregate abstracts        -> size-capped concat (U3 Aggregator)
 *      + dedup concat (U4) + TSV-safe export, multi-store (K5: one
 *      shared upstream, two sinks)
 */
object TopicCorpus {

  /** 01: degrees + drop isolated nodes. */
  def nonTrivialTopics(edges: DataFrame): DataFrame =
    TopicGraph.degrees(edges)
      .filter(col("narrowerCount") =!= 0 || col("broaderCount") =!= 0)

  /**
   * 02: ground topics with entities (left join mentions-derived
   * grounding), count groundings and gate on abstract quality. Returns
   * (topic, entityCount, hasGoodAbstract) — the null-marker projection
   * (P6) is carried as an int flag.
   */
  def groundedTopics(topics: DataFrame, grounding: DataFrame,
      abstracts: DataFrame, minWords: Int = 30): DataFrame = {
    // pure-Column quality gate (GraftFunctions.check_text) — codegen'd
    // word count + blacklist, no UDF serialization wall
    val counts = grounding.groupBy(col("topic"))
      .agg(count(lit(1)).as("entityCount"))
    topics.select(col("node").as("topic"))
      .join(counts, Seq("topic"), "left_outer")
      .join(abstracts.select(col("subject").as("topic"),
        graft.functions.GraftFunctions.check_text(col("object"), minWords)
          .as("goodAbstract")), Seq("topic"), "left_outer")
      .select(col("topic"),
        coalesce(col("entityCount"), lit(0L)).as("entityCount"),
        coalesce(col("goodAbstract"), lit(false)).cast("int").as("hasGoodAbstract"))
  }

  /**
   * 06: per-topic text corpus — abstracts of the topic's grounded
   * entities aggregated with the size-capped concat (explicit sort key),
   * sources dedup-concatenated, exported TSV-safe. Post-agg HAVING
   * (`abstractCount > minAbstracts`, 06_…pig:81).
   */
  def topicAbstracts(grounding: DataFrame, abstracts: DataFrame,
      sizeLimit: Int = 100000, minAbstracts: Long = 1): DataFrame = {
    val capped = udaf(new Aggregators.CappedConcat(sizeLimit))
    val distinctJoin = udaf(new Aggregators.ConcatDistinct(" "))
    grounding
      .join(abstracts.withColumnRenamed("subject", "entity"), Seq("entity"))
      .groupBy(col("topic"))
      .agg(
        count(lit(1)).as("abstractCount"),
        capped(xxhash64(col("entity")), col("object")).as("aggText"),
        distinctJoin(xxhash64(col("entity")), col("entity")).as("entities"))
      .filter(col("abstractCount") >= minAbstracts)
      .select(col("topic"), col("abstractCount"),
        graft.functions.GraftFunctions.tsv_safe(col("aggText")).as("safeText"),
        col("entities"))
  }

  /**
   * Full chain with checkpointed stages and a multi-store ending (TSV +
   * NTriples of the same ordered relation, 06_…pig:91-100).
   *
   * Only 01→02 and 06→sinks depend on each other, so the chain runs as
   * three concurrent branches, Pig's multi-query execution made
   * explicit: `01_degrees → 02_grounded`, `05_ancestry`, and
   * `06_abstracts →` the TSV and NT sinks. At small sizes almost every
   * job is one task and driver work (planning, codegen, scheduling) is
   * the bottleneck, so one branch's driver work overlaps the others'
   * jobs. Each stage's jobs carry a job group named after the stage (the
   * sinks' jobs stay in `06_abstracts`). A failing branch does not stop
   * its siblings: every stage still commits atomically, `run` rethrows
   * the first failure once all branches are done, and a rerun resumes
   * from the stages that committed.
   */
  def run(spark: SparkSession, edges: DataFrame, grounding: DataFrame,
      abstracts: DataFrame, roots: DataFrame, outDir: String): Map[String, Long] = {
    val cp = new Checkpoints(spark, s"$outDir/stages")
    def stage(name: String)(compute: => DataFrame): DataFrame = {
      spark.sparkContext.setJobGroup(name, s"topic corpus $name")
      cp.runStage(name)(compute)
    }
    inBranches(
      "01_degrees" -> { () =>
        val topics = stage("01_degrees") { nonTrivialTopics(edges) }
        stage("02_grounded") { groundedTopics(topics, grounding, abstracts) }
      },
      "05_ancestry" -> { () =>
        stage("05_ancestry") { TopicGraph.groundedAncestry(edges, roots, maxDepth = 5) }
      },
      "06_abstracts" -> { () =>
        val corpus = stage("06_abstracts") {
          topicAbstracts(grounding.select(col("topic"), col("entity")), abstracts)
        }.persist()
        try {
          // multi-store: shared upstream, two sinks
          corpus.select(col("topic"), col("abstractCount"), col("safeText"))
            .orderBy(desc("abstractCount"), asc("topic"))
            .write.mode("overwrite").option("sep", "\t").csv(s"$outDir/topics_tsv")
          TripleMaterialize.uriLiteralLines(
            corpus.select(col("topic").as("subj"), col("safeText").as("obj"),
              lit("en").as("lang")),
            pred = "http://graft.dev/ontology#corpus")
            .write.mode("overwrite").text(s"$outDir/topics_nt")
        } finally corpus.unpersist(false) // don't leak into the session
      })
    Map(
      "topics" -> cp.rows("01_degrees"),
      "grounded" -> cp.rows("02_grounded"),
      "ancestry" -> cp.rows("05_ancestry"),
      "corpus" -> cp.rows("06_abstracts"))
  }

  /** Runs each branch on a driver thread of its own, created here so it
    * inherits the caller's session and local properties (a job group
    * it sets stays its own). Waits for every branch, then rethrows the
    * first failure, with any later ones attached as suppressed. */
  private def inBranches(branches: (String, () => Any)*): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = branches.map { case (name, body) =>
      new Thread(() => try body() catch { case e: Throwable => failures.add(e) },
        s"topic-corpus-$name")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
  }
}
