package graft.pipeline

import graft.core.{CodeFile, Mention}
import graft.functions.TextFunctions
import graft.io.NTriples
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * NER training-corpus pipeline — the examples/ner-corpus/01..03 chain
 * re-realized:
 *
 *   01 extract_sentences_with_links  -> Mentions.extract (U1), alias
 *      edges from Mentions.aliasEdges closed by Redirects
 *   02 dbpedia_article_types         -> entity typing through redirect
 *      resolution (left join + coalesce, J2+P5) and generic-type filter
 *      (`type NEQ owl#Thing`, ner-corpus/02_…pig:34-35)
 *   03 join_by_type_and_convert      -> mention⋈type shuffle join, 8-row
 *      type-name dictionary broadcast (replicated join J3,
 *      ner-corpus/03_…pig:22), group by (uri, sentenceOrder), annotated
 *      merge (U2) with deterministic in-group ordering
 *
 * Per the north rule, redirect resolution uses the transitive closure
 * (strictly more recall than the reference's single hop, SURVEY §2.10.2).
 */
object NerCorpus {

  /** Load a uri-uri NT file through the Spark text source (S4 analog:
    * predicate filter + namespace strip happen in the flatMap parser;
    * Catalyst prunes/pushes around it). */
  def readUriUriNt(spark: SparkSession, path: String, predicateFilter: String = "",
      subjNs: String = "", objNs: String = ""): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .flatMap(l => NTriples.parseUriUri(l, predicateFilter, subjNs, objNs))
      .toDF("subject", "object")
  }

  /** Load a uri-literal NT file (S5 analog). */
  def readUriLiteralNt(spark: SparkSession, path: String, predicateFilter: String = "",
      subjNs: String = ""): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .flatMap(l => NTriples.parseUriLiteral(l, predicateFilter, subjNs))
      .toDF("subject", "object", "lang")
  }

  /**
   * Stage 02: per-entity type, with the entity uri canonicalized through
   * the alias closure `canon(src, root)` (Redirects.transitiveClosure*).
   * `entityTypes(subject, object)` rows with a generic type are dropped
   * (the owl#Thing filter).
   */
  def typedEntities(entityTypes: DataFrame, canon: DataFrame,
      genericType: String = "http://www.w3.org/2002/07/owl#Thing"): DataFrame =
    entityTypes
      .filter(col("object") =!= genericType)
      .join(canon.withColumnRenamed("src", "subject"), Seq("subject"), "left_outer")
      .select(coalesce(col("root"), col("subject")).as("entity"),
        col("object").as("typeUri"))
      .distinct()

  /**
   * Stage 03: mentions joined with typed entities (shuffle join on the
   * mention target), type names broadcast (replicated join), grouped by
   * (uri, sentenceOrder) with deterministic ordering, merged into
   * `<START:typeName> … <END>` annotated sentences.
   */
  def annotatedCorpus(mentions: Dataset[Mention], typed: DataFrame,
      typeNames: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val m = mentions.toDF()
    val joined = m
      .join(typed.withColumnRenamed("entity", "target"), Seq("target"))
      .join(broadcast(typeNames), Seq("typeUri"))
      .select(col("uri"), col("sentenceOrder"), col("sentence"),
        col("begin"), col("end"), col("typeName"), col("sha256"))
    joined
      .groupBy(col("uri"), col("sentenceOrder"))
      .agg(
        first(col("sentence")).as("sentence"),
        first(col("sha256")).as("sha256"),
        // deterministic in-group order (SURVEY §2.10.4): sort by begin
        array_sort(collect_list(struct(col("begin"), col("end"), col("typeName"))))
          .as("spans"))
      .as[(String, Int, String, String, Seq[(Int, Int, String)])]
      .map { case (uri, order, sentence, sha, spans) =>
        (uri, order, TextFunctions.mergeAnnotatedChars(sentence, spans), sha)
      }
      .toDF("uri", "sentenceOrder", "annotated", "sha256")
  }

  /**
   * Per-entity occurrence-context profile — the
   * examples/ne-disambiguation-corpus pipeline
   * (02_merge_occurrence_contexts per its README: group sentence-level
   * mentions by entity, merge the occurrence sentences into one
   * context document per entity for MoreLikeThis-style similarity).
   * Deterministic ordering + size-capped merge (U3) as everywhere.
   */
  def entityContexts(mentions: Dataset[Mention], sizeLimit: Int = 100000): DataFrame = {
    val spark = mentions.sparkSession
    import org.apache.spark.sql.functions.udaf
    val capped = udaf(new graft.functions.Aggregators.CappedConcat(sizeLimit))
    mentions.toDF()
      .groupBy(col("target"))
      .agg(count(lit(1)).as("n_occurrences"),
        capped(xxhash64(col("uri"), col("sentenceOrder")), col("sentence"))
          .as("context"))
  }

  /**
   * Commonness prior P(entity | surface form) — the popularity signal
   * of the ne-disambiguation pipeline (and the core statistic of every
   * anchor-dictionary linker since Milne&Witten 2008): from
   * mention-level (surface, entity) rows, the fraction of a surface's
   * mentions that point at each candidate entity, plus the rank that
   * makes rank=1 the most-common-sense baseline linker.
   *
   * Scale shape: ONE shuffle — groupBy (surface, entity) with map-side
   * partial counts; the per-surface total and rank run as a window
   * over the aggregated relation, which is |surface × candidates|-sized
   * (vocabulary-scale, orders below the mention corpus). Top-1 linking
   * (`rank <= k` filter) triggers Spark's WindowGroupLimit partial
   * top-k before the window exchange.
   *
   * Input columns: (surface, entity). Output: (surface, entity, n,
   * prior, rank) with Σ prior = 1 per surface.
   */
  def commonnessPrior(surfaceEntity: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = surfaceEntity.groupBy(col("surface"), col("entity"))
      .agg(count(lit(1)).as("n"))
    val bySurface = Window.partitionBy(col("surface"))
    val order = Window.partitionBy(col("surface"))
      .orderBy(col("n").desc, col("entity").asc)
    counts
      .withColumn("prior", col("n").cast("double") / sum(col("n")).over(bySurface))
      .withColumn("rank", row_number().over(order))
  }

  /**
   * Most-likely entity per mention — the ne-disambiguation DECISION the
   * reference's corpora exist to train (examples/ne-disambiguation-corpus
   * builds per-entity context documents; the runtime decision combines
   * the popularity prior with context agreement). Deterministic,
   * model-free scoring: a mention of `surface` in window (doc, w)
   * scores every candidate entity e ever labeled for that surface as
   *
   *   score(e) = n(surface, e) * |W(doc, w) ∩ profile(e)|
   *
   * where n(surface, e) is the commonness COUNT (the integer numerator
   * of [[commonnessPrior]] — argmax of prior*overlap equals argmax of
   * n*overlap since the prior denominator is constant per surface, and
   * integer scoring makes the ranking engine-exact, no float ties),
   * W(doc, w) the window's distinct tokens, and profile(e) the distinct
   * tokens of every window with a labeled mention of e. Winner = max
   * score, ties to the lexicographically-first entity.
   *
   * Scale shape: `counts` and `profile` are VOCABULARY-sized (entities
   * x distinct tokens — orders below the mention corpus), so both ride
   * broadcast hash joins under AQE against the corpus-sized window
   * relations; the only corpus-scale shuffles are the distincts on
   * (doc, window, token/surface) id rows.
   *
   * Input: labeled mentions (doc_id, w, surface, entity) — one row per
   * OCCURRENCE — and window tokens (doc_id, w, token). Output: one row
   * per distinct (doc_id, w, surface): the winning entity with its
   * integer score.
   */
  def disambiguate(mentions: DataFrame, winToks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val m = mentions.persist(lvl)
    // deliberately NOT distinct'd: this is the one corpus-sized relation
    // in the chain, and a pre-dedup would be its only corpus-wide
    // shuffle — every consumer dedups anyway (profile's distinct is
    // match-sized, the overlap agg is countDistinct), so duplicate
    // window tokens only thicken the probe side of two broadcast joins
    // by the in-window repeat rate (~few %), far cheaper than shuffling
    // the whole relation once
    val wt = winToks.select(col("doc_id"), col("w"), col("token"))
      .persist(lvl)
    val counts = m.groupBy(col("surface"), col("entity"))
      .agg(count(lit(1)).as("n_se"))
    val profile = m.select(col("doc_id"), col("w"), col("entity")).distinct()
      .join(wt, Seq("doc_id", "w"))
      .select(col("entity"), col("token")).distinct()
    // candidate set per mention = every entity observed with its surface
    val cands = m.select(col("doc_id"), col("w"), col("surface")).distinct()
      .join(counts, Seq("surface"))
    val ov = cands
      .join(wt, Seq("doc_id", "w"))
      .join(profile, Seq("entity", "token"))
      .groupBy(col("doc_id"), col("w"), col("surface"), col("entity"))
      .agg(countDistinct(col("token")).as("n_overlap"))
    // zero-overlap candidates dropped by the inner chain: restore them
    val scored = cands
      .join(ov, Seq("doc_id", "w", "surface", "entity"), "left_outer")
      .withColumn("score", col("n_se") * coalesce(col("n_overlap"), lit(0L)))
    val order = Window.partitionBy(col("doc_id"), col("w"), col("surface"))
      .orderBy(col("score").desc, col("entity").asc)
    val out = scored.withColumn("rk", row_number().over(order))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("w"), col("surface"), col("entity"), col("score"))
      .localCheckpoint(true)
    m.unpersist(false)
    wt.unpersist(false)
    out
  }

  /** Full chain over a corpus + NT-file side inputs: the corpus front
    * end (Mentions.extract, Mentions.aliasEdges), the pointer-doubling
    * alias closure (log-depth joins at scale; small alias graphs take the
    * adaptive driver fast path), typing, and the annotated merge. Main's
    * `ner` stage runs the same last two steps over its committed
    * mention and closure snapshots instead. */
  def run(files: Dataset[CodeFile], dictionary: Map[String, String],
      entityTypes: DataFrame, typeNames: DataFrame): DataFrame = {
    val canon = Redirects.transitiveClosureDoubling(
      Mentions.aliasEdges(files, dictionary).toDF("src", "dst"))
    annotatedCorpus(Mentions.extract(files, dictionary),
      typedEntities(entityTypes, canon), typeNames)
  }
}
