package graft.pipeline

import graft.core.CodeFile
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Mention-triple construction: parse -> mentions -> alias-closure
 * resolution -> distinct (subj, obj). The shared core of the bench
 * pipeline, the spark-submit Main, and the P/R harness.
 */
object Triples {

  /** `recoverStraddlers` opts into the overlap-window segmenter
    * (Segmenter.sentencesWithMentions): default keeps reference
    * containment parity (R ≈ 0.988 on the bench corpus — the
    * window-straddling loss, accounted exactly in CodeParserSpec);
    * opt-in recovers those mentions (P stays 1.0, R ≥ 0.995). */
  def mentionTriples(files: Dataset[CodeFile], dict: Map[String, String],
      recoverStraddlers: Boolean = false): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._

    // log-depth doubling closure over the corpus's alias edges (scale
    // default; small alias graphs take the adaptive driver fast path,
    // identical output). Re-scanning the columnar source for the alias
    // prefilter costs one cheap vectorized decode pass; persisting the
    // full parsed corpus to share a single pass costs far more in memory
    // traffic and pins the map chain to the persist's partitioning —
    // measured slower at every parallelism.
    val canon = Redirects.transitiveClosureDoubling(
      Mentions.aliasEdges(files, dict).toDF("src", "dst"))

    // Mention emission: one fused persist-free stage —
    // scan → parse → segment → project(uri, target) → partial distinct —
    // writing directly into the final distinct's shuffle. Alias files
    // emit no mentions (parser skips the dictionary scan on them).
    // Not Mentions.extract: this is graft.Bench's throughput path, and
    // routing it through extract would add `recoverStraddlers` there.
    val dictB = spark.sparkContext.broadcast(dict)
    val mentions = files.flatMap { f =>
      val p = graft.parse.CodeParser.parse(f, dictB.value)
      if (p.aliasTarget.isDefined) Iterator.empty[(String, String)]
      else graft.parse.Segmenter
        .sentencesWithMentions(p, recoverStraddlers = recoverStraddlers)
        .iterator.map(m => (m.uri, m.target))
    }.toDF("uri", "target")

    mentions
      .join(canon.withColumnRenamed("src", "target"), Seq("target"), "left_outer")
      .select(col("uri").as("subj"),
        coalesce(col("root"), col("target")).as("obj"))
      .distinct()
  }

  /**
   * The PRODUCTION mentions⋈canon linking join with explicit skew
   * control (north rule: "salted repartition joins for skewed
   * popular-entity linking") — the composition Main's 04_triples stage
   * runs: one Misra-Gries sketch pass over the mention targets finds
   * the ubiquitous surface forms (a single aggregation returning ≤
   * `sketchK` strings — never a corpus-wide groupBy of all keys), and
   * exactly those keys are spread over `salts` tasks via
   * [[Skew.saltedJoinHotKeys]]; the cold majority joins plainly.
   * Result is IDENTICAL to the plain left-outer join (ResilienceSpec
   * asserts it); sketch false positives only salt a cold key — a few
   * extra replicated rows, never a wrong row.
   *
   * When `canon` is broadcast-small, AQE broadcasts both branches and
   * salting is a no-op by construction; the hot-key path is what keeps
   * this stage alive once the canonical-entity table outgrows the
   * broadcast threshold (billions of entities at 10^12-file scale,
   * where one ubiquitous surface form would otherwise pin one reducer).
   *
   * Input: mentions with at least (uri, target, ...), canon (src, root).
   * Output: every mention column plus `obj` = canonicalized target.
   */
  def linkCanonical(mentions: DataFrame, canon: DataFrame, salts: Int = 8,
      sketchK: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val mg = udaf(new graft.functions.Aggregators.MisraGries(sketchK))
    val hot = mentions.filter(col("target").isNotNull)
      .agg(mg(col("target"))).head().getSeq[String](0)
    Skew.saltedJoinHotKeys(
        mentions, canon.withColumnRenamed("src", "target"), "target",
        hot, salts, saltSource = col("uri"), joinType = "left_outer")
      .withColumn("obj", coalesce(col("root"), col("target")))
      .drop("root")
  }

  /** Precision/recall of a got-vs-want triple set (the north rule's
    * P/R>=0.95 criterion, computed distributed — no driver collect). */
  def precisionRecall(got: DataFrame, want: DataFrame): (Double, Double) = {
    val g = got.select("subj", "obj").distinct().cache()
    val w = want.select("subj", "obj").distinct().cache()
    val inter = g.join(w, Seq("subj", "obj"), "left_semi").count().toDouble
    val (ng, nw) = (g.count(), w.count())
    g.unpersist(); w.unpersist()
    (if (ng == 0) 0.0 else inter / ng, if (nw == 0) 0.0 else inter / nw)
  }
}
