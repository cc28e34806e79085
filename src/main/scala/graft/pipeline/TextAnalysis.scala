package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines: language-ID (n-gram/stopword
 * heuristic), quality scoring (length / stopword / distinct ratios),
 * token counting, and document fingerprinting. Everything is pure
 * Catalyst column math (codegen'd, no UDF), so filters on these scores
 * push down and the scoring pass is a single map-side stage.
 */
object TextAnalysis {

  /** Per-language marker-word lists (n-gram heuristic stand-in). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "fast", "key"),
    "es" -> Seq("order", "sort", "table"),
    "fr" -> Seq("value", "merge", "row"),
    "de" -> Seq("join", "filter", "window"),
    "zh" -> Seq("spark", "group", "query"))

  /**
   * Repetition signals (the Gopher/MassiveText repetition filters,
   * Rae et al. 2021 §A1.1, adapted to this corpus's 10-token sentence
   * windows): per document,
   *  - `dup_window_ratio`: fraction of 10-token windows whose text
   *    occurs more than once in the document (the duplicate-line
   *    fraction analog for newline-free text) — pure column math, one
   *    map-side pass, no explode;
   *  - `top_bigram_fraction` (see [[topBigramFraction]]): fraction of
   *    characters covered by occurrences of the document's most
   *    frequent word 2-gram — explode + per-doc argmax.
   */
  def dupWindowRatio(text: Column, windowTokens: Int = 10): Column = {
    val toks = split(text, " ")
    val nWin = ceil(size(toks) / lit(windowTokens.toDouble)).cast("int")
    val wins = transform(sequence(lit(0), nWin - 1),
      i => array_join(slice(toks, i * windowTokens + 1, lit(windowTokens)), " "))
    round(lit(1.0) - size(array_distinct(wins)) / size(wins).cast("double"), 4)
  }

  /** (docs with doc_id, text) -> (doc_id, top_bigram, top_bigram_fraction):
    * chars covered by the most frequent word 2-gram (count * (len+1)
    * separators included, capped at 1.0) over the doc's char length.
    * Ties broken by the lexicographically LARGEST bigram (struct max —
    * deterministic, engine-reproducible). */
  def topBigramFraction(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), length(col("text")).as("len"),
        explode(Dedup.wordShingles(col("text"), 2)).as("g"))
      .groupBy(col("doc_id"), col("len"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("c"), col("g"), col("len"))).as("top"))
      .select(col("doc_id"), col("top.g").as("top_bigram"),
        round(least(lit(1.0),
          col("top.c") * (length(col("top.g")) + 1) / col("top.len").cast("double")), 4)
          .as("top_bigram_fraction"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish subword count: ceil(len/4) per token summed (a standard
    * chars/4 token estimate). */
  def subwordCount(text: Column): Column =
    aggregate(split(text, " "), lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))

  /**
   * Quality features: token count, distinct-token ratio, stopword ratio,
   * mean token length, and a composite [0,1] score. Thresholds follow
   * the reference's CheckAbstract gate (≥30 words; CheckAbstract.java:62).
   */
  def qualityFeatures(docs: DataFrame, text: String = "text"): DataFrame = {
    val toks = split(col(text), " ")
    val stop = Seq("the", "a", "of", "and")
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("distinct_ratio", round(col("n_distinct") / col("n_tokens"), 4))
      .withColumn("stopword_ratio",
        round(size(filter(toks, t => t.isin(stop.map(s => s: Any): _*))) / size(toks).cast("double"), 4))
      .withColumn("mean_token_len",
        round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks), 4))
      .withColumn("long_enough", (size(toks) >= 30).cast("int"))
  }

  /**
   * Document fingerprint: md5 over the sorted distinct token set — a
   * canonical bag-of-words fingerprint (rolling-hash analog) that is
   * stable under token reordering.
   */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(split(text, " "))), " "))

  /**
   * Fixed-weight logistic quality classifier — the engine-native
   * stand-in for the fastText/linear quality filters every pretraining
   * pipeline runs (a trained model is just a different weight vector;
   * the plan — one map-side codegen'd projection over the feature
   * scan, filter pushdown on the verdict — is identical). Features are
   * the ROUNDED `qualityFeatures` columns, so the score is exactly
   * reproducible from the q46 feature table in any engine.
   *
   * z = -3 + 0.5·ln(n_tokens) + 3·distinct_ratio + 4·stopword_ratio
   *     − 0.2·mean_token_len;  score = 1/(1+e^−z);  keep = score ≥ 0.5.
   */
  def qualityScore(docs: DataFrame): DataFrame = {
    val f = qualityFeatures(docs)
    val z = lit(-3.0) + lit(0.5) * log(col("n_tokens").cast("double")) +
      lit(3.0) * col("distinct_ratio") + lit(4.0) * col("stopword_ratio") -
      lit(0.2) * col("mean_token_len")
    f.select(col("doc_id"),
      (lit(1.0) / (lit(1.0) + exp(-z))).as("score"))
      .withColumn("keep", (col("score") >= 0.5).cast("int"))
  }

  /**
   * Unigram-LM log-probability quality score — the engine-native
   * stand-in for CCNet's KenLM perplexity filter: score each document
   * by the mean ln P(token) under the corpus's own unigram language
   * model (docs full of rare/garbage tokens score low, template/common
   * prose scores high). Two corpus scans: one builds the LM (token →
   * count), one scores; the LM join is |vocab|-sized and aggregates
   * map-side before the shuffle. Smoothing-free by construction (every
   * scored token is in the LM — it came from the same corpus). The
   * 1-row global token total rides a SinglePartition exchange into a
   * broadcast — only |partitions| partial sums cross it, the benign
   * form of a global scalar (`graft.tools.Probe`'s audit line flags
   * it; this is the documented exception).
   *
   * Output: (doc_id, n_tok, logprob) with logprob = Σ ln(c_t/T) / n_tok.
   */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val toksOf = split(col("text"), " ")
    val tok = docs.select(col("doc_id"), explode(toksOf).as("tok"))
    val lm = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = lm.agg(sum(col("c")).as("t"))
    tok.join(lm, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        (sum(log(col("c").cast("double") / col("t"))) / count(lit(1))).as("logprob"))
  }

  /**
   * Bigram language-model quality score — one order above
   * [[unigramLogprob]] on the CCNet perplexity-filter ladder (their
   * production filter is a 5-gram KenLM; the conditional-probability
   * shape and the plan are identical at every order):
   * mean ln P(w_t | w_{t-1}) under the corpus's own bigram LM, with
   * P(w2|w1) = c(w1,w2) / c(w1,·) where c(w1,·) sums over bigram
   * CONTEXTS (so every scored bigram is in the LM — smoothing-free by
   * construction, like the unigram form).
   *
   * Scale shape: the bigram relation feeds both the LM build and the
   * scoring join, so it is persisted once; the LM and its per-context
   * totals are |observed bigrams|-sized (far below the corpus), and
   * both aggregations combine map-side before their shuffles. Docs
   * with fewer than 2 tokens have no bigrams and emit no row.
   *
   * Output: (doc_id, n_bigrams, logprob).
   */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val toksOf = split(col("text"), " ")
    val pairsCol = zip_with(
      slice(toksOf, lit(1), size(toksOf) - 1),
      slice(toksOf, lit(2), size(toksOf) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val pairs = docs.select(col("doc_id"), explode(pairsCol).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val ctx = lm.groupBy(col("w1")).agg(sum(col("c")).as("t"))
    val out = pairs.join(lm, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(log(col("c").cast("double") / col("t"))) / count(lit(1))).as("logprob"))
      .localCheckpoint(true)
    pairs.unpersist(false)
    out
  }

  /**
   * Entity co-occurrence PMI — the classic relation-extraction signal
   * a KG pipeline derives right after mention detection (which entity
   * pairs co-occur in documents more than chance): for each unordered
   * pair of dictionary surfaces appearing in the same document,
   * pmi = ln( P(a,b) / (P(a)·P(b)) ) over document frequencies.
   *
   * Scale shape: ZERO joins on corpus-sized relations — the per-doc
   * surface set (gated by the broadcast dictionary, so ≤ |dict| long;
   * for an open vocabulary cap it, same bound) expands to its ordered
   * pairs INSIDE the same scan via a nested array transform, and the
   * only shuffles are the two vocabulary-sized count aggregations.
   * (A doc_id self-join computes the same pairs but shuffles the whole
   * mention relation twice — the q39 single-scan lesson.) Marginal
   * joins broadcast.
   *
   * `nDocs` is the corpus size (denominator); pass `docs.count()` —
   * metadata-only on parquet, no scan.
   */
  def cooccurrencePmi(docs: DataFrame, surfaces: Seq[String], nDocs: Long): DataFrame = {
    val toks = split(col("text"), " ")
    val present = array_sort(array_distinct(
      filter(toks, t => t.isin(surfaces.map(s => s: Any): _*))))
    // no pre-filter: single-surface docs still count toward MARGINALS,
    // and their empty pair expansion explodes to nothing
    val surfArr = docs.select(present.as("arr"))
    val marg = surfArr.select(explode(col("arr")).as("surface"))
      .groupBy(col("surface")).agg(count(lit(1)).as("n"))
    // ordered pairs (sa < sb by the sort) expanded per doc, one scan
    val pairsArr = flatten(transform(col("arr"), (x, i) =>
      transform(slice(col("arr"), i + lit(2), size(col("arr")) - i - lit(1)),
        y => struct(x.as("sa"), y.as("sb")))))
    val pairs = surfArr.select(explode(pairsArr).as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("surface").as("sa"), col("n").as("na"))), Seq("sa"))
      .join(broadcast(marg.select(col("surface").as("sb"), col("n").as("nb"))), Seq("sb"))
      .select(col("sa"), col("sb"), col("n_ab"),
        log((col("n_ab") * nDocs).cast("double") / (col("na") * col("nb"))).as("pmi"))
  }

  /**
   * Per-group Zipf slope — the power-law exponent of the token
   * frequency-rank curve, fit by least squares over the top `topK`
   * terms of each group (language/source): the standard corpus-health
   * diagnostic (natural text sits near −1; template/boilerplate
   * corpora flatten, spam steepens — Gopher and CCNet both gate on
   * distributional shape).
   *
   * Determinism: the regression runs in FIXED-POINT — x = ⌊ln(rank)·
   * 1e6⌋ and y = ⌊ln(count)·1e6⌋ as longs, so the per-group sums
   * Σx, Σy, Σxy, Σx² are exact integers regardless of aggregation
   * order (the DSIR trick — no float-summation hash risk; magnitudes
   * stay ≤ ~5e16 ≪ 2^63 for topK ≤ 64). The slope materializes as a
   * double only in the final one-row-per-group expression, restated
   * verbatim by the oracle. Ranks are dense by (count DESC, term ASC).
   *
   * Scale shape: one explode + one (group, term) count (map-side
   * partial), a per-group WindowGroupLimit top-K, then a topK-row-per-
   * group exact-integer aggregate — vocabulary-sized shuffles only.
   *
   * Output: (group, n_terms, slope_r6) — slope rounded to 6 dp.
   */
  def zipfSlope(docs: DataFrame, groupCol: String, topK: Int = 32)
      : DataFrame = {
    require(topK >= 3 && topK <= 64, s"zipfSlope: topK=$topK outside [3, 64]")
    val tok = docs.select(col(groupCol).as("grp"),
        explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val counts = tok.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("c").desc, col("t").asc)
    val top = counts.withColumn("r", row_number().over(w))
      .filter(col("r") <= topK)
    val xfp = floor(log(col("r").cast("double")) * lit(1e6)).cast("long")
    val yfp = floor(log(col("c").cast("double")) * lit(1e6)).cast("long")
    top.select(col("grp"), xfp.as("x"), yfp.as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      // a <3-term group has a degenerate (possibly 0) denominator —
      // excluded rather than emitting an engine-specific NaN/Inf
      .filter(col("n_terms") >= 3)
      .select(col("grp"), col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))
          .cast("double"), 6).as("slope_r6"))
  }

  /**
   * Per-group KL divergence to the corpus-global unigram distribution
   * — the distribution-shift gate of a mixture recipe (a source whose
   * token distribution diverges hard from the corpus is template spam
   * or mislabeled data; DoReMi/DSIR reason in exactly these
   * log-ratios). KL(P_g ‖ P) computed EXACTLY up to the fixed-point
   * log grid: with lnfp(x) = ⌊ln(x)·1e6⌋ as longs,
   * S_g = Σ_t c_gt·(lnfp(c_gt) − lnfp(c_t)) is an exact integer
   * (aggregation-order-free — the [[zipfSlope]]/DSIR trick), and
   * KL = (S_g/T_g − lnfp(T_g) + lnfp(T)) / 1e6 materializes as a
   * double once, in a pinned expression order the oracle restates.
   * Every scored token exists globally by construction, so the ratio
   * is always finite (no smoothing needed).
   *
   * Scale: one explode, one (group, token) count (map-side partial),
   * a vocabulary-sized broadcast join, and a #groups-row aggregate.
   *
   * Range: each term is bounded by cs·ln(T)·1e6, so a LONG sum would
   * wrap silently once a group holds ≳ 9.2e18/(ln(T)·1e6) ≈ 3·10^11
   * tokens at trillion-token corpus scale — inside the advertised
   * envelope. S therefore accumulates as decimal(38,0): exact to
   * 10^38 (the DuckDB oracle's HUGEINT semantics), overflow raises
   * instead of wrapping, and the sum stays order-free.
   *
   * Output: (grp, n_tok, kl_r6).
   */
  def sourceKl(docs: DataFrame, groupCol: String): DataFrame = {
    def lnfp(c: Column): Column =
      floor(log(c.cast("double")) * lit(1e6)).cast("long")
    val tok = docs.select(col(groupCol).as("grp"),
        explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val byGrp = tok.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("cs"))
    val global = byGrp.groupBy(col("t")).agg(sum(col("cs")).as("c"))
    val tot = global.agg(sum(col("c")).as("tt"))
    byGrp.join(broadcast(global), Seq("t"))
      .groupBy(col("grp"))
      .agg(sum(col("cs")).as("ts"),
        // cs promotes to decimal BEFORE the multiply — the long
        // product itself would wrap first at extreme group sizes
        sum(col("cs").cast("decimal(20,0)") *
          (lnfp(col("cs")) - lnfp(col("c")))).as("s"))
      .crossJoin(broadcast(tot))
      .select(col("grp"), col("ts").as("n_tok"),
        round((col("s").cast("double") / col("ts").cast("double")
          - lnfp(col("ts")).cast("double") + lnfp(col("tt")).cast("double"))
          / lit(1e6), 6).as("kl_r6"))
  }

  /**
   * BM25 top-k retrieval (Robertson & Zaragoza 2009, the Lucene
   * `1 + (N−df+0.5)/(df+0.5)` IDF variant) for a FIXED query
   * workload — the benchmark-retrieval / contamination-audit shape:
   * score(D, q) = Σ_{t∈q} ln(1 + (N−df_t+0.5)/(df_t+0.5)) ·
   * tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)).
   *
   * Scale shape — deliberately NOT the explode-and-shuffle inverted
   * index: query terms are known up front, so per-doc tf for each
   * term is a fixed COLUMN (one codegen `filter` HOF per term over
   * the token array — a single map-side corpus pass, no explode, no
   * groupBy); N/avgdl/df all come from ONE 1-row aggregate (driver
   * read bounded by #terms); scoring is map-side column math against
   * literal idf constants; the only exchange is the per-query top-k
   * (row_number window → WindowGroupLimit partial top-k, ≤ k rows
   * per task). At 100 TB: one scan, k·|queries| rows out.
   *
   * Determinism: per-doc score is a FIXED-ORDER sum over the query's
   * terms (each term contributes exactly one conditional column —
   * never a shuffle-order float sum); ranking is over the ROUNDED
   * score (6 dp) with doc_id tie-break, so a sub-ulp libm divergence
   * between engines cannot flip ranks. avgdl is an exact integer sum
   * divided once. The DuckDB oracle restates every expression.
   *
   * Output: (query_id, doc_id, score_r6, rank ≤ k) for every query.
   */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      checkpoint: Boolean = true): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25TopK: queries must be non-empty")
    require(k >= 1, s"bm25TopK: k=$k must be positive")
    val terms = queries.flatMap(_._2).distinct.sorted
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("toks"), x => x === t)).as(s"tf_$i")
    }
    val tf = base.select(Seq(col("doc_id"), col("dl")) ++ tfCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val statAggs = Seq(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val st = tf.agg(statAggs.head, statAggs.tail: _*).head() // 1 bounded row
    val n = st.getAs[Long]("n")
    require(n > 0, "bm25TopK: empty corpus")
    val avgdl = st.getAs[Double]("avgdl")
    val idf = terms.indices.map { i =>
      val dfT = st.getAs[Long](s"df_$i")
      math.log(1.0 + (n.toDouble - dfT.toDouble + 0.5) / (dfT.toDouble + 0.5))
    }
    val scored = queries.map { case (qid, qterms) =>
      val sc = qterms.map { t =>
        val i = terms.indexOf(t)
        val tfc = col(s"tf_$i").cast("double")
        lit(idf(i)) * (tfc * lit(k1 + 1.0)) /
          (tfc + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
      }.reduceLeft(_ + _)
      tf.select(lit(qid).as("query_id"), col("doc_id"), sc.as("score"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
    val shaped = scored
      .withColumn("score_r6", round(col("score"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_r6"), col("rank"))
    // checkpoint=false keeps the lazy plan visible (PlanSpec inspects
    // it) at the cost of leaving tf cached for the plan's lifetime
    if (!checkpoint) return shaped
    val out = shaped.localCheckpoint(true)
    tf.unpersist(false)
    out
  }
}
