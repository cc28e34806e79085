package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus curation operators for training-data pipelines — the steps
 * between raw corpus and training shards that the reference never
 * needed (its output was an NLP corpus for model *evaluation*) but a
 * 100 TB pretraining pipeline runs on every document:
 *
 *  - deterministic sampling and train/val/test splitting (hash-bucket,
 *    no RNG: the same document lands in the same split on every engine,
 *    every run, every cluster size — an md5 prefix is the bucket, so
 *    the split is reproducible in any system that can md5);
 *  - pattern-based secret/PII redaction (leftmost non-overlapping
 *    regex, count + redacted-content hash per doc);
 *  - boilerplate detection: corpus-wide duplicate-chunk ratio per doc
 *    (the CCNet/Gopher repetition-filter shape: chunk → hash → global
 *    frequency → join back);
 *  - benchmark-contamination checking: corpus docs sharing n-gram
 *    shingles with a (small, broadcast) benchmark set.
 *
 * Scale notes: sampling/split/redaction are pure map-side column math
 * (one codegen'd pass, filters push down). Boilerplate is one explode +
 * one groupBy(hash) + one join back on the chunk hash — at corpus scale
 * the chunk-frequency relation is the big shuffle; it aggregates
 * map-side first. Contamination broadcasts the benchmark shingle set
 * (the replicated-join pattern, ner-corpus/03_…pig:22).
 */
object Curation {

  /** Hex bucket (2 chars, 256 buckets) of a seeded md5 over a key —
    * the deterministic sampling primitive. */
  def hashBucket(key: Column, seed: String = ""): Column =
    substring(md5(concat(lit(seed), key.cast("string"))), 1, 2)

  /**
   * Deterministic train/val/test split + independent sample flag.
   * Thresholds are on the 256-bucket hex space: <= "cc" (205/256 ≈ 80%)
   * train, <= "e5" (+25/256 ≈ 10%) val, else test; `sampled` uses an
   * independent seeded hash (< "03" ≈ 1.2%).
   */
  def splitAssign(docs: DataFrame, key: String = "doc_id"): DataFrame = {
    val h = hashBucket(col(key))
    docs
      .withColumn("split",
        when(h <= "cc", "train").when(h <= "e5", "val").otherwise("test"))
      .withColumn("sampled",
        (hashBucket(col(key), "s:") < "03").cast("int"))
  }

  /** Per-(split, lang) counts — the shard-manifest summary. */
  def splitSummary(docs: DataFrame): DataFrame =
    splitAssign(docs)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sampled")).as("n_sampled"))

  /**
   * Deterministic MIXTURE sampling — resample a multi-source corpus to
   * TARGET source proportions (the Pile / DoReMi domain-reweighting
   * step of a pretraining recipe): given target weights w_s, the
   * largest feasible downsample-only output is N = min_s n_s/w_s (no
   * source is repeated/upsampled), so source s keeps rate
   * r_s = N·w_s/n_s of its documents — chosen by a seeded md5 hash
   * threshold over 65536 buckets, the [[hashBucket]] convention at 4
   * hex chars. Reproducible on any engine and any cluster size, and a
   * document's keep/drop never depends on other documents: after the
   * per-source rate lookup (a #sources-row broadcast) the filter is
   * pure map-side column math.
   *
   * The per-source counts are one aggregate collected to the driver —
   * source catalogs are metadata-sized (a 100 TB corpus has dozens of
   * sources, not millions). Weights for sources absent from the corpus
   * are ignored; corpus sources with no weight are dropped (weight 0).
   *
   * UPSAMPLING (`targetN = Some(N)`): DoReMi-style reweighting
   * routinely asks for MORE of a rare high-quality source than it has
   * (epochs > 1); with an explicit target size the per-source rate
   * r_s = N·w_s/n_s may exceed 1, realized deterministically as
   * ⌊r_s⌋ integer replicas of every document (an exploded `rep`
   * column 0..⌊r_s⌋−1, the training-copy index) plus one extra
   * replica iff the document's seeded md5 threshold draw falls below
   * the fractional remainder — the same 65536-bucket hash family, so
   * E[out_s] = N·w_s exactly, every engine and cluster size replays
   * the identical replica set, and a document's copies never depend
   * on other documents (map-side after the #sources-row broadcast).
   * With `targetN = None` the output is the downsample-only maximum
   * (N = min_s n_s/w_s, no rep column — no row is ever repeated).
   *
   * `keyCol` selects the mixture key (default the `source` column —
   * any metadata-cardinality string column works, e.g. `lang`).
   */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      seed: String = "mix:", targetN: Option[Long] = None,
      keyCol: String = "source"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0.0),
      "mixtureSample: weights must be positive")
    require(targetN.forall(_ > 0), s"mixtureSample: targetN must be positive")
    val counts = docs.groupBy(col(keyCol).as("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weights.filter { case (s, _) => counts.contains(s) }
    require(present.nonEmpty,
      "mixtureSample: no weighted source present in the corpus")
    val spark = docs.sparkSession
    val h4 = conv(substring(md5(concat(lit(seed), col("doc_id").cast("string"))),
      1, 4), 16, 10).cast("long")
    targetN match {
      case None =>
        val nTarget = present.map { case (s, w) => counts(s) / w }.min
        val rows = present.toSeq.sortBy(_._1).map { case (s, w) =>
          org.apache.spark.sql.Row(s,
            math.floor(math.min(1.0, nTarget * w / counts(s)) * 65536.0).toLong)
        }
        val thr = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(keyCol,
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("thr",
              org.apache.spark.sql.types.LongType, nullable = false))))
        docs.join(broadcast(thr), Seq(keyCol))
          .filter(h4 < col("thr"))
          .drop("thr")
      case Some(n) =>
        // rate = N·w/n_s; whole part = integer replicas, fractional
        // part = one seeded-threshold replica. The rate arithmetic is
        // (N.toDouble * w) / n_s in THIS order — the DuckDB oracle
        // restates the identical IEEE expression
        val rows = present.toSeq.sortBy(_._1).map { case (s, w) =>
          val rate = n.toDouble * w / counts(s)
          val whole = math.floor(rate)
          org.apache.spark.sql.Row(s, whole.toInt,
            math.floor((rate - whole) * 65536.0).toLong)
        }
        val parts = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(keyCol,
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("whole",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("thr",
              org.apache.spark.sql.types.LongType, nullable = false))))
        docs.join(broadcast(parts), Seq(keyCol))
          .withColumn("_ncopies",
            col("whole") + when(h4 < col("thr"), 1).otherwise(0))
          // sequence() steps DOWNWARD for a negative span — filter the
          // zero-copy rows out before it can fabricate replicas
          .filter(col("_ncopies") > 0)
          .withColumn("rep", explode(sequence(lit(0), col("_ncopies") - 1)))
          .drop("whole", "thr", "_ncopies")
    }
  }

  /**
   * Temperature-scaled mixture sampling — the multilingual α-smoothing
   * recipe (XLM, mBERT, mT5: sample language/source s with probability
   * ∝ n_s^α): α = 1 keeps natural proportions, α → 0 approaches
   * uniform, the standard 0.3–0.7 band boosts low-resource keys
   * without drowning the head. Weights are DERIVED from the corpus
   * (w_s = n_s^α / Σ_t n_t^α over the per-key counts — the same
   * metadata-sized driver aggregate [[mixtureSample]] already takes)
   * and realized by [[mixtureSample]]'s exact-N replica machinery, so
   * rare keys upsample with integer replicas + one seeded fractional
   * extra and the whole draw is engine/cluster-size reproducible.
   *
   * The normalizer Σ_t n_t^α is a LEFT FOLD over keys in ascending
   * key order — pinned so the DuckDB oracle (an ordered list_sum) and
   * any re-implementation reproduce the identical IEEE double.
   */
  def temperatureMixture(docs: DataFrame, keyCol: String, alpha: Double,
      total: Long, seed: String = "mix:"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperatureMixture: alpha=$alpha outside (0, 1]")
    require(total > 0, s"temperatureMixture: total=$total must be positive")
    val counts = docs.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperatureMixture: empty corpus")
    val pow = counts.toSeq.sortBy(_._1)
      .map { case (k, n) => k -> math.pow(n.toDouble, alpha) }
    val z = pow.map(_._2).foldLeft(0.0)(_ + _)
    val weights = pow.map { case (k, p) => k -> p / z }.toMap
    mixtureSample(docs, weights, seed, Some(total), keyCol)
  }

  /**
   * Deterministic weighted sampling WITHOUT replacement (Efraimidis &
   * Spirakis 2006, the A-ES / exponential-clocks scheme): document i
   * draws u_i uniform from a seeded md5 on the 65536-grid
   * (u = (h4+1)/65536 ∈ (0,1]) and gets key ln(u_i)/w_i; the k
   * LARGEST keys are distributed exactly as a sequential
   * probability-∝-weight draw without replacement (keys are
   * -Exp(w_i) clocks — the classic proof). The pretraining use:
   * quality- or length-weighted corpus subsetting where the fixed-rate
   * mixture/stratified samplers can't express per-document weights.
   *
   * Deterministic and engine/cluster-size independent: the draw is a
   * pure function of (seed, doc_id, weight). Documents with
   * non-positive weight are excluded (zero probability).
   *
   * Scale shape: scoring is one map-side codegen pass (no UDF, no
   * shuffle); selection is TakeOrderedAndProject — each task ships at
   * most k rows, so a 100 TB corpus moves k rows per partition and
   * never sorts globally. Ties (same key) break by doc_id.
   */
  def weightedSample(docs: DataFrame, weight: Column, k: Int,
      seed: String = "ws:"): DataFrame = {
    require(k >= 1, s"weightedSample: k=$k must be positive")
    val h4 = conv(substring(md5(concat(lit(seed), col("doc_id").cast("string"))),
      1, 4), 16, 10).cast("long")
    val key = log((h4 + lit(1)).cast("double") / lit(65536.0)) /
      weight.cast("double")
    docs.filter(weight.cast("double") > 0.0)
      .withColumn("es_key", key)
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
      .drop("es_key")
  }

  /**
   * Deterministic STRATIFIED sample: up to `perStratum` docs per
   * stratum (e.g. per language — the balanced-mix step of a training
   * recipe), selected by rank over a seeded hash so the pick is
   * engine/run/cluster-size independent and stable under corpus
   * APPENDS of new strata. One shuffle on the stratum key; the window
   * ranks within strata only (never a global sort), and Catalyst's
   * WindowGroupLimit rewrite runs it as a map-side partial top-k per
   * stratum before the exchange (plan-asserted), so a billion-row
   * stratum ships at most k rows per map task — no single-reducer
   * stratum sort. Top-rank-by-hash is a uniform random sample
   * conditional on the hash being a PRF — the same argument as
   * hash-bucket splitting.
   */
  def stratifiedSample(docs: DataFrame, stratumCol: String, perStratum: Int,
      keyCol: String = "doc_id", seed: String = "strat:"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat(lit(seed), col(keyCol).cast("string"))).asc,
        col(keyCol).asc)
    docs.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= perStratum)
      .drop("_rk")
  }

  /** Default stand-in secret patterns (word-boundary token classes; in
    * a real code corpus these are key/token/credential formats). */
  val SecretPattern = "\\b(key|hash|customer)\\b"

  /**
   * Pattern redaction: count matches and emit the redacted text's hash
   * (the content invariant AFTER scrubbing). One map-side pass,
   * codegen'd regex — no UDF.
   */
  def redact(docs: DataFrame, pattern: String = SecretPattern,
      replacement: String = "[REDACTED]"): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
        .cast("long").as("n_secrets"),
      md5(regexp_replace(col("text"), pattern, replacement)).as("redacted_hash"))

  /** Non-overlapping chunks of up to `n` tokens, by one greedy regex
    * global match — engine-agnostic segmentation (identical in RE2 and
    * Java regex; no lateral/posexplode index math needed). */
  def tokenChunks(text: Column, n: Int): Column =
    regexp_extract_all(text, lit(s"[^ ]+( [^ ]+){0,${n - 1}}"), lit(0))

  /**
   * Boilerplate score: per doc, the fraction of its chunks whose hash
   * occurs in more than one document corpus-wide.
   */
  def boilerplate(docs: DataFrame, chunkTokens: Int = 5): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), explode(tokenChunks(col("text"), chunkTokens)).as("c"))
      .select(col("doc_id"), md5(col("c")).as("h"))
    val freq = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        round(col("n_dup_chunks") / col("n_chunks"), 4))
  }

  /**
   * Sequence packing: assign documents (in a deterministic global
   * order) to fixed-token-budget training shards — shard id =
   * floor(running-token-sum-before-this-doc / budget). Computed as a
   * SCALE-CORRECT distributed prefix sum: range-partition on the order
   * key, per-partition token totals collect to the driver (one row per
   * partition), cumulative base offsets broadcast back, and the
   * within-partition running sum is a window partitioned by partition
   * id — no global single-partition window ever materializes. The
   * result is independent of the partitioning (offsets restore the
   * global order), so it equals the naive one-window formulation that
   * oracles it.
   */
  def packShards(docs: DataFrame, budgetTokens: Long = 256L,
      orderCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    // eager localCheckpoint, not persist: same reuse (totals pass +
    // final pass read the materialized blocks, partition ids stay
    // frozen), but the blocks are ContextCleaner-collected when the
    // result is dropped instead of leaking into a shared session
    val sized = docs
      .select(col(orderCol), TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .repartitionByRange(parts, col(orderCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    val totals = sized.groupBy(col("_pid")).agg(sum(col("n")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // base offset of partition p = sum of totals of partitions before it
    val baseOf = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _)).toMap
    // map-literal lookup (typedLit + element_at) stays inside codegen —
    // a Scala UDF here would fence the projection out of WholeStageCodegen
    val baseLit = typedLit(baseOf)
    val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
    sized
      .withColumn("_cum",
        coalesce(element_at(baseLit, col("_pid")), lit(0L)) + sum(col("n")).over(w))
      .select(col(orderCol), col("n").as("n_tokens"),
        floor((col("_cum") - col("n")) / budgetTokens).cast("long").as("shard_id"))
  }

  /**
   * Contamination: for each corpus doc, the number of distinct n-gram
   * shingles it shares with the benchmark set. The benchmark shingle
   * set is small by definition → broadcast semi-side.
   */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      shingleWords: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(Dedup.wordShingles(col("text"), shingleWords)).as("s"))
      .distinct()
    val corpusShingles = corpus
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), shingleWords)).as("s"))
    corpusShingles.join(broadcast(benchShingles), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_shared_shingles"))
  }

  /**
   * Per-source quality prior — the domain-level filter table of
   * CCNet/RefinedWeb-style pipelines: web-scale curation decides
   * keep/downsample per SOURCE (domain) before touching individual
   * documents. Emits, per source: doc count, token totals/mean, and
   * the exact-duplicate rate (fraction of this source's docs whose
   * content hash appears more than once corpus-wide — a high rate
   * marks mirror/boilerplate domains).
   *
   * Scale shape: one corpus scan computes (source, content-hash,
   * token count); the only big shuffle is the hash-frequency groupBy
   * on a 16-byte key (identical to q40's exact-dedup groupBy — on a
   * shared pipeline the two stages reuse one hash-frequency relation); the
   * per-source rollup output is |sources|-sized, orders below the
   * corpus.
   */
  def sourceStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"), md5(col("text")).as("h"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val freq = base.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    base.join(freq, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        round(avg(col("n_tok")), 4).as("mean_tokens"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_rate", round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
  }

  /**
   * CCNet-style quality stratification (Wenzek et al. 2020: rank every
   * document by LM score WITHIN its language and cut head/middle/tail
   * terciles) — the standard recipe for keeping the best slice of a
   * crawl per language while preserving cross-language balance.
   *
   * Deterministic across engines: the score is rounded to 6 places
   * BEFORE ranking (the q83 discipline) and ties break by doc_id, so
   * the tile assignment is unique. Scale shape: the window sorts only
   * (doc_id, lang, score) per language — an id+score relation, exactly
   * what a 100 TB CCNet pass shuffles; the score itself is
   * [[TextAnalysis.unigramLogprob]] (map-side-combined corpus aggs).
   * Swap in [[TextAnalysis.bigramLogprob]] (or a real KenLM column)
   * for higher-order scoring — the stratification plan is identical.
   */
  def ccnetBuckets(docs: DataFrame, buckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.unigramLogprob(docs)
      .select(col("doc_id"), round(col("logprob"), 6).as("lp_r6"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lp_r6").desc, col("doc_id").asc)
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"))
      .withColumn("bucket", ntile(buckets).over(w))
  }

  /** Number of hashed-feature buckets for [[dsirSelect]]: the md5
    * two-hex-char prefix space (the [[hashBucket]] family). */
  val DsirBuckets = 256

  /**
   * DSIR data selection (Xie et al. 2023, "Data Selection for Language
   * Models via Importance Resampling"): score every raw document by
   * its hashed-n-gram importance weight against a TARGET distribution
   * (here hashed unigrams — the paper's hashed-feature reduction with
   * n = 1), keep the top `k`.
   *
   *   score(x) = Σ_tokens [ ln p̂_target(bucket) − ln p̂_raw(bucket) ]
   *
   * with +1-smoothed bucket counts over the 256-bucket md5-prefix
   * space. Each per-bucket log-ratio is FIXED-POINT (floor(·1e6) as a
   * long) so the per-document Σ is an integer sum — partition-order
   * independent, no float-summation hash risk; the only floats are the
   * 256 per-bucket `ln` evaluations, computed once and restated
   * verbatim by the oracle (the q80 ln discipline).
   *
   * Scale shape: bucket counts are two map-side-combined 256-row
   * aggregates (one corpus pass); the 256-entry log-ratio table is a
   * driver-bounded collect folded into a MAP LITERAL, so scoring is a
   * zero-shuffle map-side `aggregate` over each document's own tokens;
   * selection is orderBy+limit — TakeOrdered, a map-side partial
   * top-k, never a global sort materialization. At 100 TB: one scan
   * for counts, one scan for scoring, k rows out.
   *
   * `target` marks the target subcorpus (a Column predicate over
   * `docs`' columns, e.g. lang = 'en'); target ⊆ raw keeps every
   * scored bucket present in the raw counts.
   */
  def dsirSelect(docs: DataFrame, target: Column, k: Int,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"dsirSelect: k=$k must be positive")
    val b = DsirBuckets
    val tokb = docs
      .select(col("doc_id"), target.as("is_t"),
        explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "")
      .select(col("is_t"), substring(md5(col("t")), 1, 2).as("bk"))
    val counts = tokb.groupBy(col("bk")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    // ln term order matters for IEEE equality with the oracle:
    // ((ln(ct+1) − ln(cr+1)) − ln(tt+B)) + ln(tr+B)
    val totals = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val lfp = counts.crossJoin(broadcast(totals))
      .select(col("bk"),
        floor((log(col("ct") + 1) - log(col("cr") + 1)
          - log(col("tt") + b) + log(col("tr") + b)) * 1e6)
          .cast("long").as("l_fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤256 rows
    val lmap = typedlit(lfp)
    val toks = filter(split(col(textCol), " "), w => w =!= "")
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        aggregate(toks, lit(0L),
          (acc, t) => acc + element_at(lmap, substring(md5(t), 1, 2)))
          .as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(k)
  }
}
