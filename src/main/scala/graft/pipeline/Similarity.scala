package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>`). Brute-force cosine top-k is the exact baseline; the
 * scale path is sign-bit LSH bucketing (random-hyperplane style with a
 * deterministic projection), which turns the O(n·m) cross join into a
 * bucket-partitioned join.
 *
 * All vector math is native codegen'd Catalyst (`FloatDotExpr` /
 * `FloatNormExpr` tight loops), no UDF in the hot path. The
 * relational `aggregate(zip_with(...))` form is semantically identical
 * but higher-order functions are CodegenFallback — an interpreted
 * expression tree per element in the innermost pair loop (measured
 * ~6x slower at 2M x 64-dim; bit-equality asserted in ExpressionsSpec).
 */
object Similarity {

  /** Dot product of two array<float|double> columns (double math,
    * codegen tight loop — see FloatDotExpr). */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot(a, b)

  /** L2 norm of an array column (codegen — see FloatNormExpr). */
  def norm(a: Column): Column =
    graft.functions.GraftFunctions.vec_norm(a)

  /** Cosine of `a`, `b` given their norms `na`, `nb`; 0 for zero vectors.
    * Every pair search projects the norms per SIDE before its pair join
    * and scores with this (why: [[bruteForceTopK]]). */
  private[graft] def cosFromNorms(a: Column, na: Column, b: Column, nb: Column): Column =
    when(na * nb === 0, lit(0.0)).otherwise(dot(a, b) / (na * nb))

  /** Per-probe top-k of a scored (probe_id, cand_id, cos, ...) relation:
    * cosine descending, ties to the smaller cand_id; adds `rank`. */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("cand_id").asc)))
      .filter(col("rank") <= k)

  /**
   * Exact top-k by cosine: probes × corpus (corpus side broadcast when
   * probes are the large side; here probes are few, so broadcast probes
   * and stream the corpus — one pass, no shuffle except the final
   * per-probe top-k aggregation).
   *
   * Norms are precomputed per SIDE before the pair join — `cosine(a,b)`
   * inline would recompute both norms once per PAIR (|P|x|C| times
   * instead of |P|+|C|), tripling the vector math in the hot loop.
   */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pv"), norm(col("embedding")).as("pn")))
    val c = corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    topKPerProbe(c.join(p, col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        cosFromNorms(col("pv"), col("pn"), col("cv"), col("cn")).as("cos")), k)
  }

  /** Fixed seed of the random-projection family: every signer and every
    * searcher of the same index MUST share it (the same family-match
    * discipline as Dedup's md5-vs-xxhash64 flag); the DuckDB oracles
    * restate the seeded arithmetic with this constant inlined. */
  val ProjSeed: Long = 20260817L

  /**
   * Seeded random-projection sign bucket: `bits` Rademacher (±1)
   * hyperplanes drawn deterministically from [[ProjSeed]], bit j =
   * sign of the projection onto hyperplane `first + j` — a true
   * random-hyperplane SimHash family (Charikar 2002), evaluated by the
   * codegen `RandProjBitsExpr` (one tight loop per row; the hyperplane
   * entries are recomputed from 3 integer ops each, cheaper than
   * loading a broadcast matrix at these widths).
   *
   * Every bit mixes ALL embedding dimensions, so bucket recall
   * survives anisotropic real-world embeddings (correlated dimensions,
   * leading dims carrying no cluster signal) where an axis-aligned
   * sign family silently degrades — PipelineSpec measures the gap on
   * correlated planted clusters. `first` selects the hyperplane block
   * (band b passes b*bits, making bands independent families);
   * hyperplane indices are unbounded by the embedding dimension.
   */
  def signBucket(emb: Column, bits: Int, first: Int = 0): Column =
    graft.functions.GraftFunctions.rproj_bits(emb, first, bits, ProjSeed)

  /** The pre-round-4 axis-aligned stand-in (sign pattern of dimensions
    * [first, first+bits)) — kept ONLY as the comparison baseline for
    * PipelineSpec's anisotropic-recall test; production paths use the
    * seeded family above. */
  private[graft] def axisSignBucket(emb: Column, bits: Int, first: Int = 0): Column =
    array_join(transform(slice(emb, first + 1, bits),
      v => when(v >= 0, lit("1")).otherwise(lit("0"))), "")

  /**
   * Multi-band sign-LSH keys: `bands` hash tables, band b keyed by the
   * sign pattern of seeded hyperplanes [b*bits, (b+1)*bits) (disjoint
   * hyperplane blocks = independent families). Two vectors are
   * candidates if ANY band matches — per-band collision probability
   * for vectors at angle θ is (1-θ/π)^bits, and the union over bands
   * lifts recall geometrically while each band's bucket population
   * stays n/2^bits.
   *
   * Scale tuning (the two knobs move independently): `bits` controls
   * in-bucket population (the O(n²/2^bits) verify cost per band) —
   * 8 bits fits demo/small corpora, 16+ bits for web-scale near-dup
   * (n/65k per bucket); `bands` buys back the recall that finer
   * buckets cost — at cos≥0.95 duplicates, 16 bits x 8 bands gives
   * ~0.97 candidate recall (asserted against planted clusters in
   * PipelineSpec). Hyperplanes are GENERATED from [[ProjSeed]], not
   * sliced from the embedding, so bits*bands is NOT bounded by the
   * embedding dimension — wider corpora simply use more hyperplanes.
   */
  def signBandKeys(emb: Column, bits: Int, bands: Int): Column = {
    require(bits > 0 && bands > 0, s"signBandKeys: bits=$bits bands=$bands must be positive")
    Dedup.bandTagged(bands)(b => signBucket(emb, bits, first = b * bits))
  }

  /** Sign-LSH SEARCH bucket sizing: smallest `bits` with 2^bits ≥ n/8
    * (≈8 vectors per bucket per band, so each band's verify join is
    * O(8·n)), clamped to [4, 16] (16 bits × 4 bands = 64 = the dim
    * cap here; beyond n ≈ 512k per 8-pop bucket, raise `bands` on a
    * wider embedding — same plan). The 1e-9 guard pins exact powers of
    * two identically across IEEE engines; the q44/q53 DuckDB oracles
    * restate this formula. */
  def signLshAutoBits(n: Long): Int =
    math.max(4, math.min(16,
      math.ceil(math.log(math.max(n, 1L) / 8.0) / math.log(2.0) - 1e-9).toInt))

  /**
   * Candidate pairs from the banded sign-LSH: distinct (id_a, id_b)
   * sharing at least one band bucket, id_a < id_b, with exact cosine.
   * The near-dup feeder: follow with a threshold filter (or feed the
   * pairs to connectedComponents for canonical-doc election).
   * `bits = 0` (default) derives bucket granularity from the corpus
   * ([[signLshAutoBits]]) so per-bucket population stays ~constant as
   * the corpus grows instead of degrading toward O(n²/2^bits).
   *
   * NOTE: auto-sizing runs an EAGER `count()` of `vecs` before the
   * plan is built — free on a parquet-backed frame (metadata-only) but
   * a full recompute of an uncached derived lineage, and an error on a
   * streaming frame. Callers who know the cardinality pass `n` to skip
   * the extra action (same option on [[semDedup]] / [[lshTopK]]).
   */
  def signLshPairs(vecs: DataFrame, bits: Int = 0, bands: Int = 4,
      n: Long = -1L, maxBucketSize: Long = 0L): DataFrame = {
    val bb = if (bits > 0) bits
      else signLshAutoBits(if (n >= 0) n else vecs.count())
    signLshPairsWithBits(vecs, bb, bands, maxBucketSize)
  }

  private def signLshPairsWithBits(vecs: DataFrame, bits: Int, bands: Int,
      maxBucketSize: Long = 0L): DataFrame = {
    val allKeyed = vecs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      explode(signBandKeys(col("embedding"), bits, bands)).as("bucket"))
    // optional hot-bucket cap (maxBucketSize > 0): auto-sizing fixes
    // the EXPECTED per-bucket population (~8/√n), but a template-family
    // corpus drops m near-identical vectors into ONE bucket and the
    // band join pays O(m²) pair rows — the exact skew shape
    // Dedup.simhashCandidates already caps in the text tier. Buckets
    // past the cap are dropped as non-discriminative (pairs in rare
    // buckets are untouched, and a pair can still surface through its
    // other bands); run EXACT dedup first so verbatim-duplicate
    // families never reach the banding. Off by default — with the cap
    // on the result is a deliberate subset, so cap mode persists the
    // keyed relation (it feeds the count AND both join sides) and
    // checkpoints the ids-only output eagerly.
    // cosine computed BEFORE the dedup: a pair matching in k bands costs
    // k cheap vector ops map-side, and the dedup shuffle then carries
    // only (id, id, cos) — deduping first would drag the embedding
    // arrays themselves through the exchange
    def pairs(keyed: DataFrame): DataFrame =
      Dedup.bandPairs(Dedup.capBuckets(keyed, maxBucketSize), "vec_id",
          Seq(col("embedding").as("ea"), col("nrm").as("na")),
          Seq(col("embedding").as("eb"), col("nrm").as("nb")))
        .select(col("id_a"), col("id_b"),
          cosFromNorms(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("cos")).as("cos")) // identical across band matches
    if (maxBucketSize <= 0L) pairs(allKeyed) else Dedup.searchOnce(allKeyed)(pairs)
  }

  /**
   * IVF-style ANN: assign every vector to its nearest of ~`kCentroids`
   * FIXED seed centroids (k independent of corpus size — assignment is
   * an O(n*k) broadcast pass, never O(n²/c)); each probe searches the
   * `nprobe` cells nearest to IT (nprobe > 1 buys recall at cell-count
   * cost, the standard IVF knob), exact cosine + top-k inside.
   * Centroids are the corpus vectors at id stride n/k (deterministic,
   * engine-agnostic, and SPREAD across the id space — the
   * [[semDedupKMeans]] seeding convention; the first-k prefix used
   * before round 4 is biased on any corpus whose ids correlate with
   * content, e.g. time- or crawl-ordered ingestion); `centIters > 0`
   * Lloyd-refines them ([[ivfCentroids]]) — identical search plan,
   * data-adapted cells. `n` skips the
   * eager corpus count when the cardinality is known (see
   * [[signLshPairs]]; on a parquet-backed frame the count is
   * metadata-only).
   */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      kCentroids: Int = 16, nprobe: Int = 1, n: Long = -1L,
      centIters: Int = 0): DataFrame = {
    val nn = if (n >= 0) n else corpus.count()
    val cents = ivfCentroids(corpus, kCentroids, nn, centIters)
    def cells(vecs: DataFrame, n: Int): DataFrame = ivfCells(vecs, cents, n)
    val cands = cells(corpus, 1)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        norm(col("embedding")).as("cn"), col("cell"))
    val p = cells(probes, nprobe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        norm(col("embedding")).as("pn"), col("cell"))
    // no dedup needed: each candidate is assigned to exactly ONE cell,
    // so (probe, cand) appears once even at nprobe > 1 — a defensive
    // dropDuplicates here would add a whole shuffle for a no-op
    topKPerProbe(p.join(cands, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        cosFromNorms(col("pv"), col("pn"), col("cv"), col("cn")).as("cos")), k)
  }

  /** Broadcast centroid set: the corpus vectors at id stride n/k (the
    * deterministic spread sample shared by [[ivfTopK]] /
    * [[semDedupKMeans]] / [[pqTopK]] / [[ivfPqTopK]]). */
  private def strideCentroids(corpus: DataFrame, kCentroids: Int,
      nn: Long): DataFrame = {
    val stride = math.max(1L, nn / kCentroids)
    broadcast(corpus.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv")))
  }

  /**
   * `iters` Lloyd rounds over a coarse IVF centroid set — the
   * [[refinePqCodebook]] analog for the CELL quantizer: assign every
   * corpus vector to its nearest current centroid (the broadcast
   * O(n·k) [[ivfCells]] pass), recompute each occupied cell's centroid
   * as the exact per-dimension mean, and keep the SEED vector for any
   * cell left empty (a centroid never vanishes, so `kCentroids` and
   * every downstream `nprobe` contract hold across rounds — unlike
   * [[semDedupKMeans]]'s inline loop, where an emptied cell dropping
   * out is acceptable because cells are only a pairing heuristic
   * there). Each round costs one posexplode shuffle of n·dim
   * (cell, pos, value) rows plus the assignment pass — the same
   * data-quality/shuffle trade documented on [[semDedupKMeans]], so
   * refinement is opt-in everywhere (default 0 = the stride seeds).
   * The mean uses distributed `avg`, so refined centroids are NOT
   * bit-reproducible across partitionings (floating accumulation
   * order); with refinement on, assert recall/objective, not hashes —
   * the oracle-checked query defaults stay on the seed path.
   */
  private def lloydCentroids(corpus: DataFrame, cents0: DataFrame,
      iters: Int): DataFrame = {
    var cents = cents0.select(col("cent_id"),
      col("cv").cast("array<double>").as("cv"))
    for (_ <- 1 to iters) {
      val means = ivfCells(corpus, broadcast(cents), 1)
        .select(col("cell"), posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell")).agg(
          array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cell").as("cent_id"),
          transform(col("ps"), p => p.getField("m")).as("mv"))
      cents = cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("mv"), col("cv")).as("cv"))
    }
    broadcast(cents)
  }

  /**
   * The (possibly Lloyd-refined) IVF coarse-centroid set for a corpus —
   * public so a deployment can TRAIN ONCE, persist the k small rows
   * next to its [[signLshIndex]], and reuse them across [[ivfTopK]] /
   * [[ivfPqTopK]] batches (at 100 TB the centroid set is the cheap,
   * durable artifact; re-deriving it per query batch re-pays the
   * assignment pass). Output: (cent_id, cv).
   */
  def ivfCentroids(corpus: DataFrame, kCentroids: Int = 16,
      n: Long = -1L, centIters: Int = 0): DataFrame = {
    val nn = if (n >= 0) n else corpus.count()
    val seeds = strideCentroids(corpus, kCentroids, nn)
    if (centIters <= 0) seeds else lloydCentroids(corpus, seeds, centIters)
  }

  /** Nearest-`n` centroid assignment (codegen FloatL2Expr inner loop —
    * once per (vector, centroid), bit-identical to the HOF form; ties
    * to the smallest cent_id). Output: (vec_id, embedding, cell). */
  private def ivfCells(vecs: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    val l2 = (a: Column, b: Column) => graft.functions.GraftFunctions.vec_l2(a, b)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("cent_id").asc)
    vecs.join(cents)
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        l2(col("embedding"), col("cv")).as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): partition the embedding space into cells, run
   * exact pairwise cosine ONLY within each cell, and drop every vector
   * that has a lower-id cell-mate above the similarity threshold —
   * the cells are what keep the quadratic pairwise step tractable
   * (O(Σ |cell|²) ≪ O(n²)).
   *
   * Cell key here is the seeded random-projection sign bucket
   * ([[signBucket]] — `bits` Rademacher hyperplanes from [[ProjSeed]],
   * so cells are angular regions, data-independent and deterministic);
   * SemDeDup proper uses k-means cluster ids with k ≈ √n — identical
   * plan shape (cell equi-join), data-adapted cells
   * ([[semDedupKMeans]] provides that form). `bits` is the
   * cell-granularity knob (cells shrink 2× per bit, recall across cell
   * boundaries is the price, exactly as k trades in SemDeDup).
   *
   * Keep rule is greedy-by-min-id ("kept iff no LOWER-id cell-mate
   * within τ"), the same deterministic convention as the minhash
   * keep-list (q70); like SemDeDup's per-cluster keep-one it
   * approximates maximal-independent-set one pass, no iteration.
   *
   * `bits = 0` (the default) DERIVES the cell count from the corpus:
   * the smallest `bits` with 2^bits ≥ √n ([[semDedupAutoBits]]) —
   * cells ≈ √n keeps the per-cell pairwise work O(n) total, the same
   * k ≈ √n sizing SemDeDup uses for its k-means cells. A fixed small
   * `bits` on a growing corpus silently degrades toward O(n²/2^bits);
   * pass `bits` explicitly only to pin a known cell layout.
   *
   * Output: (vec_id, cell, kept 0/1) — one row per input vector.
   */
  def semDedup(vecs: DataFrame, tau: Double, bits: Int = 0,
      n: Long = -1L, maxCellSize: Long = 0L): DataFrame = {
    // bits = 0 auto-sizing pays one eager count() of `vecs` (see the
    // signLshPairs note); pass `n` when the cardinality is known
    val b = if (bits > 0) bits
      else semDedupAutoBits(if (n >= 0) n else vecs.count())
    semDedupWithBits(vecs, tau, b, maxCellSize)
  }

  /** Smallest `bits` with 2^bits ≥ √n, i.e. ceil(log4 n), clamped to
    * [4, 16] (16 bits = 65k cells carries corpora to ~4×10^9 vectors;
    * beyond that swap in k-means cell ids — same plan shape). The 1e-9
    * guard makes exact powers of 4 land identically in every IEEE
    * engine; the DuckDB q77 oracle restates this exact formula. */
  def semDedupAutoBits(n: Long): Int =
    math.max(4, math.min(16,
      math.ceil(math.log(math.max(n, 1L).toDouble) / math.log(4.0) - 1e-9).toInt))

  private def semDedupWithBits(vecs: DataFrame, tau: Double, bits: Int,
      maxCellSize: Long = 0L): DataFrame =
    semDedupOverCells(vecs, tau, signBucket(col("embedding"), bits),
      maxCellSize = maxCellSize)

  /** Hot-cell re-split constants (shared by the engine and the q93
    * oracle restatement): a cell whose population exceeds the cap is
    * re-split by [[SplitBits]] FRESH seeded hyperplanes per level
    * (16-way), up to [[SplitMaxDepth]] levels (4096-way for one
    * pathological cell). Split planes start at hyperplane index
    * [[SplitFirstPlane]] — far above any production band/cell plane
    * (bands·bits ≤ 128), so split bits never reuse a bucketing plane. */
  val SplitBits = 4
  val SplitMaxDepth = 3
  val SplitFirstPlane = 2048

  /**
   * SemDeDup with DATA-ADAPTED cells: k sampled centroids (k ≈ √n by
   * default, the paper's sizing), every vector assigned to its nearest
   * centroid (broadcast O(n·k) pass, the `ivfTopK` assignment shape),
   * pairwise cosine + greedy keep-min-id within each cell. Versus the
   * angular sign cells of [[semDedup]]: sampled centroids follow the
   * data density, so on anisotropic embeddings (mass concentrated in a
   * few directions) near-duplicates co-cell more often at the SAME cell
   * count — PipelineSpec measures the within-τ recall gap on
   * correlated planted clusters.
   *
   * Seeding is deterministic: centroids are the vectors with
   * `vec_id % stride == 0`, stride = n/k — a uniform sample under the
   * synthetic id space, the engine-agnostic analog of k-means++ seeds.
   * `iters` Lloyd refinements are opt-in: each costs a posexplode
   * shuffle of n·dim (pos, value) rows — the data-quality/shuffle
   * trade a 100 TB run must choose explicitly, so the default is 0
   * (assignment-only, no extra shuffle).
   */
  def semDedupKMeans(vecs: DataFrame, tau: Double, k: Int = 0,
      iters: Int = 0, n: Long = -1L, maxCellSize: Long = 0L): DataFrame = {
    val nn = if (n >= 0) n else vecs.count()
    val kk = if (k > 0) k else math.max(4, math.ceil(math.sqrt(nn.toDouble) - 1e-9).toInt)
    val stride = math.max(1L, nn / kk)
    var cents = vecs.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"),
        col("embedding").cast("array<double>").as("cv"))
    def assign(v: DataFrame): DataFrame = ivfCells(v, broadcast(cents), 1)
    for (_ <- 1 to iters) {
      // Lloyd step: mean per (cell, dim) — posexplode keeps the mean
      // exact and engine-reproducible (fixed dim order on rebuild)
      cents = assign(vecs)
        .select(col("cell"), posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell")).agg(
          array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cell").as("cent_id"),
          transform(col("ps"), p => p.getField("m")).as("cv"))
    }
    semDedupOverCells(vecs, tau, cell = null, preAssigned = assign(vecs),
      maxCellSize = maxCellSize)
  }

  /** Shared SemDeDup core: cell the vectors (either by a cell-key
    * expression over `embedding`, or a pre-assigned (vec_id, embedding,
    * cell) frame), exact pairwise cosine within cells, keep-min-id.
    *
    * `maxCellSize > 0` enables the hot-cell RE-SPLIT: cells whose
    * population exceeds the cap are subdivided by [[SplitBits]] fresh
    * seeded sign bits (appended to the cell key as `#bbbb`), up to
    * [[SplitMaxDepth]] levels. Auto-sizing fixes the EXPECTED cell
    * population; a template-family corpus drops m near-identical
    * vectors into ONE cell and the within-cell pair join pays O(m²) —
    * the embedding analog of the simhash flooded bucket. Unlike the
    * pair generator (which can DROP hot buckets — other bands still
    * cover the pair), SemDeDup emits a verdict per vector, so hot
    * cells are split, not dropped: every vector keeps a cell and a
    * kept flag, near-duplicates that land in the same SUBcell are
    * still caught, and only cross-subcell recall inside the hot cell
    * is traded for the bound. VERBATIM-identical vectors share every
    * sign bit and can never be split apart — run exact dedup first
    * (the simhashCandidates guidance) so the residual worst case after
    * [[SplitMaxDepth]] levels is a genuinely near-duplicate family,
    * counted by the `#` markers in the output cell keys. */
  private def semDedupOverCells(vecs: DataFrame, tau: Double, cell: Column,
      preAssigned: DataFrame = null, maxCellSize: Long = 0L): DataFrame = {
    val base0 = if (preAssigned != null) preAssigned
      else vecs.select(col("vec_id"), col("embedding"), cell.as("cell"))
    var splitSrc: DataFrame = null // persisted split source, released below
    val base =
      if (maxCellSize <= 0L) base0
      else {
        // split levels are LAZY plan transforms: per level one tiny
        // (cell, count) aggregation, a broadcast of the ≤ n/cap hot
        // cells, and a conditional key extension — the vectors
        // themselves never shuffle. base0 is persisted because each
        // level's count subplan re-reads it.
        val b0 = base0.select(col("vec_id"), col("embedding"),
          col("cell").cast("string").as("cell"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        splitSrc = b0
        var cur = b0
        for (level <- 0 until SplitMaxDepth) {
          val hot = cur.groupBy(col("cell"))
            .agg(count(lit(1)).as("_n"))
            .filter(col("_n") > maxCellSize)
            .select(col("cell"), lit(1).as("_hot"))
          cur = cur.join(broadcast(hot), Seq("cell"), "left_outer")
            .select(col("vec_id"), col("embedding"),
              when(col("_hot").isNotNull,
                concat(col("cell"), lit("#"),
                  signBucket(col("embedding"), SplitBits,
                    first = SplitFirstPlane + level * SplitBits)))
                .otherwise(col("cell")).as("cell"))
        }
        cur
      }
    // the celled projection feeds BOTH self-join sides and the final
    // keep join: persist lazily so the scan + norms + cells compute
    // once, release after the verdict table is checkpointed (same
    // discipline as Dedup.candidatesFromSigs)
    val c = base.select(col("vec_id"), col("embedding"), col("cell"),
      norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cosine computed inside the join projection: the exchange after
    // it carries (id, id) not the embedding arrays (cf. signLshPairs)
    val drops = c.as("a")
      .join(c.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        cosFromNorms(col("a.embedding"), col("a.nrm"),
          col("b.embedding"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("vec_id")).distinct()
    val out = c.select(col("vec_id"), col("cell"))
      .join(drops.withColumn("drop", lit(1)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        when(col("drop").isNull, lit(1)).otherwise(lit(0)).as("kept"))
      .localCheckpoint(true)
    c.unpersist(false)
    if (splitSrc != null) splitSrc.unpersist(false)
    out
  }

  /**
   * Product-quantization ANN (Jégou et al. 2011): the embedding is
   * split into `subspaces` contiguous subvectors, each encoded as the
   * index of its nearest codebook row — `subspaces` small ints per
   * vector instead of `dim` floats (8 bytes vs 256 here), which is what
   * makes a 100 TB ANN scan memory-bound instead of vector-math-bound.
   * A probe precomputes its distance TABLE once (`PqDtableExpr`:
   * d(s, j) for every subspace × codeword), so scoring a candidate is
   * `subspaces` array lookups (`PqAdcExpr`, codegen) — the asymmetric
   * distance computation. The ADC top-`shortlist` per probe is then
   * re-ranked by EXACT cosine on the original vectors (the standard
   * re-rank stage; `shortlist` is the recall knob).
   *
   * Codebook = the corpus vectors at id stride n/`codewords`
   * (driver-collected once — ≤ codewords rows, the ≤64-row metadata
   * class — and embedded as a plan constant via `addReferenceObj`);
   * sampled seeds per the [[semDedupKMeans]]/[[ivfTopK]] convention;
   * `refineIters > 0` Lloyd-refines them per subspace over a bounded
   * training sample ([[refinePqCodebook]] — the production step, off
   * by default so the oracle-restated stride codebook is untouched).
   * Plan shape: encode
   * and dtable are map-side projections; the scan is probe×corpus with
   * WindowGroupLimit partial top-k (scale-safe map-side shortlist);
   * the exact re-rank touches `|probes|·shortlist` vectors only.
   *
   * Scoring-only method: PQ compresses, it does not prune — compose
   * with [[ivfTopK]] cells (IVF-PQ) when the scan itself must shrink.
   */
  def pqTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      subspaces: Int = 8, codewords: Int = 16, shortlist: Int = 0,
      n: Long = -1L, refineIters: Int = 0, trainSample: Int = 1024): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val nn = if (n >= 0) n else corpus.count()
    val (cb, nCw) = pqCodebook("pqTopK", corpus,
      col("embedding").cast("array<double>"), nn, halfStride = false,
      subspaces, codewords, refineIters, trainSample)
    // the ADC scan touches CODES only (the compressed relation — in
    // production a stored table)
    val codes = corpus.select(col("vec_id").as("cand_id"),
      gf.pq_codes(col("embedding"), cb, subspaces).as("codes"))
    val pTables = broadcast(probes.select(col("vec_id").as("probe_id"),
      gf.pq_dtable(col("embedding"), cb, subspaces).as("dt")))
    pqShortlistRerank(codes.join(pTables, col("probe_id") =!= col("cand_id")),
      nCw, probes, corpus, k, shortlist)
  }

  /** PQ codebook of the three PQ searches: ≤ `codewords` rows of the
    * array<double> `vec` over `src`, at vec_id ≡ 0 (mod stride
    * n/`codewords`) — or ≡ stride/2 with `halfStride` (the residual
    * sample, see [[ivfPqResidualTopK]]) — in id order, flattened and
    * driver-collected; Lloyd-refined over the bounded training sample
    * only when `refineIters > 0` ([[refinePqCodebook]]). Returns the
    * flat codebook and its row count, which is < `codewords` on tiny
    * corpora; an empty sample (empty corpus) is refused, naming `op`. */
  private def pqCodebook(op: String, src: DataFrame, vec: Column, nn: Long,
      halfStride: Boolean, subspaces: Int, codewords: Int, refineIters: Int,
      trainSample: Int): (Array[Double], Int) = {
    val stride = math.max(1L, nn / codewords)
    val rows = src.filter(col("vec_id") % stride === (if (halfStride) stride / 2 else 0L))
      .select(col("vec_id"), vec)
      .orderBy(col("vec_id")).limit(codewords)
      .collect()
    require(rows.nonEmpty, s"$op: empty codebook sample (empty corpus)")
    val dim = rows.head.getSeq[Double](1).length
    require(dim % subspaces == 0,
      s"$op: dim $dim not divisible into $subspaces subspaces")
    val cb = rows.flatMap(_.getSeq[Double](1)).toArray
    if (refineIters <= 0) (cb, rows.length)
    else (refinePqCodebook(pqTrainSample(src, vec, nn, trainSample),
      cb, subspaces, rows.length, refineIters), rows.length)
  }

  /** The ADC shortlist and exact re-rank of the three PQ searches, over
    * a search's own scan relation of (probe_id, cand_id, codes, dt)
    * pairs: the ADC top-`shortlist` per probe (default 4k), ids only —
    * the shortlist exchange never carries an embedding — then the
    * original vectors re-gathered for the |probes|·shortlist exact
    * cosine top-k, the tiny shortlist broadcast against the corpus
    * scan. */
  private def pqShortlistRerank(scan: DataFrame, nCw: Int, probes: DataFrame,
      corpus: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").asc, col("cand_id").asc)
    val short = scan.select(col("probe_id"), col("cand_id"),
        graft.functions.GraftFunctions.pq_adc(col("codes"), col("dt"), nCw).as("adc"))
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= sl)
      .select(col("probe_id"), col("cand_id"))
    val pVecs = broadcast(probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pv"), norm(col("embedding")).as("pn")))
    val gathered = corpus
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        norm(col("embedding")).as("cn"))
      .join(broadcast(short), Seq("cand_id"))
      .join(pVecs, Seq("probe_id"))
    topKPerProbe(gathered.select(col("probe_id"), col("cand_id"),
      cosFromNorms(col("pv"), col("pn"), col("cv"), col("cn")).as("cos")), k)
  }

  /**
   * IVF-PQ: the composition a web-scale ANN actually deploys — IVF
   * cells PRUNE the scan (each probe touches only its `nprobe` nearest
   * cells, O(n/cells) candidates instead of O(n)), PQ codes COMPRESS
   * what the scan reads (`subspaces` small ints per candidate, ADC
   * lookups instead of vector math), and the exact-cosine re-rank on
   * the gathered originals restores precision on the shortlist.
   *
   * This is the flat-codebook variant (one global PQ codebook, the
   * [[pqTopK]] one): production IVF-PQ usually encodes per-cell
   * RESIDUALS (vector − centroid), which tightens the quantization at
   * the cost of a per-cell codebook — same plan shape, a different
   * constant in the encode expression; documented, not implemented.
   * Cells and codebook share the stride-sampled seed convention.
   */
  def ivfPqTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      kCentroids: Int = 16, nprobe: Int = 1, subspaces: Int = 8,
      codewords: Int = 16, shortlist: Int = 0, n: Long = -1L,
      refineIters: Int = 0, trainSample: Int = 1024,
      centIters: Int = 0): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val nn = if (n >= 0) n else corpus.count()
    val cents = ivfCentroids(corpus, kCentroids, nn, centIters)
    val (cb, nCw) = pqCodebook("ivfPqTopK", corpus,
      col("embedding").cast("array<double>"), nn, halfStride = false,
      subspaces, codewords, refineIters, trainSample)
    // celled + coded candidates: both are map-side projections over the
    // assignment join; the ADC join carries (cell, cand_id, codes)
    val codes = ivfCells(corpus, cents, 1)
      .select(col("cell"), col("vec_id").as("cand_id"),
        gf.pq_codes(col("embedding"), cb, subspaces).as("codes"))
    val pTables = broadcast(ivfCells(probes, cents, nprobe)
      .select(col("cell"), col("vec_id").as("probe_id"),
        gf.pq_dtable(col("embedding"), cb, subspaces).as("dt")))
    pqShortlistRerank(codes.join(pTables, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id")), nCw, probes, corpus, k, shortlist)
  }

  /**
   * Residual-encoded IVF-PQ — the production refinement [[ivfPqTopK]]
   * documents: every vector is PQ-encoded as its RESIDUAL against its
   * own cell centroid (v − c(cell(v))), and a probe's distance table is
   * built from ITS residual — within a cell both sides share the
   * centroid, so ADC approximates the true residual distance with the
   * cell's mean already removed (the quantizer spends its codewords on
   * fine structure, not on inter-cell offsets; Jégou et al. 2011 §IV).
   *
   * The residual codebook samples residuals at the HALF-STRIDE offset
   * (vec_id ≡ stride/2): the stride-0 sample is the centroid set
   * itself, whose residuals are identically zero — a degenerate
   * codebook. Residual subtraction is elementwise double arithmetic
   * (exact, no accumulation), so the oracle restates it verbatim.
   * Everything else — cell prune, ids-only shortlist, exact-cosine
   * re-rank on the ORIGINAL vectors — is [[ivfPqTopK]]'s plan.
   */
  def ivfPqResidualTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      kCentroids: Int = 16, nprobe: Int = 1, subspaces: Int = 8,
      codewords: Int = 16, shortlist: Int = 0, n: Long = -1L,
      refineIters: Int = 0, trainSample: Int = 1024,
      centIters: Int = 0): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val nn = if (n >= 0) n else corpus.count()
    // stride 1 is degenerate: every vector is a centroid, all residuals
    // are zero, the half-stride offset is 0 — an all-zero codebook ties
    // every ADC score and the shortlist becomes smallest-cand_id order.
    // Tiny corpora should use the flat [[pqTopK]] (or brute force).
    require(nn > codewords,
      s"ivfPqResidualTopK: corpus size $nn must exceed codewords=$codewords " +
        "(stride-1 residual sampling yields an all-zero codebook and an " +
        "id-ordered shortlist); use pqTopK or bruteForceTopK for tiny corpora")
    val cents = ivfCentroids(corpus, kCentroids, nn, centIters)
    def residuals(vecs: DataFrame, np: Int): DataFrame =
      ivfCells(vecs, cents, np)
        .join(cents, col("cell") === col("cent_id"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("embedding").cast("array<double>"),
            col("cv").cast("array<double>"), (a, b) => a - b).as("res"))
    val resCorpus = residuals(corpus, 1)
    val (cb, nCw) = pqCodebook("ivfPqResidualTopK", resCorpus, col("res"), nn,
      halfStride = true, subspaces, codewords, refineIters, trainSample)
    val codes = resCorpus
      .select(col("cell"), col("vec_id").as("cand_id"),
        gf.pq_codes(col("res"), cb, subspaces).as("codes"))
    val pTables = broadcast(residuals(probes, nprobe)
      .select(col("cell"), col("vec_id").as("probe_id"),
        gf.pq_dtable(col("res"), cb, subspaces).as("dt")))
    pqShortlistRerank(codes.join(pTables, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id")), nCw, probes, corpus, k, shortlist)
  }

  /**
   * Band-keyed sign-LSH index of a (vec_id, embedding) corpus — the
   * committed search structure the INCREMENTAL paths join against
   * (batch: [[incrementalAnnCandidates]]; streaming:
   * `EventStream.annStream`). Pre-exploded once and snapshotted rather
   * than re-keyed per batch. The index CARRIES ITS FAMILY as metadata
   * columns (`_bits`, `_bands`, `_seed`): a consumer keyed with
   * different bucket granularity — or an index from a different
   * projection seed — would miss every bucket SILENTLY (the
   * md5-vs-xxhash64 signature-family hazard in LSH form), so
   * consumers read the family FROM the index and refuse a foreign
   * seed. `maxBucketSize > 0` applies the hot-bucket cap at BUILD
   * time (costs nothing per search; the lshTopK corpus-side rule).
   */
  def signLshIndex(vecs: DataFrame, bits: Int, bands: Int = 4,
      maxBucketSize: Long = 0L): DataFrame = {
    require(bits > 0 && bands > 0, s"signLshIndex: bits=$bits bands=$bands")
    val keyed = vecs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      explode(signBandKeys(col("embedding"), bits, bands)).as("bucket"),
      lit(bits).as("_bits"), lit(bands).as("_bands"),
      lit(ProjSeed).as("_seed"))
    Dedup.capBuckets(keyed, maxBucketSize)
  }

  /** Read (bits, bands) from a [[signLshIndex]] frame, refusing an
    * index whose projection seed is not this engine's — a foreign-seed
    * index buckets every vector differently and would return zero
    * candidates with no error. */
  private[graft] def signLshIndexMeta(index: DataFrame): (Int, Int) = {
    val meta = index.select(col("_bits"), col("_bands"), col("_seed"))
      .limit(1).collect()
    require(meta.nonEmpty, "sign-LSH index is empty (no family metadata)")
    val seed = meta(0).getLong(2)
    require(seed == ProjSeed,
      s"index projection seed $seed != engine seed $ProjSeed " +
        "(a foreign-seed index buckets every vector differently — zero " +
        "candidates, silently); rebuild the index with this engine")
    (meta(0).getInt(0), meta(0).getInt(1))
  }

  /**
   * Batch incremental ANN — the embedding twin of
   * `Dedup.incrementalCandidates` (q82): each vector of a NEW batch is
   * band-keyed map-side and joined against the committed
   * [[signLshIndex]]; candidates at exact cosine ≥ `tau` are emitted
   * as (vec_id, cand_id, cos), deduplicated across bands. Cost is
   * O(|new| · bucket population) regardless of corpus size — the
   * corpus is never re-keyed or re-scanned, which is what makes a
   * continuous-ingest dedup/linking loop O(batch) instead of
   * O(corpus). Bucket granularity and bands are read FROM the index
   * ([[signLshIndexMeta]] — mismatch impossible by construction,
   * foreign seed refused loudly).
   */
  def incrementalAnnCandidates(newVecs: DataFrame, index: DataFrame,
      tau: Double): DataFrame =
    indexBandProbe(newVecs, index, tau)
      .groupBy(col("vec_id"), col("cand_id"))
      .agg(max(col("cos")).as("cos")) // identical across band matches

  /** The band probe of a [[signLshIndex]], shared by
    * [[incrementalAnnCandidates]] and `EventStream.annStream`: each
    * (vec_id, embedding) probe is band-keyed map-side with the index's
    * own family ([[signLshIndexMeta]]) and joined to the index on the
    * bucket; every candidate other than the probe at exact cosine >=
    * `tau` comes out as (vec_id, cand_id, cos, carry…), once per shared
    * band. `carry` are probe columns passed through. */
  private[graft] def indexBandProbe(probes: DataFrame, index: DataFrame, tau: Double,
      carry: Column*): DataFrame = {
    val (bits, bands) = signLshIndexMeta(index)
    val keyed = probes.select((Seq(col("vec_id"), col("embedding").as("pv"),
      norm(col("embedding")).as("pn")) ++ carry :+
      explode(signBandKeys(col("embedding"), bits, bands)).as("bucket")): _*)
    val idx = index.select(col("bucket"), col("vec_id").as("cand_id"),
      col("embedding").as("cv"), col("nrm").as("cn"))
    keyed.join(idx, Seq("bucket"))
      .filter(col("vec_id") =!= col("cand_id"))
      .select((Seq(col("vec_id"), col("cand_id"),
        cosFromNorms(col("pv"), col("pn"), col("cv"), col("cn")).as("cos")) ++ carry): _*)
      .filter(col("cos") >= tau)
  }

  /** Bounded PQ training sample: ≤ `trainN` vectors at id stride
    * n/trainN, in id order — deterministic and spread across the id
    * space (the codebook-seed convention). Collected to the driver:
    * PQ codebook training is a bounded-SAMPLE job in every production
    * system (a 100 TB corpus trains its quantizer on thousands of
    * vectors, not the corpus), so the collect is O(trainN·dim)
    * regardless of corpus size — ~0.5 MB at the 1024×64 default. */
  private def pqTrainSample(src: DataFrame, vec: Column, nn: Long,
      trainN: Int): Array[Array[Double]] = {
    val ts = math.max(1L, nn / math.max(trainN, 1))
    src.filter(col("vec_id") % ts === 0)
      .select(col("vec_id"), vec)
      .orderBy(col("vec_id")).limit(trainN)
      .collect()
      .map(_.getSeq[Double](1).toArray)
  }

  /** Per-subspace Lloyd refinement of a flat PQ codebook (the
    * production step the stride-sampled seeds approximate; Jégou 2011
    * §III trains each subquantizer by k-means). Deterministic end to
    * end: seeds are the stride codebook rows, assignment ties break to
    * the SMALLEST codeword index (strict `<`, the pqCodesData rule),
    * sums accumulate in training-sample (id) order, and a codeword
    * that attracts no training vectors keeps its current position.
    * Pure driver-side arithmetic over the bounded sample — the
    * refined codebook ships to executors exactly like the stride one
    * (an `addReferenceObj` plan constant), so the PLAN is identical;
    * only the constant improves. */
  private[pipeline] def refinePqCodebook(train: Array[Array[Double]],
      cb0: Array[Double], subspaces: Int, nCw: Int, iters: Int): Array[Double] = {
    if (iters <= 0 || train.isEmpty) return cb0
    val dim = train(0).length
    val sub = dim / subspaces
    val cb = cb0.clone()
    var it = 0
    while (it < iters) {
      var s = 0
      while (s < subspaces) {
        val sums = Array.ofDim[Double](nCw, sub)
        val counts = new Array[Int](nCw)
        train.foreach { v =>
          var best = 0
          var bestD = Double.MaxValue
          var j = 0
          while (j < nCw) {
            var d2 = 0.0
            var i = 0
            while (i < sub) {
              val diff = v(s * sub + i) - cb(j * dim + s * sub + i)
              d2 += diff * diff
              i += 1
            }
            if (d2 < bestD) { bestD = d2; best = j }
            j += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += v(s * sub + i); i += 1 }
          counts(best) += 1
        }
        var j = 0
        while (j < nCw) {
          if (counts(j) > 0) {
            var i = 0
            while (i < sub) {
              cb(j * dim + s * sub + i) = sums(j)(i) / counts(j)
              i += 1
            }
          }
          j += 1
        }
        s += 1
      }
      it += 1
    }
    cb
  }

  /**
   * Bucketed ANN: join probes to candidates sharing ANY of the `bands`
   * sign buckets, dedup, then exact cosine + per-probe top-k. Recall < 1
   * by design; every join shuffles on small band keys instead of
   * cross-joining.
   */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int, bits: Int = 0,
      bands: Int = 4, n: Long = -1L, maxBucketSize: Long = 0L): DataFrame = {
    // bits = 0 derives bucket granularity from the CORPUS side (the
    // side whose per-bucket population the join cost follows); the
    // count is eager — pass `n` when known (see signLshPairs note)
    val bb = if (bits > 0) bits
      else signLshAutoBits(if (n >= 0) n else corpus.count())
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
      norm(col("embedding")).as("pn"),
      explode(signBandKeys(col("embedding"), bb, bands)).as("bucket"))
    val c0 = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"),
      explode(signBandKeys(col("embedding"), bb, bands)).as("bucket"))
    // optional hot-bucket cap on the CORPUS side (the side whose
    // population multiplies every probe that lands in the bucket):
    // a template-family bucket of m vectors costs m rows PER PROBE —
    // dropped as non-discriminative past the cap, same rule and
    // trade as signLshPairs (other bands still cover). Cosine before
    // dedup (see signLshPairs): the exchange carries (probe_id,
    // cand_id, cos), never the embedding arrays
    topKPerProbe(p.join(Dedup.capBuckets(c0, maxBucketSize), Seq("bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        cosFromNorms(col("pv"), col("pn"), col("cv"), col("cn")).as("cos"))
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(max(col("cos")).as("cos")), k)
  }

  /**
   * Greedy k-center selection (Gonzalez 1985, the classic farthest-
   * point 2-approximation) — the DIVERSITY-based data-selection
   * complement to importance/quality selection ([[graft.pipeline
   * .Curation]]'s DSIR): coreset-style pruning keeps the k most
   * mutually-distant embeddings (Sener & Savarese 2018 use exactly
   * this selector for active learning / data subset selection).
   *
   * Deterministic: the seed is the min-id vector; each round adds the
   * point maximizing its current min cosine-DISTANCE to the selected
   * set (ties by vec_id). Zero-norm vectors sit at distance 1 from
   * everything (the cosine(=0) convention of [[cosFromNorms]]).
   *
   * Scale shape: the working relation carries (vec_id, embedding,
   * norm, d) where d is the running min-distance — each round is ONE
   * map-side update against the single new center (a broadcast-free
   * array literal) plus a TakeOrdered(1) argmax (map-side partial
   * top-1, no global sort); lineage is cut per round. k rounds = k
   * corpus scans, the inherent cost of the greedy algorithm — never
   * O(n·k) pairwise state, never a k-way shuffle.
   *
   * Returns (sel_rank, vec_id, radius_r6): radius is the point's
   * min-distance at selection time — the k-center coverage radius
   * sequence, non-increasing; the seed reports 0.0 by convention.
   */
  def kCenterSelect(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"kCenterSelect: k=$k must be positive")
    val spark = emb.sparkSession
    val base = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nn"))
    val seed = base.orderBy(col("vec_id").asc).limit(1)
      .collect().headOption.getOrElse(
        throw new IllegalArgumentException("kCenterSelect: empty corpus"))
    def distTo(cv: Column, cn: Column): Column =
      when(col("nn") * cn === 0, lit(1.0))
        .otherwise(lit(1.0) - dot(col("embedding"), cv) / (col("nn") * cn))
    val sel = scala.collection.mutable.ArrayBuffer(
      (1, seed.getLong(0), 0.0))
    // selected ids are EXCLUDED from the candidate relation rather
    // than relying on d(x,x)=0 — under the cosine convention a
    // zero-norm vector is at distance 1 even from itself
    var cur = base.filter(col("vec_id") =!= seed.getLong(0))
      .withColumn("d",
        distTo(typedlit(seed.getSeq[Float](1)), lit(seed.getDouble(2))))
      .localCheckpoint()
    var i = 2
    var exhausted = false
    while (i <= k && !exhausted) {
      // 1-row argmax read per round, bounded; a corpus smaller than k
      // exhausts gracefully (every point is a center) instead of
      // crashing on an empty argmax. The rank key is round(d, 6) with
      // vec_id tie-break (the bm25TopK rounded-then-ranked
      // discipline): a sub-ulp libm/summation divergence between
      // engines on a near-tie would otherwise pick a different center
      // and cascade into a wholly different selection
      val topOpt = cur
        .orderBy(round(col("d"), 6).desc, col("vec_id").asc).limit(1)
        .collect().headOption
      if (topOpt.isEmpty) { exhausted = true }
      else {
        val top = topOpt.get
        sel += ((i, top.getLong(0), top.getDouble(3)))
        if (i < k) {
          cur = cur.filter(col("vec_id") =!= top.getLong(0))
            .withColumn("d", least(col("d"),
              distTo(typedlit(top.getSeq[Float](1)), lit(top.getDouble(2)))))
            .localCheckpoint()
        }
        i += 1
      }
    }
    spark.createDataFrame(sel.toSeq.map { case (r, id, d) =>
      // HALF_UP like SQL round(); + 0.0 normalizes a -0.0 from a
      // cos-slightly-over-1 ulp so both engines print the same zero
      (r, id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0)
    }).toDF("sel_rank", "vec_id", "radius_r6")
  }

  /**
   * SQ8 scalar quantization round-trip: per-dimension global [min,max]
   * over the corpus, each coordinate snapped to the nearest of 256
   * uniform levels — code = round(255·(v−mn)/(mx−mn)) clamped to
   * [0,255], reconstructed as mn + code·(mx−mn)/255 (a degenerate
   * constant dimension reconstructs exactly). This is the standard
   * vector-store compression tier (FAISS `SQ8`, Lucene/Elasticsearch
   * int8 HNSW): 4× the footprint reduction of float32 with near-exact
   * recall, sitting BETWEEN the exact float path (q43) and the lossy
   * PQ tier ([[pqTopK]] — 32× but codebook-trained).
   *
   * Scale shape: the stats pass is one partial aggregation bounded by
   * the embedding dimensionality (a dims-row driver read, like the PQ
   * codebook reads); encode/decode is a single codegen'd map-side
   * `transform` against two broadcast-literal arrays — no shuffle. At
   * warehouse scale the int8 codes + the (mn, mx) manifest are what
   * you'd persist and scan (4 bytes → 1 byte per coordinate of scan
   * IO); the reconstruction here feeds the same broadcast brute-force
   * search as the exact path, so recall loss comes ONLY from the
   * quantizer, never the search.
   *
   * Returns (vec_id, embedding) with the reconstructed double vector.
   * Deterministic: round is HALF_UP — ties away from zero, exactly
   * DuckDB's round(DOUBLE), so the oracle restates the arithmetic
   * verbatim.
   */
  def sq8Reconstruct(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val stats = e.select(posexplode(col("emb")).as(Seq("i", "v")))
      .groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("i")).collect() // bounded by the embedding dimension
    require(stats.nonEmpty, "sq8Reconstruct: empty corpus")
    val mn = stats.map(_.getDouble(1)).toSeq
    val mx = stats.map(_.getDouble(2)).toSeq
    e.select(col("vec_id"),
      transform(col("emb"), (v, i) => {
        val m = get(typedlit(mn), i)
        val x = get(typedlit(mx), i)
        when(x === m, m).otherwise(
          m + least(greatest(round((v - m) * lit(255.0) / (x - m)),
            lit(0.0)), lit(255.0)) * (x - m) / lit(255.0))
      }).as("embedding"))
  }
}
