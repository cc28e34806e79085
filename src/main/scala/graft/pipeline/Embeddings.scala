package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic word2vec-style embedding training over a walk corpus —
 * the consumer that closes the walks → embeddings → ANN/SemDeDup loop
 * (q108/q126 produce the corpus; Similarity.* consumes the vectors).
 *
 * Skip-gram with negative sampling (Mikolov et al. 2013), restated for
 * exact, engine-independent determinism:
 *
 *  - FULL-BATCH synchronous epochs, not hogwild SGD: every epoch
 *    computes the gradient of the whole pair set against the CURRENT
 *    embeddings and applies one update. Aggregation is a plain
 *    groupBy-SUM of exact integers, so no execution order — shuffle,
 *    partitioning, cluster size — can move a value.
 *  - FIXED-POINT everywhere: embeddings are longs at 1e6 scale (fp6);
 *    dots are exact fp12 integer sums; the classic word2vec sigmoid
 *    TABLE is replaced by the hard sigmoid hs(x) = clamp(x/4 + 1/2,
 *    0, 1) — a piecewise-LINEAR rational function computed exactly in
 *    integer arithmetic (floor divisions via the pmod identity), so a
 *    SQL oracle replays training bit-for-bit. (The table in the C
 *    implementation is itself a coarse sigmoid approximation; the
 *    hard-sigmoid gradient keeps the same sign/zero structure.)
 *  - Seeded md5 for BOTH the init values and the negative draws — a
 *    pure function of (seed, node, dim) / (seed, pair, j), identical
 *    on every engine (the q108 walk-scoring discipline).
 *
 * Scale shape: pairs are one bounded self-join of the walk relation on
 * (start, |Δstep| ≤ window) — ≤ (2·window)·|walk rows| rows, never
 * corpus²; triples dedup to (c, x, label, multiplicity) so repeated
 * pairs cost one row; each epoch is a fixed chain of vocab/pair-sized
 * equi-joins with map-side partial SUMs; embedding state is
 * (node, k, v) rows — 2·|vocab|·dim longs, localCheckpointed per
 * epoch. Gradient sums accumulate in decimal(38,0) (exact to 1e38 —
 * a hub appearing in billions of pairs cannot silently wrap a long);
 * post-update values clamp to ±2.0 (fp6 ±2e6), which both bounds every
 * downstream product (dot ≤ dim·4e12 — exact in longs for any dim the
 * driver would pass) and is the standard stability clip.
 */
object Embeddings {

  private val Fp = 1000000L // fp6 scale
  private val Clamp = 2000000L // ±2.0 — embedding value clip (fp6)

  /** Exact floor division a/b (b > 0) for long columns: the pmod
    * identity makes the numerator exactly divisible, and the division
    * runs in decimal so the quotient is exact at ANY magnitude (long
    * `/` in Spark is double division — 2^53 cliff). */
  private def fdiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))).cast("decimal(38,0)") / lit(b)).cast("long")

  /** Same, for decimal(38,0) gradient sums; result cast back to long
    * (post-division deltas are lr-scaled and small). */
  private def fdivDec(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b).cast("decimal(38,0)"))) / lit(b)).cast("long")

  /** Hard sigmoid in fp6: hs(x) = clamp(x/4 + 0.5, 0, 1). */
  private def hardSig(dotFp: Column): Column =
    least(lit(Fp), greatest(lit(0L), fdiv(dotFp, 4L) + lit(Fp / 2)))

  /**
   * Train SGNS embeddings over a `(start, step, node)` walk relation
   * (the [[TopicGraph.randomWalks]] / [[TopicGraph.node2vecWalks]]
   * output shape).
   *
   * Positives: all ordered pairs of nodes co-occurring within
   * `window` steps of the same walk (c ≠ x), with multiplicity.
   * Negatives: for each unique positive (c, x) and j = 1..negatives,
   * the vocab node at seeded-md5 rank — carrying the positive's
   * multiplicity (label 0). Init: both embedding tables seeded
   * uniform in ±0.1 (fp6, md5-derived). Update per epoch:
   * v += fdiv(lrNum·Σ g·other, lrDen·1e6), g = label − hs(dot),
   * clamped to ±2.0.
   *
   * Returns the INPUT embedding table (node, k, v_fp): fp6 longs,
   * k = 0..dim−1 — exact integers, hash-stable across engines.
   */
  def sgnsTrain(walks: DataFrame, dim: Int = 4, window: Int = 2,
      negatives: Int = 2, epochs: Int = 2, lrNum: Long = 1L,
      lrDen: Long = 20L, seed: String = "sgns"): DataFrame = {
    require(dim >= 1, s"sgnsTrain: dim=$dim must be >= 1")
    require(window >= 1, s"sgnsTrain: window=$window must be >= 1")
    require(negatives >= 0, s"sgnsTrain: negatives=$negatives must be >= 0")
    require(epochs >= 1, s"sgnsTrain: epochs=$epochs must be >= 1")
    require(lrNum >= 1 && lrDen >= 1,
      s"sgnsTrain: lr $lrNum/$lrDen must be positive")
    val spark = walks.sparkSession
    val w = walks.select(col("start"), col("step"), col("node"))

    // ---- vocab with a dense rank for negative draws: rank = 1 + the
    // number of nodes strictly before, via the scale-adaptive
    // Ranks.withPrefixSum (one-task window while the vocab fits a
    // task, two-phase range-partitioned rank at a billions-node vocab
    // — the rank values are identical either way, spec-pinned) ----
    val (ranked, n) = Ranks.withPrefixSumCounted(
      w.select(col("node")).distinct(), "node", lit(1L), "below")
    val vocab = ranked
      .select(col("node"), (col("below") + 1L).cast("int").as("rn"))
      .localCheckpoint(true)
    // an empty corpus would make the negative draw a pmod-by-zero and
    // the output silently empty — refuse loudly (the bm25 discipline)
    require(n > 0, "sgnsTrain: empty walk relation — nothing to train on")

    // ---- positive pairs with multiplicity ----
    val a = w.as("a")
    val b = w.as("b")
    val pos = a.join(b, col("a.start") === col("b.start") &&
        col("a.step") =!= col("b.step") &&
        abs(col("a.step") - col("b.step")) <= window &&
        col("a.node") =!= col("b.node"))
      .groupBy(col("a.node").as("c"), col("b.node").as("x"))
      .agg(count(lit(1)).as("m"))

    // ---- seeded negatives: vocab node at md5 rank, mirroring the
    // positive's multiplicity ----
    val posL = pos.select(col("c"), col("x"), lit(Fp).as("label"), col("m"))
    val withNegs =
      if (negatives == 0) posL
      else posL.unionByName(pos
        .select(col("c"), col("x").as("xp"), col("m"),
          explode(sequence(lit(1), lit(negatives))).as("j"))
        .withColumn("rn",
          (pmod(Sketches.h60Joined(lit(seed), lit("neg"), col("c"), col("xp"), col("j")),
            lit(n)) + 1).cast("int"))
        .join(vocab, Seq("rn"))
        .select(col("c"), col("node").as("x"), lit(0L).as("label"),
          col("m")))
    val triples = withNegs
      .groupBy(col("c"), col("x"), col("label"))
      .agg(sum(col("m")).as("m"))
      .localCheckpoint(true)

    // ---- seeded init, both tables: uniform fp6 in ±0.1 ----
    val dims = spark.range(dim).select(col("id").cast("int").as("k"))
    def init(which: String): DataFrame = vocab.crossJoin(dims)
      .select(col("node"), col("k"),
        (pmod(Sketches.h60Joined(lit(seed), lit("init"), lit(which), col("node"), col("k")),
          lit(200001L)) - lit(100000L)).as("v"))
      .localCheckpoint(true)
    var eIn = init("i")
    var eOut = init("o")

    // ---- synchronous full-batch epochs ----
    for (epoch <- 1 to epochs) {
      val dots = triples
        .join(eIn.select(col("node").as("c"), col("k"), col("v").as("vc")),
          Seq("c"))
        .join(eOut.select(col("node").as("x"), col("k"), col("v").as("vx")),
          Seq("x", "k"))
        .groupBy(col("c"), col("x"), col("label"), col("m"))
        .agg(sum(col("vc") * col("vx")).as("dot12"))
      // dot ≤ dim·(2e6)² per k-term sum — exact in longs to dim ~ 2e6
      // g is EAGER and doubles as the epoch's one materializing job:
      // it consumes BOTH of the previous epoch's (lazy) tables, so its
      // job persists them; gradFor reads g twice from cache
      val g = dots.select(col("c"), col("x"),
          (col("m") * (col("label") - hardSig(fdiv(col("dot12"), Fp))))
            .as("gm"))
        .localCheckpoint(true)
      def gradFor(side: String): DataFrame = {
        val (key, other, otherKey) =
          if (side == "in") ("c", eOut, "x") else ("x", eIn, "c")
        g.join(other.select(col("node").as(otherKey), col("k"),
            col("v").as("vo")), Seq(otherKey))
          .groupBy(col(key).as("node"), col("k"))
          // promote BEFORE the multiply: gm reaches m·1e6 and |vo| 2e6,
          // so the per-term LONG product wraps once a pair multiplicity
          // m exceeds ~4.6e6 — casting one factor keeps every
          // intermediate exact (the sourceKl discipline)
          .agg(sum(col("gm").cast("decimal(38,0)") * col("vo")).as("s"))
      }
      // LAZY epoch tables (plans truncated all the same): under AQE
      // their shuffle stages run when the table is built, and only their
      // result stages are computed — and persisted — inside the NEXT
      // epoch's eager g job, dropping the two per-epoch persist jobs.
      // The FINAL epoch's out-table is not built at all: nothing
      // consumes it (only eIn is returned), and building it would still
      // run its gradient join and aggregate shuffles.
      def applyGrad(e: DataFrame, grad: DataFrame): DataFrame =
        e.join(grad, Seq("node", "k"), "left_outer")
          .select(col("node"), col("k"),
            least(lit(Clamp), greatest(lit(-Clamp),
              col("v") + coalesce(
                fdivDec(col("s") * lit(lrNum), lrDen * Fp), lit(0L))))
              .as("v"))
          .localCheckpoint(eager = false)
      val newIn = applyGrad(eIn, gradFor("in"))
      if (epoch < epochs) eOut = applyGrad(eOut, gradFor("out")) // reads the old eIn
      eIn = newIn
    }
    eIn.select(col("node"), col("k"), col("v").as("v_fp"))
  }

  /**
   * Convert a trained (node, k, v_fp) table to the Similarity tier's
   * (vec_id, embedding: array<float>) contract — fp6 longs to floats
   * (dim-bounded per-node collect_list, sorted by k). This is the
   * handoff that closes walks → [[sgnsTrain]] → ANN/SemDeDup: the
   * output feeds [[Similarity.bruteForceTopK]] / lshTopK / semDedup
   * directly (spec-verified end to end on a planted-cluster graph).
   */
  def asVectors(embTable: DataFrame): DataFrame =
    embTable
      .groupBy(col("node").as("vec_id"))
      .agg(sort_array(collect_list(struct(col("k"), col("v_fp")))).as("s"))
      .select(col("vec_id"),
        transform(col("s"),
          e => (e.getField("v_fp").cast("double") / lit(Fp.toDouble))
            .cast("float")).as("embedding"))
}
