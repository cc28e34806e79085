package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Mergeable cardinality sketches — the distinct-count companion to the
 * Misra-Gries heavy-hitter sketch (Aggregators) and the quantile
 * summaries: at crawl scale "how many distinct documents / URLs /
 * shingles per language" is a first-class manifest column, and the
 * exact `countDistinct` answer shuffles every distinct value while the
 * HyperLogLog registers (Flajolet et al. 2007) travel as 64 small
 * integers that merge by MAX.
 *
 * Determinism contract (the engine-wide rule): the hash is the md5
 * 60-bit prefix (the q56/q96 seeded-threshold family), the rank is
 * computed by BINARY STRING LENGTH (exact integer arithmetic — no
 * floating log2 anywhere), and the estimate divides exact integers, so
 * the DuckDB oracle restates every step verbatim and hashes equal.
 *
 * SCALE: registers aggregate with map-side partial max (one tiny
 * shuffle of at most groups × 64 rows regardless of corpus size), and
 * two corpora's registers union-merge by max — the sketch is the
 * incremental/streaming form for free, unlike the exact count.
 */
object Sketches {

  /** 2^p buckets; p = 6 keeps the whole register file at 64 rows per
    * group (standard error 1.04/√64 ≈ 13% — the manifest-column
    * operating point; raise p for tighter bounds). */
  val HllP = 6
  private val HllM = 1 << HllP // 64
  /** alpha·m²·2^55·10^4 as exact digits (0.709·4096·10^4 = 29 040 640
    * exactly): the numerator of the 10^4-scaled integer estimate
    * ⌊HllEstE4Num / reg_sum⌋ that [[graft.pipeline.TopicGraph
    * .neighborhoodFunction]] sums with no float step (a DuckDB oracle
    * restates it as a HUGEINT literal). */
  val HllEstE4Num: String = (BigInt(29040640) * (BigInt(1) << 55)).toString
  /** alpha_64 from the HLL paper's bias table. */
  private val HllAlpha = 0.709
  /** hash width 60 bits (md5 15-hex prefix) ⇒ the post-bucket field is
    * 60 − p = 54 bits wide, so rho ∈ [1, 55]. */
  private val RestBits = 60 - HllP

  /** 60-bit nonnegative hash of `key` — the engine's md5-prefix family
    * (same construction as the q56 split / q96 mixture thresholds). It
    * hashes the key itself, so a NULL key stays NULL: through
    * [[h60Joined]]'s `concat_ws` it would hash as "". */
  private[pipeline] def h60(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** [[h60]] of the parts cast to strings and joined with ":" — the
    * seeded form, e.g. seed:start:step:dst. */
  private[pipeline] def h60Joined(parts: Column*): Column =
    h60(concat_ws(":", parts.map(_.cast("string")): _*))

  /**
   * Per-group HLL register file: (groupCols…, bucket, rho) with one
   * row per OCCUPIED bucket (absent bucket = register 0), rho = 1 +
   * leading-zero count of the 54-bit post-bucket hash field. bin()
   * gives the minimal binary string, so bitlength(rest) =
   * length(bin(rest)) and rho = 55 − bitlength — pure integer columns,
   * codegen end to end. On a streaming frame the state is ≤ 64
   * registers per group, so it is safe in Complete mode with no
   * watermark wherever the group domain is bounded (languages,
   * sources, shards), unlike a dropDuplicates that holds every key.
   */
  def hllRegisters(df: DataFrame, key: Column, groupCols: Seq[String]): DataFrame = {
    val h = h60(key)
    val rest = shiftright(h, HllP) // nonneg ⇒ arithmetic shift = logical
    val rho = when(rest === 0L, lit(RestBits + 1))
      .otherwise(lit(RestBits + 1) - length(bin(rest)))
    df.select((groupCols.map(col) :+ (h % HllM).as("bucket") :+ rho.as("r")): _*)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("r")).as("rho"))
  }

  /** Default Bloom geometry: m = 4096 bits / k = 3 probes keeps the
    * whole filter at 512 bytes — sized for the spec corpora; a real
    * blocklist sizes m ≈ 1.44·k·|keys| for its target fp rate
    * (~1.2 bytes/key at 1%), still a broadcast-literal artifact at
    * millions of keys where the exact anti-join shuffles the corpus. */
  val BloomM = 4096
  val BloomK = 3

  /** The k probe positions of `key` — Kirsch–Mitzenmacher double
    * hashing pos_i = (h1 + i·h2) mod m over the engine's md5-prefix
    * family: h1 = hex[1..15], h2 = 2·hex[16..30] + 1 (odd, so the
    * probe walk cycles through all residues of the power-of-2 m).
    * Both halves are reduced mod m BEFORE the multiply-add, so every
    * intermediate stays tiny and the DuckDB oracle restates the
    * arithmetic verbatim with no overflow analysis. */
  private def bloomPositions(key: Column, k: Int, m: Int): Seq[Column] = {
    val h1 = h60(key) % m
    val h2 = (conv(substring(md5(key), 16, 15), 16, 10).cast("long") * 2 + 1) % m
    (0 until k).map(i => (h1 + lit(i.toLong) * h2) % m)
  }

  /**
   * Build the filter from a (small) key relation: the distinct probe
   * positions — at most m rows however large the blocklist — come back
   * to the driver and pack into m/64 longs. The packed array is the
   * durable artifact (persist it next to the manifest); two blocklists'
   * filters merge by bitwise OR, so the sketch is incremental like
   * [[hllRegisters]].
   */
  def bloomBuild(keys: DataFrame, key: Column, k: Int = BloomK,
      m: Int = BloomM): Array[Long] = {
    require(m % 64 == 0 && m > 0, s"bloom m must be a positive multiple of 64, got $m")
    val pos = keys.select(explode(array(bloomPositions(key, k, m): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val bits = new Array[Long](m / 64)
    pos.foreach(p => bits(p.toInt >> 6) |= (1L << (p.toInt & 63)))
    bits
  }

  /**
   * Map-side membership test against a built filter: k md5 probes +
   * k array lookups per row, no join, no shuffle — the 100 TB shape
   * for "drop everything on the blocklist" (the exact anti-join
   * shuffles the corpus on the key; this scans it once). False
   * positives at the standard (1 − e^(−kn/m))^k rate, NEVER false
   * negatives; when survivors must be exact, semi-join only the
   * bloom-positive slice (corpus-fraction ≈ fp rate) afterwards.
   * The packed longs expand to an array<boolean> plan literal — same
   * O(m) broadcast, and the per-row test stays pure codegen
   * (element_at; variable-amount bit shifts are SQL-only).
   */
  def bloomMightContain(key: Column, bits: Array[Long], k: Int = BloomK,
      m: Int = BloomM): Column = {
    require(bits.length == m / 64, s"bloom bits length ${bits.length} != m/64 = ${m / 64}")
    val flags = typedLit((0 until m).map(p => (bits(p >> 6) >>> (p & 63) & 1L) == 1L))
    bloomPositions(key, k, m)
      .map(p => element_at(flags, p.cast("int") + 1))
      .reduce(_ && _)
  }

  /**
   * Per-group log₂ histogram registers over a nonnegative integer
   * measure: (groupCols…, bin, cnt) with bin = bitlength(value)
   * (0 for value ≤ 0) — at most 64 rows per group however large the
   * corpus, and two corpora's registers merge by SUM, completing the
   * mergeable-manifest trio (HLL = distinct, Misra-Gries = heavy
   * hitters, this = the distribution). Power-of-2 bins mean relative
   * error ≤ 2× on the read-off — the operating point for "is p99 doc
   * length drifting" manifest monitoring, where exact per-group
   * quantiles shuffle every value.
   */
  def logHistRegisters(df: DataFrame, value: Column,
      groupCols: Seq[String]): DataFrame = {
    val b = when(value <= 0, lit(0))
      .otherwise(length(bin(value.cast("long")))).as("bin")
    df.select((groupCols.map(col) :+ b): _*)
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Quantile read-off from the histogram registers: for each requested
   * q, the smallest bin whose cumulative count reaches ceil(q·n) —
   * the lower-quantile convention in exact integer arithmetic (the
   * only floating step is the q·n product, identical IEEE on both
   * engines). Output (groupCols…, p, bin, lo, hi): the exact q-th
   * value is GUARANTEED inside [lo, hi] because binning is monotone,
   * so cumulative register counts and cumulative value ranks agree at
   * every bin boundary. All post-register work is on ≤ 64·|groups|
   * rows — driver-free but effectively free regardless of corpus size.
   */
  def logHistQuantiles(df: DataFrame, value: Column, groupCols: Seq[String],
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val gcols = groupCols.map(col)
    val wCum = Window.partitionBy(gcols: _*).orderBy(col("bin"))
    val wAll = Window.partitionBy(gcols: _*)
    val spark = df.sparkSession
    import spark.implicits._
    val cum = logHistRegisters(df, value, groupCols)
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    cum.crossJoin(broadcast(qs.toDF("p")))
      .filter(col("cum") >= ceil(col("p") * col("n")).cast("long"))
      .groupBy((gcols :+ col("p")): _*)
      .agg(min(col("bin")).as("bin"))
      .select((gcols :+ col("p") :+ col("bin").cast("long").as("bin") :+
        when(col("bin") === 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bin - 1)")).as("lo") :+
        when(col("bin") === 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bin) - 1")).as("hi")): _*)
  }

  /** Default Count-Min geometry: depth 4 × width 1024 = 4096 counters
    * (32 KB of longs) — error ≤ e/1024 ≈ 0.27% of the stream length at
    * 1 − (1/e)^4 ≈ 98% confidence per the Cormode–Muthukrishnan bounds.
    * Like the Bloom filter, a production stream sizes width ≈ e/ε. */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** Row-r counter position of `key` — literally [[bloomPositions]]
    * (the one Kirsch–Mitzenmacher walk both sketches share, so a
    * hash-family change can never split them), with `depth` probes
    * over a `width`-counter row. */
  private def cmsPositions(key: Column, depth: Int, width: Int): Seq[Column] =
    bloomPositions(key, depth, width)

  /**
   * Count-Min register file over a key stream: (row, pos, cnt,
   * _depth, _width), one row per OCCUPIED counter (absent counter
   * = 0) — at most depth×width rows however large the corpus, built
   * with map-side partial counts (the shuffle carries ≤ depth×width
   * rows per mapper). Two corpora's registers merge by SUM over
   * (row, pos, _depth, _width), the same merge law as
   * [[logHistRegisters]] — the frequency-estimation leg of the
   * mergeable-manifest family (HLL = distinct, Misra-Gries = top-k
   * identities, log-hist = distribution, this = point frequencies of
   * ANY later-chosen key, which Misra-Gries cannot answer below its
   * n/k floor).
   *
   * The file CARRIES ITS GEOMETRY (`_depth`, `_width` literal columns,
   * the [[graft.pipeline.Similarity.signLshIndex]] metadata pattern):
   * probing a register file with the wrong geometry would miss
   * counters SILENTLY and break the one-sided-error contract, so
   * [[cmsEstimate]] reads the geometry from the file instead of
   * trusting the caller. NULL keys are excluded (md5(null) is null —
   * a null-position counter would be unprobeable and the row bound
   * would quietly grow); a null is not a key.
   *
   * On a streaming frame the state is bounded by the geometry (≤
   * depth×width counter keys) however unbounded the stream, so it is
   * safe in Complete mode with no watermark; each snapshot is a valid
   * register file over everything ingested so far.
   */
  def cmsRegisters(df: DataFrame, key: Column, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    require(depth > 0 && width > 0, s"cms geometry must be positive, got $depth x $width")
    val rows = (0 until depth).zip(cmsPositions(key, depth, width)).map {
      case (r, pos) => struct(lit(r).as("row"), pos.as("pos"))
    }
    df.filter(key.isNotNull)
      .select(explode(array(rows: _*)).as("rp"))
      .groupBy(col("rp.row").as("row"), col("rp.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("row"), col("pos"), col("cnt"),
        lit(depth).as("_depth"), lit(width).as("_width"))
  }

  /**
   * Point-frequency estimates for a probe relation against a register
   * file: est(key) = min over rows of the counter at pos_r(key) —
   * never an underestimate (every occurrence of the key incremented
   * all of its depth counters), overestimates only by hash-colliding
   * other keys. The register file is depth×width rows at most, so the
   * probe join broadcasts it: k lookups per probe, no corpus access at
   * all — the 100 TB shape for "how often does THIS phrase occur",
   * asked after the one register-building pass. The geometry is read
   * FROM the register file (see [[cmsRegisters]]) — a foreign or
   * mixed-geometry file is refused loudly, never probed wrong.
   * NULL probe keys estimate 0 (nulls are not keys; the corpus side
   * excluded them too). Output: probe columns + n_est.
   *
   * CONTRACT: the probe relation's rows are treated as a SET of keys —
   * the output groups by all probe columns, so duplicate probe rows
   * collapse to one (output cardinality = distinct probe rows). The
   * register columns are aliased to reserved `_cms_*` names before the
   * join, so a probe relation may use any column names except that
   * prefix (refused loudly, never an ambiguous-column analysis error).
   */
  def cmsEstimate(probes: DataFrame, key: Column,
      registers: DataFrame): DataFrame = {
    require(!probes.columns.exists(_.startsWith("_cms_")),
      s"cmsEstimate: probe columns must not use the reserved _cms_ prefix: " +
        probes.columns.filter(_.startsWith("_cms_")).mkString(", "))
    val metas = registers.select(col("_depth"), col("_width"))
      .distinct().limit(3).collect()
    require(metas.length == 1,
      if (metas.isEmpty) "cmsEstimate: empty register file (no geometry to read)"
      else s"cmsEstimate: mixed-geometry register file: ${metas.mkString(", ")}")
    val (depth, width) = (metas(0).getInt(0), metas(0).getInt(1))
    val probeCols = probes.columns.map(col).toSeq
    val regs = registers.select(col("row").as("_cms_row"),
      col("pos").as("_cms_pos"), col("cnt").as("_cms_cnt"))
    val rows = (0 until depth).zip(cmsPositions(key, depth, width)).map {
      case (r, pos) => struct(lit(r).as("row"), pos.as("pos"))
    }
    probes.select((probeCols :+ explode(array(rows: _*)).as("_cms_rp")): _*)
      .join(broadcast(regs),
        col("_cms_rp.row") === col("_cms_row") && col("_cms_rp.pos") === col("_cms_pos"),
        "left_outer")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("_cms_cnt"), lit(0L))).as("n_est"))
  }

  // ------------------------------------------------------------------
  // PACKED register layout (Boldi & Vigna 2013 ship HyperBall this way)
  //
  // The (group, bucket, rho) ROW layout above is oracle-friendly but
  // carries up to m = 64 rows per group through every shuffle — on
  // HyperBall's hottest relation (the per-node register file joined
  // with the edge list every round) that is a 64x row-count constant
  // at 10^10-node scale. The packed layout carries ONE fixed-width
  // array<int> per group (regs[bucket] = rho, 0 = empty register) and
  // merges with m independent codegen MAX aggregates — full map-side
  // partial aggregation, whole-stage codegen end to end, identical
  // register values by the max-merge law. The row form stays as the
  // spec/oracle twin (packedToRegisterRows bridges, equality spec in
  // PipelineSpec), so correctness is still DuckDB-checkable while the
  // scale path shuffles 64x fewer rows.
  // ------------------------------------------------------------------

  /** Packed register vector of the singleton {key}: array<int> of
    * length m with regs[bucket(key)] = rho(key) and 0 elsewhere —
    * pure codegen (one transform over a constant sequence). */
  def hllPackedSingleton(key: Column): Column = {
    val h = h60(key)
    val rest = shiftright(h, HllP)
    val rho = when(rest === 0L, lit(RestBits + 1))
      .otherwise(lit(RestBits + 1) - length(bin(rest)))
    val bucket = (h % HllM).cast("int")
    transform(sequence(lit(0), lit(HllM - 1)),
      i => when(i === bucket, rho.cast("int")).otherwise(lit(0)))
  }

  /** Element-wise max-merge of packed register vectors within groups:
    * m independent MAX aggregates (DeclarativeAggregate — map-side
    * partial merge, no udaf, no collect_list) re-packed into one
    * array. The post-shuffle relation is ONE row per group. */
  def hllPackedMerge(df: DataFrame, groupCols: Seq[String],
      regsCol: String = "regs"): DataFrame = {
    val maxes = (0 until HllM).map(i =>
      max(element_at(col(regsCol), i + 1)).as(s"_pk_r$i"))
    df.groupBy(groupCols.map(col): _*)
      .agg(maxes.head, maxes.tail: _*)
      .select((groupCols.map(col) :+
        array((0 until HllM).map(i => col(s"_pk_r$i")): _*).as(regsCol)): _*)
  }

  /** Packed -> row-form bridge: (groupCols..., bucket, rho) with one
    * row per OCCUPIED register — exactly the [[hllRegisters]] layout,
    * so packed files read off through the SAME
    * [[hllEstimateFromRegisters]] arithmetic and compare 1:1 against
    * the row-form twin in specs and oracles. */
  def packedToRegisterRows(df: DataFrame, groupCols: Seq[String],
      regsCol: String = "regs"): DataFrame =
    df.select((groupCols.map(col) :+
        posexplode(col(regsCol)).as(Seq("_pk_b", "_pk_rho"))): _*)
      .filter(col("_pk_rho") > 0)
      .select((groupCols.map(col) :+
        col("_pk_b").cast("long").as("bucket") :+
        col("_pk_rho").as("rho")): _*)

  /** Read-off DIRECTLY from a packed register file — no explode, no
    * shuffle: every register contributes 2^(55−rho) to the indicator
    * sum (an EMPTY register's rho = 0 contributes exactly the 2^55 the
    * row-form read-off adds per zero register), so the whole
    * (n_zero_regs, reg_sum, n_distinct_est) triple is one codegen
    * `aggregate` over the array per ROW. The row-form path
    * ([[packedToRegisterRows]] → [[hllEstimateFromRegisters]]) explodes
    * 64 rows per group and re-groups them through an exchange — on
    * HyperBall's per-round read-offs that exchange carries 64·V rows
    * per radius for values this projection computes in place.
    * Identical output by construction (same exact integer arithmetic;
    * spec-pinned against the bridge path). */
  def hllEstimateFromPacked(df: DataFrame, groupCols: Seq[String],
      regsCol: String = "regs"): DataFrame = {
    val gcols = groupCols.map(col)
    val nZero = size(filter(col(regsCol), x => x === 0)).cast("long")
    val regSum = expr(s"aggregate($regsCol, CAST(0 AS BIGINT), " +
      s"(acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), ${RestBits + 1} - x))")
    df.select((gcols :+ nZero.as("n_zero_regs") :+ regSum.as("reg_sum")): _*)
      .withColumn("n_distinct_est",
        round(lit(HllAlpha * HllM * HllM) * lit(1L << (RestBits + 1)).cast("double") /
          col("reg_sum").cast("double"), 4))
  }

  def hllEstimate(df: DataFrame, key: Column, groupCols: Seq[String]): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, key, groupCols), groupCols)

  /**
   * Per-group cardinality estimate from an existing (groupCols…,
   * bucket, rho) register file — the merge-then-estimate entry point
   * ([[hllRegisters]] files of any provenance combine by groupBy
   * max(rho) first; HyperBall feeds its propagated ball registers
   * here). The indicator sum Z⁻¹ = Σ 2^−M_j is carried as the EXACT
   * integer S = Σ 2^(55−M_j) (absent buckets contribute 2^55; S ≤
   * 64·2^55 = 2^61 fits a long), so the only floating step is the final
   * alpha·m²·2^55 / S division — deterministic IEEE on both engines.
   * Output: (groupCols…, n_zero_regs, reg_sum, n_distinct_est).
   * The raw estimator is published as-is (no small-range linear
   * counting correction: ln() is not bit-reproducible across engines,
   * and the REGISTERS are the durable product — a consumer holding
   * (n_zero_regs, reg_sum) can apply any correction downstream).
   */
  def hllEstimateFromRegisters(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val gcols = groupCols.map(col)
    // functions.shiftleft only takes a literal shift — the SQL form
    // accepts a column amount (exact 2^(55−rho) as a long)
    val pow2 = expr(s"shiftleft(CAST(1 AS BIGINT), ${RestBits + 1} - rho)")
    regs.groupBy(gcols: _*)
      .agg(
        (lit(HllM.toLong) - count(lit(1))).as("n_zero_regs"),
        (sum(pow2) +
          (lit(HllM.toLong) - count(lit(1))) * lit(1L << (RestBits + 1)))
          .as("reg_sum"))
      .select((gcols :+ col("n_zero_regs") :+ col("reg_sum") :+
        round(lit(HllAlpha * HllM * HllM) * lit(1L << (RestBits + 1)).cast("double") /
          col("reg_sum").cast("double"), 4).as("n_distinct_est")): _*)
  }
}
