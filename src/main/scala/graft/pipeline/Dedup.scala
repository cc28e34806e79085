package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Document deduplication for training-data pipelines: exact (hash
 * groupBy), MinHash+LSH, SimHash, and n-gram Jaccard. All operate on a
 * `docs(doc_id: long, text: string, ...)` relation.
 *
 * Scale design:
 *  - exact dedup is one shuffle on a 16-byte key (hash, never raw text);
 *  - MinHash signatures are computed map-side (one pass per doc, no
 *    shuffle); LSH banding turns O(n²) similarity into a shuffle on
 *    band-bucket keys whose groups are tiny by construction, and the
 *    pair join carries only (doc_id, doc_id) — text is re-joined only
 *    for the final verify step on the candidate set;
 *  - hash functions are engine-agnostic (md5-derived), so results are
 *    reproducible across engines (and DuckDB-checkable).
 */
object Dedup {

  /** Word n-gram shingles of a text column, as an array column.
    * Built from n-1 zip_with passes over shifted slices (n slices of
    * the token array total) — the per-shingle `slice + array_join`
    * formulation costs one array copy PER SHINGLE and measured ~2x
    * slower on the shingle stage. Texts shorter than n tokens yield a
    * single whole-text shingle. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val m = size(toks)
    val len = greatest(m - (n - 1), lit(0))
    var acc = slice(toks, lit(1), len)
    for (k <- 1 until n)
      acc = zip_with(acc, slice(toks, lit(k + 1), len),
        (a, b) => concat(a, lit(" "), b))
    when(m < n, array(array_join(toks, " "))).otherwise(acc)
  }

  /**
   * MinHash signature, 16 hash functions from 4 md5 calls per shingle:
   * hash i = 8-hex-char (32-bit) chunk i%4 of md5((i/4):shingle),
   * minimized lexicographically (hex order == numeric order —
   * engine-agnostic determinism, and 4x less digest work than one md5
   * per hash function; at corpus scale the md5s are the dominant cost
   * of the signature stage).
   */
  val MinhashFunctions = 16
  private val seedsPerDoc = 4

  /**
   * (doc_id, sig) signatures via explode + 16 partial-min aggregates.
   * This shape matters: a single projection computes the 4 md5s ONCE
   * per shingle row, and the mins combine map-side before the shuffle.
   * (A pure-Column form — one `array_min(transform(...))` per hash over
   * the per-shingle digests — would copy the digest expression into
   * every lambda, since Catalyst does not CSE (common-subexpression-
   * eliminate) through higher-order lambdas: 16x the digest work,
   * measured 31s vs 2s at sf0.1.)
   */
  def minhashSignatures(docs: DataFrame, shingleWords: Int = 3,
      numHashes: Int = MinhashFunctions): DataFrame =
    docs.select(col("doc_id"),
        explode(wordShingles(col("text"), shingleWords)).as("s"))
      .select(col("doc_id"),
        concat((0 until seedsPerDoc).map(j => md5(concat(lit(s"$j:"), col("s")))): _*).as("hx"))
      .groupBy(col("doc_id"))
      .agg(min(substring(col("hx"), 1, 8)).as("m0"),
        (1 until numHashes).map(i =>
          min(substring(col("hx"), i * 8 + 1, 8)).as(s"m$i")): _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))

  /**
   * LSH banding: a `numHashes`-long signature array -> array of
   * (band, bucket-hash) keys, one per band of `numHashes / bands`
   * positions. Docs sharing any band bucket are candidate pairs. A band
   * count that does not divide the signature is refused: `bands >
   * numHashes` gives empty bands, so every document would share every
   * bucket and the search would silently become an all-pairs join.
   */
  private[graft] def lshBandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    require(bands >= 1 && numHashes % bands == 0,
      s"LSH bands=$bands must be >= 1 and divide numHashes=$numHashes")
    val rows = numHashes / bands
    bandTagged(bands)(b => md5(array_join(slice(sig, b * rows + 1, rows), ",")))
  }

  /** `bands` band keys "b|key(b)": tagging each key with its band keeps
    * equal keys of different bands in different buckets. Shared by the
    * MinHash, SimHash and sign-LSH bandings. */
  private[pipeline] def bandTagged(bands: Int)(key: Int => Column): Column =
    array((0 until bands).map(b => concat_ws("|", lit(b.toString), key(b))): _*)

  /** Band-keyed view of a (doc_id, sig) signature table: (doc_id, sig,
    * bucket), one row per band — the blocking relation of every MinHash
    * search, and the static side `EventStream.incrementalDedupStream`
    * joins against (pre-explode it once and checkpoint it, rather than
    * exploding per micro-batch). */
  def bandedIndex(sigs: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(lshBandKeys(col("sig"), numHashes, bands)).as("bucket"))

  /** MinHash estimate of the Jaccard similarity of two `numHashes`-long
    * signatures: the fraction of positions where they agree. */
  private[graft] def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    (size(filter(zip_with(a, b, (x, y) => x === y), (m: Column) => m)) /
      lit(numHashes.toDouble)).as("est_jaccard")

  /** Band self-join of a (bucket, ...) relation: each pair of rows that
    * share a bucket, once per bucket, as (bucket, id_a, a…, id_b, b…)
    * with id_a < id_b; `a` and `b` pick and alias each side's payload. */
  private[pipeline] def bandPairs(keyed: DataFrame, id: String, a: Seq[Column],
      b: Seq[Column]): DataFrame =
    keyed.select((col("bucket") +: col(id).as("id_a") +: a): _*)
      .join(keyed.select((col("bucket") +: col(id).as("id_b") +: b): _*), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))

  /** Hot-bucket cap of a (bucket, ...) relation — the block-purging step
    * of blocking: a bucket shared by k rows costs k²/2 join rows, so
    * every bucket holding more than `maxBucketSize` rows is dropped as
    * non-discriminative (boilerplate-heavy corpora put whole template
    * families into one bucket). Costs one extra aggregation on the band
    * keys; recall for pairs in RARE buckets is untouched, and a pair can
    * still surface through its other bands. `maxBucketSize <= 0` is off
    * (the relation is returned as is) — with the cap on, the result is
    * a deliberate subset. */
  private[pipeline] def capBuckets(keyed: DataFrame, maxBucketSize: Long): DataFrame =
    if (maxBucketSize <= 0L) keyed
    else keyed.join(keyed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucketSize)
      .select(col("bucket")), Seq("bucket"))

  /**
   * Runs a pair search over `side` and returns its ids-only result
   * eagerly checkpointed. `side` is lazily persisted for the search (NOT
   * eagerly checkpointed: an eager localCheckpoint costs ~2.2s at sf0.1
   * to materialize while the whole signature stage costs ~0.6s): the
   * first join side populates the cache within the same action and the
   * second reads it, so the signing lineage runs once, not twice. On a
   * cluster at corpus scale, write signatures to a snapshot table
   * instead (Checkpoints.runStage) and join from that.
   *
   * A side the caller already cached is used as is and left cached: the
   * "sign once, search many" entry point ([[candidatesFromSigs]]) takes
   * a table the caller may keep across searches — unpersisting THAT
   * would evict it after the first search and silently re-sign the
   * corpus on the next one. Otherwise the side is released once the
   * result is checkpointed — without that, every call would leak one
   * cached relation into a shared session for its lifetime (checkpoint
   * blocks are ContextCleaner-collected once the caller drops the
   * result).
   */
  private[pipeline] def searchOnce(side: DataFrame)(search: DataFrame => DataFrame): DataFrame = {
    val callerCached = side.storageLevel != StorageLevel.NONE
    val s = if (callerCached) side else side.persist(StorageLevel.MEMORY_AND_DISK)
    try search(s).localCheckpoint(true)
    finally if (!callerCached) s.unpersist(false)
  }

  /**
   * ONE-PASS JVM minhash signature — byte-exact the same result as
   * [[minhashSignatures]] (same shingles, same md5-chunk hash family,
   * same lexicographic hex minima) computed in a single per-document
   * loop: no shingle row explosion (the relational form multiplies
   * rows by ~token count before its partial-min aggregation) and NO
   * shuffle at all — the signature stage becomes a pure map-side
   * projection via the codegen expression
   * graft.functions.MinhashSigExpr. Minima are tracked as unsigned
   * 32-bit values read straight from the digest bytes (fixed-width
   * lowercase hex compares identically to the unsigned numeric order),
   * so the inner loop allocates nothing per chunk.
   */
  def minhashSigArray(text: String, shingleWords: Int = 3,
      numHashes: Int = MinhashFunctions): Array[String] = {
    require(numHashes <= seedsPerDoc * 4, s"numHashes $numHashes > ${seedsPerDoc * 4}")
    val toks = text.split(" ", -1)
    val m = toks.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(sh: String): Unit = {
      val shB = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var j = 0
      while (j * 4 < numHashes) {
        md.reset()
        md.update(('0' + j).toByte)
        md.update(':'.toByte)
        md.update(shB)
        val d = md.digest()
        val lim = math.min(4, numHashes - j * 4)
        var c = 0
        while (c < lim) {
          val v = ((d(c * 4) & 0xffL) << 24) | ((d(c * 4 + 1) & 0xffL) << 16) |
            ((d(c * 4 + 2) & 0xffL) << 8) | (d(c * 4 + 3) & 0xffL)
          val i = j * 4 + c
          if (v < mins(i)) mins(i) = v
          c += 1
        }
        j += 1
      }
    }
    if (m < shingleWords) feed(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= m - shingleWords) {
        sb.setLength(0)
        var k = 0
        while (k < shingleWords) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        feed(sb.toString)
        i += 1
      }
    }
    mins.map(v => f"$v%08x")
  }

  /** (doc_id, sig) via the one-pass codegen expression: zero-shuffle
    * signatures, identical output to [[minhashSignatures]] (tested). */
  def minhashSignaturesOnePass(docs: DataFrame, shingleWords: Int = 3,
      numHashes: Int = MinhashFunctions): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions
        .minhash_sig(col("text"), shingleWords, numHashes).as("sig"))

  /**
   * Engine-agnostic FAST signatures: 16 hash functions from Spark's
   * codegen xxhash64 (seeded by position), one explode pass + 16
   * map-side partial mins — for pipelines that don't need cross-engine
   * reproducibility. ~10x less digest work than the md5 form above
   * (md5 is the dominant signature cost at corpus scale); the trade is
   * that xxhash64 is Spark-specific, so there is no DuckDB oracle —
   * only self-consistency (same planted near-dups found, tested).
   */
  def minhashSignaturesFast(docs: DataFrame, shingleWords: Int = 3,
      numHashes: Int = MinhashFunctions): DataFrame =
    docs.select(col("doc_id"),
        explode(wordShingles(col("text"), shingleWords)).as("s"))
      .groupBy(col("doc_id"))
      .agg(min(xxhash64(lit(0), col("s"))).as("m0"),
        (1 until numHashes).map(i =>
          min(xxhash64(lit(i), col("s"))).as(s"m$i")): _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i").cast("string")): _*).as("sig"))

  /**
   * Map-side FAST signature from a pre-computed shingle-array column —
   * the SAME xxhash64 family and values as [[minhashSignaturesFast]]
   * (min over shingles of xxhash64(i, s), stringified), but computed as
   * per-row `array_min(transform(...))` with no explode and no
   * aggregation: usable where a groupBy is unavailable or undesirable
   * (streaming micro-batches sign each arriving doc in-projection —
   * EventStream.incrementalDedupStream(fast = true)). Takes the SHINGLE
   * column, not the text, so the caller materializes shingles once in a
   * prior projection — Catalyst does not CSE through higher-order
   * function lambdas, and inlining [[wordShingles]] here would
   * re-tokenize the text once per hash function (16x).
   */
  def fastSigFromShingles(shingles: Column,
      numHashes: Int = MinhashFunctions): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(shingles, s => xxhash64(lit(i), s)))
        .cast("string")): _*)

  /**
   * MinHash/LSH near-duplicate candidate pairs with estimated Jaccard
   * (fraction of matching signature positions). `docs` must have
   * (doc_id, text). Returns (id_a, id_b, est_jaccard), id_a < id_b.
   */
  def minhashCandidates(docs: DataFrame, shingleWords: Int = 3,
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    // one-pass codegen signatures (byte-exact equal to the relational
    // form, which remains as the cross-checked reference): the entire
    // signature stage is map-side, so the only shuffle left in the
    // candidate search is the band-bucket join itself
    candidatesFromSigs(
      minhashSignaturesOnePass(docs, shingleWords, numHashes), numHashes, bands)

  /** [[minhashCandidates]] on the xxhash64 fast signatures — the
    * throughput path when cross-engine reproducibility isn't needed. */
  def minhashCandidatesFast(docs: DataFrame, shingleWords: Int = 3,
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    candidatesFromSigs(
      minhashSignaturesFast(docs, shingleWords, numHashes), numHashes, bands)

  /** Candidate pairs from an existing (doc_id, sig) signature table —
    * the snapshot-table entry point: sign once (`minhashSignatures*`,
    * checkpointed per batch), search many times without touching the
    * corpus text. Returns (id_a, id_b, est_jaccard), id_a < id_b. */
  def candidatesFromSigs(sigs: DataFrame, numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    searchOnce(sigs) { s =>
      bandPairs(bandedIndex(s, numHashes, bands), "doc_id",
          Seq(col("sig").as("sig_a")), Seq(col("sig").as("sig_b")))
        .select(col("id_a"), col("id_b"),
          estJaccard(col("sig_a"), col("sig_b"), numHashes))
        .distinct()
    }

  /**
   * Incremental near-dup candidates: a NEW document batch against an
   * EXISTING corpus signature table — the production shape of dedup at
   * 100 TB. A daily crawl increment must NOT recompute (or even
   * re-scan the text of) the accumulated corpus: the signature table
   * IS the persistent dedup index (one `Checkpoints.runStage` write
   * per batch, appended), and each increment costs O(|new|) signature
   * work plus one band-bucket join against the index.
   *
   * Emits both pair kinds a batch decision needs: new-vs-corpus
   * (within_batch = false, every matching corpus doc) and new-vs-new
   * inside the batch (within_batch = true, id_new < id_other — same
   * convention as [[minhashCandidates]]).
   *
   * `fast` selects the signature FAMILY for the new batch and MUST
   * match how the index was signed: false = md5 one-pass
   * ([[minhashSignaturesOnePass]], the cross-engine-reproducible
   * family), true = xxhash64 ([[minhashSignaturesFast]], the
   * throughput family Main's dedup stage writes). Mixing families
   * would make every bucket key miss — zero candidates, silently.
   *
   * Output: (id_new, id_other, within_batch, est_jaccard).
   */
  def incrementalCandidates(newDocs: DataFrame, corpusSigs: DataFrame,
      shingleWords: Int = 3, numHashes: Int = 16, bands: Int = 4,
      fast: Boolean = false): DataFrame = {
    val newSigs = if (fast) minhashSignaturesFast(newDocs, shingleWords, numHashes)
      else minhashSignaturesOnePass(newDocs, shingleWords, numHashes)
    searchOnce(newSigs) { s =>
      def side(sigs: DataFrame, within: Boolean): DataFrame =
        bandedIndex(sigs, numHashes, bands).select(col("bucket"),
          col("doc_id").as("id_other"), col("sig").as("sig_b"),
          lit(within).as("within_batch"))
      bandedIndex(s, numHashes, bands)
        .select(col("bucket"), col("doc_id").as("id_new"), col("sig").as("sig_a"))
        .join(side(corpusSigs, within = false).unionByName(side(s, within = true)),
          Seq("bucket"))
        .filter(col("id_new") =!= col("id_other") &&
          (!col("within_batch") || col("id_new") < col("id_other")))
        .select(col("id_new"), col("id_other"), col("within_batch"),
          estJaccard(col("sig_a"), col("sig_b"), numHashes))
        .distinct()
    }
  }

  /** Exact n-gram Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val ua = array_distinct(a)
    val ub = array_distinct(b)
    val inter = size(array_intersect(ua, ub)).cast("double")
    val union = size(array_union(ua, ub)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /**
   * 60-bit SimHash from word features: token hash = first 15 hex chars
   * of md5(word) (60 bits — fits signed 64-bit in every engine), bit b
   * of the result set iff strictly more than half the tokens have bit b
   * set. Pure JVM function; exposed to Catalyst as the codegen
   * expression graft.functions.SimHash64Expr and restated in SQL by the
   * q51 oracle.
   */
  val SimhashBits = 60
  def simhash64(text: String): Long = {
    val counts = new Array[Int](SimhashBits)
    var n = 0
    text.split(" ").foreach { w =>
      if (w.nonEmpty) {
        n += 1
        val h = java.lang.Long.parseLong(md5Hex(w).substring(0, 15), 16)
        var b = 0
        while (b < SimhashBits) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) { if (2 * counts(b) > n) out |= (1L << b); b += 1 }
    out
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /**
   * Band keys of a simhash: `bands` contiguous chunks of `bits/bands`
   * bits each, tagged with the band index. Two simhashes within small
   * Hamming distance agree exactly on at least one chunk with high
   * probability (guaranteed when distance < bands, by pigeonhole) — the
   * Hamming-ball analog of MinHash LSH banding (the multi-table
   * fingerprint-chunk scheme of Manku et al., "Detecting Near-Duplicates
   * for Web Crawling", WWW'07 §3).
   */
  def simhashBandKeys(sh: Column, bands: Int = 4, bits: Int = SimhashBits): Column = {
    val w = bits / bands
    val mask = (1L << w) - 1
    bandTagged(bands)(b => shiftright(sh, b * w).bitwiseAND(lit(mask)).cast("string"))
  }

  /**
   * SimHash near-duplicate candidate pairs: codegen simhash per doc
   * (map-side), explode the band keys, bucket-join on (band, chunk),
   * verify with `bit_count(xor) <= maxHamming`. Returns
   * (id_a, id_b, hamming), id_a < id_b, distinct.
   *
   * Scale shape: NO all-pairs or adjacent-id step anywhere — candidates
   * come only from shared 15-bit buckets (32k buckets per band at the
   * default 4x15), so in-bucket population is ~n/2^15 per band and the
   * verify filter is a two-instruction codegen XOR+POPCNT. For corpora
   * where n/2^15 is still too hot, raise `bands` on a wider fingerprint
   * (the standard 64-bit/4x16 table layout) — same plan shape.
   *
   * Pipeline ordering at scale: run EXACT dedup first (q40's md5(text)
   * groupBy) and feed only canonical docs here — a template-heavy
   * corpus puts whole exact-duplicate families into one bucket, and the
   * pair list among k identical docs is k²/2 rows that exact dedup
   * would have collapsed to one representative for free. What survives
   * of a template family is what `maxBucketSize > 0` caps
   * ([[capBuckets]]; off by default).
   */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 20,
      bands: Int = 4, maxBucketSize: Long = 0L): DataFrame = {
    val sh = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("sh"))
    searchOnce(sh) { s =>
      val keyed = s.select(col("doc_id"), col("sh"),
        explode(simhashBandKeys(col("sh"), bands)).as("bucket"))
      bandPairs(capBuckets(keyed, maxBucketSize), "doc_id",
          Seq(col("sh").as("sh_a")), Seq(col("sh").as("sh_b")))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
    }
  }

  /**
   * Rolling (Rabin-Karp) window fingerprints: polynomial hash base 257
   * mod 2^61-1 over a sliding char window, sampled content-defined
   * (emitted when the window hash's low `maskBits` bits are zero, ~one
   * per 2^maskBits positions) — the sampling is SHIFT-INVARIANT, so
   * fingerprints of unedited regions survive insertions elsewhere
   * (unlike fixed-stride sampling or the bag-of-words fingerprint).
   * O(n) per document, one pass.
   */
  def rollingFingerprints(text: String, window: Int = 32, maskBits: Int = 4): Vector[Long] = {
    val Mod = (1L << 61) - 1
    val Base = 257L
    // 128-bit product reduction mod 2^61-1 (2^61 ≡ 1)
    def mulMod(a: Long, b: Long): Long = {
      val hi = java.lang.Math.multiplyHigh(a, b)
      val lo = a * b
      var r = (lo & Mod) + ((hi << 3) | (lo >>> 61))
      while (r >= Mod) r -= Mod
      r
    }
    if (text.length < window) {
      var h = 0L
      var i = 0
      while (i < text.length) { h = (mulMod(h, Base) + text.charAt(i)) % Mod; i += 1 }
      return Vector(h)
    }
    // precompute Base^(window-1) for the rolling subtraction
    var pow = 1L
    for (_ <- 1 until window) pow = mulMod(pow, Base)
    val out = Vector.newBuilder[Long]
    var h = 0L
    var i = 0
    while (i < text.length) {
      if (i >= window) {
        val drop = mulMod(text.charAt(i - window).toLong, pow)
        h = (h - drop + Mod) % Mod
      }
      h = (mulMod(h, Base) + text.charAt(i)) % Mod
      if (i >= window - 1 && (h & ((1L << maskBits) - 1)) == 0L) out += h
      i += 1
    }
    out.result()
  }

  /**
   * EXACT edit-distance-1 self-join via deletion-neighborhood blocking
   * — fuzzy entity-name matching for KG canonicalization (two surface
   * forms that differ by one typo are merge candidates the exact-match
   * redirect joins can never see). Input: any relation + a string
   * column; output all unordered pairs (name_a < name_b) of DISTINCT
   * values at Levenshtein distance ≤ 1.
   *
   * Blocking is COMPLETE for distance ≤ 1 (FastSS / Bocek et al. 2007):
   * each string s emits keys {s} ∪ {delete_i(s)}. A substitution at i
   * shares delete_i; an insertion/deletion means one string IS a
   * deletion of the other, which meets that other's identity key. So
   * candidates ⊇ true pairs, and the Levenshtein verify (codegen
   * built-in) makes the result exact — the oracle can state the
   * all-pairs definition directly.
   *
   * SCALE: O(L) keys per name (vs the O(n²) all-pairs join); a
   * deletion bucket's population is intrinsically ≤ (L+1)·(|Σ|+1)
   * (every member reconstructs the key by one insertion), so there is
   * NO flooded-bucket failure mode to cap, unlike LSH bands. The join
   * shuffles 8-byte xxhash64 KEY HASHES, not the ~name-length key
   * strings ((L+1) of them per name — the stage's shuffle-byte bill at
   * 10^9 names); a hash collision can only ADD a candidate pair, never
   * drop one, and the exact Levenshtein verify removes it — the result
   * is collision-proof EXACT (spec-pinned with a deliberately tiny
   * 2-bit key space). Run on the DISTINCT name relation (names are
   * Zipf-repeated; dedup first is the same guidance as the MinHash
   * tier).
   */
  def editDistancePairs(rel: DataFrame, name: Column): DataFrame =
    editDistancePairsKeyed(rel, name, k => xxhash64(k))

  /** [[editDistancePairs]] with an explicit key->join-key mapping —
    * package-private so specs can force a tiny key space (maximal
    * collisions) and pin that the verify step absorbs ANY collision
    * rate; the public entry point uses xxhash64. */
  private[graft] def editDistancePairsKeyed(rel: DataFrame, name: Column,
      keyOf: Column => Column): DataFrame = {
    // empty strings are excluded: sequence(1, 0) would step DOWNWARD
    // ([1,0]) and fabricate keys; an empty name is not an entity anyway
    val names = rel.select(name.as("name"))
      .filter(col("name").isNotNull && length(col("name")) > 0).distinct()
    // keys: the name itself + each single-character deletion, built
    // with one transform over 1..length (pure codegen, no UDF)
    val deletions = transform(
      sequence(lit(1), length(col("name"))),
      i => concat(
        col("name").substr(lit(1), i - 1),
        col("name").substr(i + 1, length(col("name")) - i)))
    val keyed = names
      .select(col("name"), explode(concat(array(col("name")), deletions)).as("kstr"))
      .distinct() // delete_i = delete_j for runs of equal chars
      .select(keyOf(col("kstr")).as("bucket"), col("name"))
    bandPairs(keyed, "name", Nil, Nil)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"))
      .distinct() // a pair can meet on several shared keys
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
  }

  /** The set joins take their threshold as the rational tauNum/tauDen
    * in (0, 1], so every filter is integer cross-multiplication. */
  private def requireTau(tauNum: Int, tauDen: Int): Unit =
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1], got $tauNum/$tauDen")

  /** (tok, df): the number of documents of a (doc_id, tok) relation of
    * distinct per-doc tokens that hold each token. */
  private def docFreq(toks: DataFrame): DataFrame =
    toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))

  /** (doc_id, arr, sz): each document's distinct tokens sorted
    * rarest-first (df asc, tok asc) — the global order the prefix
    * filters' completeness proofs assume. A struct sort gives that
    * total order without materializing a global rank (no
    * single-partition row_number over the vocabulary). */
  private def rarestFirst(toks: DataFrame): DataFrame =
    toks.join(docFreq(toks), "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ts"))
      .select(col("doc_id"),
        transform(col("ts"), s => s.getField("tok")).as("arr"),
        size(col("ts")).as("sz"))

  /** Exact verify input: each (doc_a, doc_b) candidate with both docs'
    * rarest-first arrays and sizes gathered from `sorted` (arr_a, sza,
    * arr_b, szb) and their overlap `c` — full token ARRAYS re-join only
    * for the candidate set, and intersect map-side. */
  private def withOverlap(cands: DataFrame, sorted: DataFrame): DataFrame = {
    def side(s: String) = sorted.select(col("doc_id").as(s"doc_$s"),
      col("arr").as(s"arr_$s"), col("sz").as(s"sz$s"))
    cands.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .withColumn("c", size(array_intersect(col("arr_a"), col("arr_b"))))
  }

  /** Prefix length p = L − ⌈t·L⌉ + 1 of a rarest-first array of size
    * `sz` at t = tauNum/tauDen: the ceiling is (num·L + den − 1)
    * integer-divided by den (longs stay exact; the cast truncates an
    * already-integral value). */
  private def prefixLen(tauNum: Int, tauDen: Int): Column =
    (col("sz") - ((lit(tauNum.toLong) * col("sz") + lit(tauDen - 1))
      / lit(tauDen)).cast("int") + 1).as("p")

  /**
   * EXACT Jaccard-threshold similarity self-join via prefix filtering
   * (AllPairs, Bayardo et al. WWW'07 / PPJoin, Xiao et al. 2008) — the
   * zero-recall-loss counterpart of the MinHash/SimHash tiers: every
   * pair of documents whose distinct-token sets have Jaccard ≥
   * tauNum/tauDen is emitted, none missed, none spurious. Use it when
   * the dedup decision must be auditable ("we removed exactly the
   * ≥0.9-similar pairs"), where LSH's probabilistic recall is a
   * liability.
   *
   * Blocking is COMPLETE: order every doc's tokens rarest-global-df
   * first (ties by token), take the prefix of length
   * p(L) = L − ⌈t·L⌉ + 1, and join prefixes on shared tokens. Proof:
   * let w be the globally-first common token of a qualifying pair. If
   * w were outside A's prefix, A would have ≥ p(La) tokens before w,
   * all outside B, so |A∩B| ≤ La − p(La) = ⌈t·La⌉ − 1 < ⌈t·La⌉ ≤
   * |A∩B| (Jaccard ≥ t forces |A∩B| ≥ t·max(La,Lb)) — contradiction;
   * symmetrically for B. So w sits in BOTH prefixes and the pair is a
   * candidate. The threshold is a RATIONAL tauNum/tauDen and every
   * filter is integer cross-multiplication — no float boundary can
   * disagree with the DuckDB oracle's restated definition.
   *
   * SCALE: no all-pairs step. Shuffles: token df count (vocab-sized
   * output), df join back (corpus-token-sized, the unavoidable one),
   * per-doc sort+collect, prefix self-join, two id-keyed verify joins.
   * Rarest-first prefixes keep join buckets small by construction — a
   * stopword enters a prefix only for docs so short that even their
   * common tokens rank early, and the length filter
   * (min ≥ t·max, integer form) prunes inside the join. At t = 0.9 a
   * 100-token doc exposes 11 of its rarest tokens; candidates per doc
   * ≈ sum of those tokens' prefix-df, orders below n. The verify step
   * re-joins full token ARRAYS only for the candidate set (the same
   * "ids until the end" discipline as the LSH tiers).
   */
  def jaccardJoinExact(docs: DataFrame, id: Column, text: Column,
      tauNum: Int = 9, tauDen: Int = 10): DataFrame = {
    val (sorted, meets) = jaccardCandidateMeets(docs, id, text, tauNum, tauDen)
    val cands = meets
      .select(col("doc_a"), col("doc_b"))
      .distinct() // a pair can meet on several shared prefix tokens
    // exact verify on the candidate set only: gather both token arrays,
    // intersect map-side, keep tauDen*common >= tauNum*union (integer)
    withOverlap(cands, sorted)
      .filter(lit(tauDen.toLong) * col("c") >=
        lit(tauNum.toLong) * (col("sza") + col("szb") - col("c")))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("sza") + col("szb") - col("c")))
          .as("jac"))
  }

  /**
   * The blocking stage of [[jaccardJoinExact]]: (sorted token relation,
   * candidate MEET rows before the pair distinct). Package-private with
   * filter toggles so specs can MEASURE each filter's residual cut on
   * the adversarial corpus; production always runs both (they are both
   * provably complete, see the proofs at the filter sites).
   */
  private[graft] def jaccardCandidateMeets(docs: DataFrame, id: Column,
      text: Column, tauNum: Int, tauDen: Int,
      posFilter: Boolean = true, sigFilter: Boolean = true): (DataFrame, DataFrame) = {
    requireTau(tauNum, tauDen)
    // distinct non-empty whitespace tokens per doc; empty-token removal
    // BEFORE distinct so "a  b" and "a b" tokenize identically
    val toks = docs
      .select(id.as("doc_id"), explode(array_distinct(
        array_remove(split(coalesce(text, lit("")), " "), ""))).as("tok"))
    // materialized ONCE (localCheckpoint): the plan consumes this
    // relation four times (both prefix sides + both verify gathers) and
    // would otherwise recompute the explode+join+collect chain each time
    // wsig: 64-bit token-set signature (OR of 1 << (xxhash64(tok) mod
    // 64)) — 8 extra bytes per prefix row that power the signature
    // filter below (the PPJoin+ suffix-filter role: bound the overlap
    // from information BEYOND prefix positions, before the distinct
    // exchange ever sees the row)
    val sorted = rarestFirst(toks)
      .withColumn("wsig", expr(
        "aggregate(arr, CAST(0 AS BIGINT), (acc, t) -> " +
          "acc | shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(t), 64) AS INT)))"))
      .localCheckpoint(true)
    val p = prefixLen(tauNum, tauDen)
    // the candidate join meets on the token's 8-byte xxhash64, not the
    // token string — the prefix relations are the stage's shuffle-byte
    // bill at corpus scale and the string is dead weight there: a hash
    // collision can only ADD a candidate pair, never drop one, and the
    // exact verify (full-array intersection) removes it — the same
    // collision-proof-exact argument as editDistancePairs' keyed join
    val pref = sorted.select(col("doc_id"), col("sz"), col("wsig"),
        posexplode(slice(col("arr"), lit(1), p)).as(Seq("i0", "tok")))
      .select(col("doc_id"), col("sz"), col("wsig"), col("i0"),
        xxhash64(col("tok")).as("kh"))
    val ca = pref.select(col("kh"), col("doc_id").as("doc_a"),
      col("sz").as("sza"), (col("i0") + 1).as("ia"), col("wsig").as("wsa"))
    val cb = pref.select(col("kh"), col("doc_id").as("doc_b"),
      col("sz").as("szb"), (col("i0") + 1).as("ib"), col("wsig").as("wsb"))
    // PPJoin positional filter (complete): a qualifying pair's FIRST
    // common token w, met at 1-based positions (ia, ib), has every
    // earlier token of A outside B (the array order IS the global
    // order), so overlap ≤ 1 + min(La−ia, Lb−ib); Jaccard ≥ t needs
    // overlap·(num+den) ≥ num·(La+Lb). Rows of a qualifying pair at
    // LATER meets may be pruned — the first-meet row always survives,
    // and distinct keeps the pair. On low-entropy vocabularies (where
    // rarest-first prefixes concentrate on the same few tokens) this
    // prunes the join fan-out inside the codegen residual, BEFORE the
    // distinct exchange ever sees it.
    // all filter arithmetic in LONGs (like the prefix length and the
    // verify): Int products would wrap silently for large tauDen or
    // very long docs and DROP qualifying pairs from an EXACT join
    val posBound = (lit(1L) + least(col("sza") - col("ia"),
      col("szb") - col("ib"))) * lit(tauNum.toLong + tauDen.toLong) >=
      lit(tauNum.toLong) * (col("sza") + col("szb"))
    // SIGNATURE filter (the PPJoin+ suffix-filter role, Xiao et al.
    // 2008 §4, in Hamming-signature form — cf. the signature-based
    // set-join filters surveyed in Mann et al. VLDB'16): every XOR bit
    // between the two 64-bit token-set signatures is set on exactly
    // one side, and a token of that side hashing to that bit cannot be
    // in the other doc (its bit would be set there too), so distinct
    // XOR bits witness distinct symmetric-difference tokens:
    // |AΔB| >= bit_count(wsa ^ wsb), hence
    // overlap = (sza+szb-|AΔB|)/2 <= (sza+szb-bit_count)/2. COMPLETE:
    // never drops a qualifying pair (the bound only ever over-admits —
    // same-side hash collisions merely weaken it). Jaccard >= num/den
    // needs 2*overlap*(num+den) >= 2*num*(sza+szb); substitute the
    // bound (already doubled, so the /2 never leaves integers).
    val sigBound = (col("sza") + col("szb") -
      bit_count(col("wsa").bitwiseXOR(col("wsb"))).cast("long")) *
      lit(tauNum.toLong + tauDen.toLong) >=
      lit(2L * tauNum) * (col("sza") + col("szb"))
    val cond = ca("kh") === cb("kh") && col("doc_a") < col("doc_b") &&
      // length filter: min >= t*max, both directions, integer form
      lit(tauDen.toLong) * col("sza") >= lit(tauNum.toLong) * col("szb") &&
      lit(tauDen.toLong) * col("szb") >= lit(tauNum.toLong) * col("sza")
    val cond1 = if (posFilter) cond && posBound else cond
    val cond2 = if (sigFilter) cond1 && sigBound else cond1
    (sorted, ca.join(cb, cond2))
  }

  /**
   * Exact CONTAINMENT join (asymmetric set overlap — "A is quoted
   * inside B"): all ORDERED pairs with |A∩B|/|A| ≥ num/den, A ≠ B,
   * over each document's DISTINCT `shingleN`-word shingle set. The
   * symmetric Jaccard join (q105) structurally misses this case: a
   * 30-token license header verbatim inside a 3000-token file has
   * Jaccard ≈ 0.01 but containment 1.0 — the quote / boilerplate /
   * benchmark-leak shape a contamination audit needs. Shingles (not
   * unigrams) keep the relation sharp: unigram containment on a
   * small-vocabulary corpus degenerates toward all-pairs.
   *
   * Blocking (complete): A's shingles sort rarest-first (global df
   * order) and only the PREFIX of length LA − ⌈t·LA⌉ + 1 is indexed;
   * the container side indexes ALL its shingles — containment puts no
   * lower bound on |B|, so B has no prefix; its full posting list is
   * the inherent index of the problem (exactly the inverted index
   * every quote detector builds). Proof of no-miss: if B misses every
   * prefix shingle of A it misses ≥ LA − ⌈t·LA⌉ + 1 of A's shingles,
   * so |A∩B| ≤ ⌈t·LA⌉ − 1 < t·LA. Verify gathers the two arrays and
   * checks den·|A∩B| ≥ num·LA in integer arithmetic.
   *
   * Scale: the quote side ships (1−t)·LA + 1 rows per doc; the
   * posting side is the corpus shingle relation; fan-out per prefix
   * shingle is its df — and rarest-first makes that the smallest df
   * available. Shuffles carry (shingle-hash… here shingle, id, size)
   * only; arrays re-join only on the candidate set.
   *
   * `maxDf` (opt-in) is the MOSS common-code elimination ported from
   * [[winnowingPairs]]: shingles seen in more than `maxDf` documents
   * are dropped from BOTH index sides before the candidate join, so
   * no posting list — and hence no per-prefix-shingle fan-out — can
   * exceed maxDf even when a corpus-wide boilerplate shingle survives
   * into a quote's rarest-first prefix (the license-header workload
   * where every quote shingle is corpus-common). Documented recall
   * trade: a pair is found only if at least one SHARED prefix shingle
   * has df ≤ maxDf; a quote composed entirely of corpus-common
   * shingles is reported as boilerplate-by-construction and skipped
   * — exactly MOSS's position that idiom shared by hundreds of files
   * is not a quote. Verification is unchanged (exact integer check
   * over the FULL arrays), so the cap can only lower recall, never
   * emit a false positive or move a containment value.
   */
  def containmentJoinExact(docs: DataFrame, tauNum: Int = 9,
      tauDen: Int = 10, shingleN: Int = 3,
      maxDf: Option[Int] = None): DataFrame = {
    requireTau(tauNum, tauDen)
    require(maxDf.forall(_ >= 2),
      s"containmentJoinExact: maxDf=$maxDf must be >= 2")
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(wordShingles(col("text"), shingleN))).as("tok"))
    // Hot set materialized once (it is boilerplate-sized, not
    // corpus-sized) so the two anti-joins below don't each re-run the
    // corpus df aggregate.
    val hotOpt = maxDf.map(cap =>
      docFreq(toks).filter(col("df") > cap).select(col("tok")).localCheckpoint(true))
    val sorted = rarestFirst(toks)
      .localCheckpoint(true) // consumed by the prefix, postings, and both verify sides
    val p = prefixLen(tauNum, tauDen)
    val prefA0 = sorted.select(col("doc_id").as("doc_a"),
      explode(slice(col("arr"), lit(1), p)).as("tok"))
    val postB0 = sorted.select(col("doc_id").as("doc_b"),
      explode(col("arr")).as("tok"))
    // Common-code elimination: the hot set (df > maxDf) is small by
    // construction — boilerplate shingles, not the corpus — so the
    // anti-joins prune both index sides without a corpus-sized shuffle
    // of their own (AQE broadcasts the hot side when it fits). The
    // anti-join runs on the TRUE shingle (a hash collision here could
    // silently widen the elimination); only the candidate join below
    // switches to the hash.
    val (prefA, postB) = hotOpt match {
      case Some(hot) =>
        (prefA0.join(hot, Seq("tok"), "left_anti"),
          postB0.join(hot, Seq("tok"), "left_anti"))
      case None => (prefA0, postB0)
    }
    // candidate join on the shingle's 8-byte xxhash64 instead of the
    // 3-word string — the posting relation is the operator's shuffle-
    // byte bill at corpus scale; collisions only ADD candidates and
    // the exact full-array verify removes them (the editDistancePairs
    // keyed-join argument)
    val cands = prefA.select(xxhash64(col("tok")).as("kh"), col("doc_a"))
      .join(postB.select(xxhash64(col("tok")).as("kh"), col("doc_b")), Seq("kh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    withOverlap(cands, sorted)
      .filter(lit(tauDen.toLong) * col("c") >= lit(tauNum.toLong) * col("sza"))
      .select(col("doc_a"), col("doc_b"),
        round(col("c").cast("double") / col("sza").cast("double"), 6)
          .as("containment_r6"))
  }

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
   * the MOSS code-plagiarism selector): token k-grams hash to 60-bit
   * md5 prefixes, and each sliding window of `w` consecutive gram
   * hashes selects its RIGHTMOST MINIMAL hash (the robust winnowing
   * rule), deduplicated by position. Guarantees: any shared substring
   * of ≥ w+k−1 tokens yields at least one shared fingerprint
   * (no-miss), and expected density is 2/(w+1) fingerprints per gram
   * — a bounded, position-aware sketch that the rolling-fingerprint
   * passage miner (q95) does not give (it samples by content mask,
   * winnowing guarantees per-window coverage).
   *
   * Implementation: grams are one map-side pass (`transform` over the
   * token array — no explode until the gram relation, which carries
   * only (doc_id, pos, hash) longs); the window selection is a
   * per-doc window frame `rows [0, w−1]` taking min over
   * (hash, −pos) structs — rightmost-tie for free from lexicographic
   * struct order; selection dedups to DISTINCT (doc_id, hash, pos).
   *
   * Returns (doc_id, pos, h): the fingerprint set.
   */
  def winnowingFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4)
      : DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing: k=$k, w=$w must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val grams = docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= k + w - 1)
      .withColumn("ng", size(col("t")) - k + 1)
      .select(col("doc_id"), col("ng"), posexplode(
        transform(sequence(lit(0), size(col("t")) - k),
          i => array_join(slice(col("t"), i + lit(1), lit(k)), " ")))
        .as(Seq("pos", "gram")))
      .withColumn("h", Sketches.h60(col("gram")))
      .drop("gram")
    val wf = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      .rowsBetween(0, w - 1)
    grams
      .withColumn("pick", min(struct(col("h"), (-col("pos")).as("np"))).over(wf))
      .filter(col("pos") <= col("ng") - w) // full windows only
      .select(col("doc_id"), (-col("pick.np")).as("pos"),
        col("pick.h").as("h"))
      .distinct()
  }

  /**
   * MOSS-style match report over [[winnowingFingerprints]]: candidate
   * document pairs ranked by the number of DISTINCT shared
   * fingerprint hashes, after dropping fingerprints seen in more than
   * `maxDf` documents — the common-code elimination step MOSS applies
   * for boilerplate (a fingerprint in hundreds of files is idiom, not
   * plagiarism) which simultaneously bounds the self-join fan-out at
   * maxDf² per hash. Shuffles carry only (doc_id, h) longs.
   */
  def winnowingPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
      maxDf: Int = 5): DataFrame = {
    require(maxDf >= 2, s"winnowingPairs: maxDf=$maxDf must be >= 2")
    val fps = winnowingFingerprints(docs, k, w)
      .select(col("doc_id"), col("h").as("bucket")).distinct()
    // its own df cap, not capBuckets: counting rows instead of distinct
    // docs gives the same df here but moves q125's aggregate plan
    val rare = fps.groupBy(col("bucket"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("bucket"))
    bandPairs(fps.join(rare, Seq("bucket")), "doc_id", Nil, Nil)
      .groupBy(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .agg(countDistinct(col("bucket")).as("n_shared"))
  }
}
