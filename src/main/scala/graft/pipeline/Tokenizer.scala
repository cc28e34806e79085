package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed byte-pair-encoding (BPE) tokenizer TRAINING and
 * APPLICATION — the subword-vocabulary step every LLM pretraining
 * pipeline runs between curation and shard packing (Sennrich,
 * Haddow & Birch 2016, "Neural Machine Translation of Rare Words
 * with Subword Units", ACL; the reference corpus emitters,
 * e.g. `/root/reference/examples/ner-corpus/02_dbpedia_article_types.pig`,
 * stop at whitespace tokens — subword vocab induction is new surface).
 *
 * Semantics (the Sennrich algorithm, exactly):
 *  - the corpus is reduced to a WORD-FREQUENCY vocabulary (whitespace
 *    words); each word starts as its character sequence plus an
 *    end-of-word marker token `</w>`;
 *  - each round counts adjacent symbol pairs weighted by word
 *    frequency, picks the most frequent pair (ties: lexicographic on
 *    (left, right) — deterministic across engines/partitionings), and
 *    merges ALL its non-overlapping occurrences left-to-right
 *    simultaneously ("a a a a" + merge (a,a) → "aa aa", the third `a`
 *    of a triple stays single).
 *
 * The merge application is ONE codegen'd string `replace` per merge —
 * no UDF, no per-row loop. Plain `replace` scans left-to-right
 * non-overlapping in both Spark and DuckDB, but a single-space token
 * encoding breaks on consecutive runs (the match consumes the
 * separator shared with the next occurrence). We therefore encode
 * token strings with DOUBLE-space separators and double-space ends:
 *
 *     enc("a b c")   = "  a  b  c  "
 *     pattern (l, r) = " l  r "   →   replacement " lr "
 *
 * Each occurrence consumes exactly one space from the double
 * separator on each side, leaving one — so the double-separator
 * invariant survives every replacement, consecutive runs merge
 * exactly like the reference algorithm, token boundaries are provably
 * respected (every token is flanked by two spaces; the pattern
 * requires a space hard against both `l`'s left and `r`'s right), and
 * merges CHAIN on the same encoded string without re-encoding.
 * Because base symbols are single characters, the marker `</w>` can
 * never be forged from document content (a literal "</w>" in a word
 * char-splits to `< / w >`), and no token ever contains a space.
 *
 * Scale (the 100 TB story):
 *  - the corpus is touched ONCE (word-count groupBy, map-side partial
 *    aggregation); everything after runs on the distinct-word vocab,
 *    which grows ~Heaps-law sublinearly (10^8-ish rows at crawl scale,
 *    not 10^12);
 *  - each round shuffles the vocab-sized pair relation (≤ |word|+1
 *    rows per word, map-side partial SUM) and reads ONE argmax row via
 *    orderBy+limit(1) — a TakeOrdered, i.e. a map-side partial top-1
 *    per partition, never a global sort materialization;
 *  - merge application is a map-side expression — zero shuffle;
 *  - vocab lineage is cut per round with localCheckpoint (the same
 *    iterative-loop discipline as [[Redirects]]/[[TopicGraph]]);
 *  - production vocabularies (~30k merges) are dominated by the
 *    per-round driver round-trip, so `batch > 1` applies up to `batch`
 *    SYMBOL-DISJOINT top pairs per round (the standard scalable-BPE
 *    approximation — disjointness makes the batch's application
 *    order immaterial, so the result stays deterministic; batch = 1
 *    is exact Sennrich).
 */
object Tokenizer {

  /** End-of-word marker symbol (multi-char ⇒ unforgeable from
    * char-split content; see class doc). */
  val EndOfWord = "</w>"

  /**
   * BYTE-LEVEL alphabet (Radford et al. 2019, GPT-2's
   * bytes_to_unicode): each of the 256 UTF-8 byte values maps to one
   * printable single character — visible ASCII/Latin-1 bytes map to
   * themselves, the 68 remaining (controls, space, DEL, 0x80–0xA0,
   * 0xAD) shift into U+0100.. in ascending byte order. Consequences:
   * NO `<unk>` can exist for any input (every string decomposes to
   * known byte symbols — emoji, CJK, binary-ish content included),
   * every symbol is a single non-space character (so the double-space
   * merge encoding and the `</w>` unforgeability argument carry over
   * verbatim), and the map is a pure 256-entry table both engines
   * restate literally.
   */
  val ByteToChar: IndexedSeq[String] = {
    val printable =
      ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = -1
    (0 to 255).map { b =>
      if (printable(b)) b.toChar.toString
      else { n += 1; (256 + n).toChar.toString }
    }
  }

  /** Space-joined byte symbols of a word: UTF-8 bytes via hex pairs,
    * each mapped through the 256-entry [[ByteToChar]] array literal —
    * a pure codegen Column chain (no UDF). */
  def byteSymbols(word: Column): Column = {
    val alph = array(ByteToChar.map(lit): _*)
    val h = hex(encode(word, "UTF-8"))
    array_join(transform(
      sequence(lit(1), (length(h) / lit(2)).cast("int")),
      i => element_at(alph,
        conv(h.substr(i * 2 - 1, lit(2)), 16, 10).cast("int") + 1)), " ")
  }

  /** Double-space encode a single-space token string (see class doc). */
  private def enc(toks: Column): Column =
    concat(lit("  "), replace(toks, lit(" "), lit("  ")), lit("  "))

  /** Decode back to single-space form. */
  private def dec(e: Column): Column =
    trim(replace(e, lit("  "), lit(" ")))

  /** Apply one merge (l, r) → l+r to an ENCODED token string. */
  private def mergeEnc(e: Column, l: String, r: String): Column =
    replace(e, lit(s" $l  $r "), lit(s" $l$r "))

  /**
   * Word-frequency vocabulary with initial symbol sequences:
   * (word, freq, toks) where toks = chars joined by ' ' + ' </w>'.
   * The one corpus-wide pass; map-side partial count.
   */
  def wordVocab(docs: DataFrame, textCol: String = "text",
      byteLevel: Boolean = false): DataFrame = {
    val symbols =
      if (byteLevel) byteSymbols(col("word"))
      else concat_ws(" ", split(col("word"), ""))
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("toks", concat(symbols, lit(" " + EndOfWord)))
  }

  /**
   * Adjacent symbol-pair counts over a (word, freq, toks) vocab,
   * weighted by word frequency: (l, r, cnt). Explode is bounded by
   * symbols-per-word; SUM aggregates map-side before the exchange.
   */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val withT = vocab.select(col("freq"), split(col("toks"), " ").as("t"))
    withT
      // a fully-merged word is ONE symbol — no pairs (and sequence(0,-1)
      // would step downward into element_at(t, 0))
      .filter(size(col("t")) >= 2)
      .select(col("freq"), explode(
        transform(sequence(lit(0), size(col("t")) - 2),
          i => struct(
            element_at(col("t"), i + 1).as("l"),
            element_at(col("t"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /**
   * Learn `k` BPE merges from the corpus. Returns the merge table
   * (rank, left, right, pair_count) in learned order; stops early if
   * no pair reaches `minFreq` (then fewer than `k` rows come back).
   *
   * Driver reads per round are bounded: `batch * 4` candidate rows
   * (one row for batch = 1) — the argmax of an aggregate, same class
   * as the codebook reads in [[Similarity]]. With `batch > 1` a round
   * applies up to `batch` pairs whose symbols AND merged outputs are
   * pairwise distinct (greedy in count order), the scalable-BPE
   * approximation; pairs sharing a symbol with a higher-count pair
   * wait for the next round, so counts are always true counts at
   * application time.
   */
  def learnMerges(docs: DataFrame, k: Int, minFreq: Long = 1L,
      batch: Int = 1, textCol: String = "text",
      byteLevel: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 65536, s"learnMerges: k=$k out of range")
    require(batch >= 1, s"learnMerges: batch=$batch must be >= 1")
    val spark = docs.sparkSession
    var vocab = wordVocab(docs, textCol, byteLevel).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    while (out.size < k && !exhausted) {
      val want = math.min(batch, k - out.size)
      val top = pairCounts(vocab)
        .filter(col("cnt") >= minFreq)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(want * 4).collect()
      if (top.isEmpty) exhausted = true
      else {
        // greedy symbol-disjoint prefix of the candidate list
        val used = scala.collection.mutable.Set[String]()
        val picked = top.iterator.flatMap { row =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          val syms = Seq(l, r, l + r)
          if (syms.exists(used.contains)) None
          else { used ++= syms; Some((l, r, c)) }
        }.take(want).toSeq
        picked.foreach { case (l, r, c) => out += ((out.size + 1, l, r, c)) }
        val merged = picked.foldLeft(enc(col("toks"))) {
          case (e, (l, r, _)) => mergeEnc(e, l, r)
        }
        vocab = vocab.withColumn("toks", dec(merged)).localCheckpoint()
        if (picked.size < want && top.size < want * 4) exhausted = true
      }
    }
    spark.createDataFrame(out.toSeq)
      .toDF("rank", "left", "right", "pair_count")
  }

  /**
   * Tokenize text with a FIXED merge table (rank order): the
   * inference-side half of the trainer. One pure map-side codegen'd
   * expression chain — char-split + marker per word, one `replace`
   * per merge on the doubled encoding, zero shuffle; filters and
   * column pruning push through it. Merges never cross word
   * boundaries because no learned pair has `</w>` on the left.
   * Returns the space-joined subword token string.
   */
  def bpeTokens(text: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column = {
    val base = concat_ws(" ",
      transform(filter(split(text, " "), w => w =!= ""),
        w => concat(
          if (byteLevel) byteSymbols(w) else concat_ws(" ", split(w, "")),
          lit(" " + EndOfWord))))
    dec(merges.foldLeft(enc(base)) { case (e, (l, r)) => mergeEnc(e, l, r) })
  }

  /** Corpus-level subword histogram after applying `merges`:
    * (token, cnt). Vocab-bounded output; map-side partial count. */
  def bpeHistogram(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", byteLevel: Boolean = false): DataFrame =
    docs
      .select(explode(split(bpeTokens(col(textCol), merges, byteLevel), " "))
        .as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
}
