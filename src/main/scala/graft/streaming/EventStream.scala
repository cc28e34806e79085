package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming surface. The reference is purely batch (SURVEY
 * §1.1 — no streaming to replicate), but the engine exposes the events
 * table as a stream for incremental KG maintenance: windowed mention /
 * event aggregation with watermarking.
 *
 * `windowedCounts` is written so the SAME transform runs in batch and
 * streaming (Structured Streaming's unified Dataset semantics); the
 * batch form is what the correctness oracle checks, the streaming form
 * is exercised in tests via a memory sink.
 */
object EventStream {

  /** 5-minute tumbling-window counts per event_type. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      // parquet NTZ timestamps -> LTZ (session TZ is UTC, so a no-op
      // semantically) because event-time watermarks require TIMESTAMP
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  final case class SessionState(
      sessionId: Long, lastTs: Long, startTs: Long, n: Long)
  final case class SessionOut(
      user_id: Long, session_id: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  /**
   * Stateful gap-based sessionization (30-min inactivity) via
   * flatMapGroupsWithState — custom per-key state, the streaming twin
   * of SparkEntry q16's batch window formulation. Emits closed sessions;
   * the open session flushes on timeout (or at end-of-stream in tests
   * via a final watermark-past batch).
   */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id").cast("long"), col("event_id").cast("long"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
    // microsecond precision end-to-end (Timestamp.getTime truncates to
    // millis; the parquet timestamps carry micros)
    def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def fromMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def fn(userId: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(r => (micros(r._3), r._2))
      val out = Seq.newBuilder[SessionOut]
      var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
      sorted.foreach { case (_, _, ts) =>
        val t = micros(ts)
        if (st.n > 0 && t - st.lastTs <= gapSeconds * 1000000L) {
          st = st.copy(lastTs = t, n = st.n + 1)
        } else {
          if (st.n > 0)
            out += SessionOut(userId, st.sessionId, st.n,
              fromMicros(st.startTs), fromMicros(st.lastTs))
          st = SessionState(st.sessionId + 1, t, t, 1L)
        }
      }
      state.update(st)
      out.result().iterator
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /**
   * Streaming exact dedup — the streaming twin of the batch exact-dedup
   * operator (q40's md5(text) groupBy): keep the first event per key.
   * Uses `dropDuplicatesWithinWatermark`, which EVICTS each key's state
   * once the watermark passes its event time — plain
   * `dropDuplicates(keys)` without the event-time column in the keys
   * keeps state forever (unbounded growth on a 100 TB ingest); with the
   * ts column in the keys it would dedup (key, ts) pairs, a different
   * operator. Semantics: duplicates arriving within the watermark delay
   * of the first occurrence are dropped; later re-occurrences start a
   * new "first" — exactly the training-ingest contract.
   */
  def dedupStream(events: DataFrame, keys: Seq[String] = Seq("user_id", "event_type")): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keys)

  /**
   * Streaming NEAR-duplicate dedup for a document ingest: key the
   * within-watermark dedup by the 60-bit simhash (codegen expression)
   * instead of the raw text — near-identical documents (template
   * re-crawls, boilerplate mirrors) collapse to the same fingerprint
   * and only the first survives; state is one 8-byte key per distinct
   * fingerprint in the watermark window. Exact-simhash match is the
   * streaming-feasible contract (per-event Hamming-ball search needs a
   * stateful join — that's the batch job `Dedup.simhashCandidates` on
   * the landed table); identical and trivially-edited docs hash equal,
   * which is the bulk of ingest duplication.
   */
  def nearDedupStream(docs: DataFrame, tsCol: String = "ts"): DataFrame =
    docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withColumn("sh", graft.functions.GraftFunctions.simhash64(col("text")))
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark("sh")

  /**
   * Streaming incremental dedup — the continuous-crawl twin of
   * `Dedup.incrementalCandidates` (q82): each arriving document is
   * signed in the micro-batch (map-side, in-projection) and band-joined
   * against the STATIC banded index. Stream-static joins keep no
   * state for the static side — the index rides as a regular build
   * side (broadcast when small, shuffled otherwise), so this scales
   * exactly like the batch search, per micro-batch.
   *
   * `bandedIndex` is the pre-exploded (doc_id, sig, bucket) view of the
   * corpus signature table — build it once with `Dedup.bandedIndex` over
   * the checkpointed (doc_id, sig) stage and snapshot it (a raw
   * signature table is NOT accepted here: exploding band keys per
   * micro-batch would redo the same corpus-wide work every trigger).
   *
   * `fast` selects the signature FAMILY for the arriving docs and MUST
   * match how the index was signed — the same contract as
   * `Dedup.incrementalCandidates`: false = md5 one-pass codegen
   * signatures (`minhash_sig`, cross-engine-reproducible), true =
   * xxhash64 (`Dedup.fastSigFromShingles`, value-identical to
   * `minhashSignaturesFast` — the family Main's 07_sig_index stage
   * writes). Mixing families makes every bucket key miss — zero
   * candidates, silently.
   *
   * Output stream: (doc_id, dup_of, est_jaccard, ts) — one row per
   * (new doc, matching corpus doc) candidate. The multi-band pair
   * dedup uses `dropDuplicatesWithinWatermark`, so its state EVICTS
   * as the `ts` watermark advances (a plain streaming dropDuplicates
   * without the event-time key never evicts — the round-1 dedupStream
   * lesson).
   */
  def incrementalDedupStream(docs: DataFrame, bandedIndex: DataFrame,
      numHashes: Int = 16, bands: Int = 4, tsCol: String = "ts",
      fast: Boolean = false): DataFrame = {
    val dedup = graft.pipeline.Dedup
    val marked = docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, "10 minutes")
    val signed =
      if (fast) marked
        // shingles materialized once, then the 16 per-row minima read
        // them (Catalyst does not CSE through HOF lambdas)
        .withColumn("_shingles", dedup.wordShingles(col("text"), 3))
        .withColumn("sig", dedup.fastSigFromShingles(col("_shingles"), numHashes))
      else marked
        .withColumn("sig", graft.functions.GraftFunctions.minhash_sig(col("text")))
    val newKeyed = signed
      .select(col("doc_id"), col("sig"), col(tsCol),
        explode(dedup.lshBandKeys(col("sig"), numHashes, bands)).as("bucket"))
    val idx = bandedIndex.select(col("bucket"),
      col("doc_id").as("dup_of"), col("sig").as("sig_b"))
    newKeyed.join(idx, Seq("bucket"))
      .filter(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id"), col("dup_of"),
        dedup.estJaccard(col("sig"), col("sig_b"), numHashes), col(tsCol))
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
  }

  /**
   * Streaming triple extraction — the continuous-crawl form of the
   * flagship batch pipeline (`Triples.mentionTriples`): each
   * micro-batch of arriving code files is parsed map-side (same
   * `CodeParser`/`Segmenter` chain, broadcast dictionary) and its
   * mention targets resolve against a STATIC canonical-alias snapshot
   * — the `03_closure` stage a periodic batch job maintains. Closure
   * is iterative and belongs in batch; the stream does a stream-static
   * left join, which keeps NO state for the static side, so per-trigger
   * cost is O(|batch|) regardless of corpus history. Per-pipeline
   * distinct uses `dropDuplicatesWithinWatermark` on (subj, obj), so
   * dedup state EVICTS as event time advances instead of accumulating
   * the whole triple history (the round-1 dedupStream lesson).
   *
   * Input: streaming files with CodeFile columns + `ts`; canon
   * (src, root) static. Output: append stream (subj, pred, obj, ts).
   */
  def tripleStream(files: DataFrame, canon: DataFrame,
      dict: Map[String, String], tsCol: String = "ts"): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val dictB = spark.sparkContext.broadcast(dict)
    val mentions = files
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        col("content"), col(tsCol))
      .as[(String, String, String, String, String, java.sql.Timestamp)]
      .flatMap { case (repo, path, commit, lang, content, ts) =>
        val p = graft.parse.CodeParser.parse(
          graft.core.CodeFile(repo, path, commit, lang, content), dictB.value)
        if (p.aliasTarget.isDefined) Iterator.empty
        else graft.parse.Segmenter.sentencesWithMentions(p).iterator
          .map(m => (m.uri, m.target, ts))
      }
      .toDF("uri", "target", tsCol)
      // the watermark must attach to the column AS EMITTED by the typed
      // flatMap — a tag applied before it is lost with the object
      // round-trip, and the downstream within-watermark dedup requires it
      .withWatermark(tsCol, "10 minutes")
    mentions
      .join(canon.withColumnRenamed("src", "target"), Seq("target"), "left_outer")
      .select(col("uri").as("subj"),
        lit("http://graft.dev/ontology#mentions").as("pred"),
        coalesce(col("root"), col("target")).as("obj"),
        col(tsCol))
      .dropDuplicatesWithinWatermark("subj", "obj")
  }

  /**
   * Streaming ANN against a static sign-LSH index — the embedding twin
   * of [[incrementalDedupStream]]: each arriving probe vector is
   * band-keyed in the micro-batch (map-side seeded projections, the
   * `RandProjBitsExpr` codegen path) and joined against the
   * pre-exploded `Similarity.signLshIndex` snapshot; candidates above `tau`
   * exact cosine are emitted. Stream-static joins keep NO state for
   * the static side, so per-trigger cost is O(|batch| · bucket
   * population) regardless of index size — the same scaling as the
   * batch band search.
   *
   * Bucket granularity and bands are read FROM the index metadata
   * (mismatch impossible by construction); the projection seed must
   * equal this engine's [[graft.pipeline.Similarity.ProjSeed]] or the
   * join is refused — a foreign-seed index hashes every vector into
   * unrelated buckets and would return zero candidates silently.
   *
   * Output: append stream (probe_id, cand_id, cos, ts), one row per
   * above-threshold candidate; multi-band duplicate hits are evicted
   * by `dropDuplicatesWithinWatermark` as event time advances. A
   * top-k per probe is a BATCH shape (global sort per key is not
   * expressible in append mode) — downstream consumers rank the
   * threshold matches per micro-batch if they need k-best.
   */
  def annStream(probes: DataFrame, lshIndex: DataFrame, tau: Double,
      tsCol: String = "ts"): DataFrame = {
    val marked = probes
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, "10 minutes")
    graft.pipeline.Similarity.indexBandProbe(marked, lshIndex, tau, col(tsCol))
      .withColumnRenamed("vec_id", "probe_id")
      .dropDuplicatesWithinWatermark("probe_id", "cand_id")
  }

  /**
   * Stream-stream interval join — the streaming twin of the batch
   * range join (Temporal.rangeJoin / q63): clicks landing within 30
   * minutes after a signup of the same user, both sides watermarked so
   * the join STATE is bounded (each side's buffered rows are evicted
   * once the watermark passes the interval bound — without the time
   * condition + watermarks, stream-stream join state grows forever).
   */
  def clickAttribution(clicks: DataFrame, signups: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val su = signups
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "10 minutes")
    c.join(su,
      col("c_user") === col("s_user") &&
        col("click_ts") >= col("signup_ts") &&
        col("click_ts") <= col("signup_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("click_id"), col("signup_id"), col("c_user").as("user_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("signup_ts")))
          .as("delta_sec"))
  }

  /** Read the events parquet as a bounded stream (for tests).
    * FileStreamSource requires a directory of files, so the single-file
    * table is exposed through a temp directory symlink. */
  def readEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema: StructType = spark.read.parquet(s"$sfDir/events.parquet").schema
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    val link = dir.resolve("events.parquet")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    // test-only surface: reap the per-call scratch dir at JVM exit.
    // deleteOnExit deletes in REVERSE registration order, so register
    // the dir first and the link second — the link goes first at exit,
    // leaving the dir empty when its own hook runs
    dir.toFile.deleteOnExit()
    link.toFile.deleteOnExit()
    spark.readStream.schema(schema).parquet(dir.toString)
  }
}
