package graft

import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * Structured Streaming surface: the SAME windowedCounts transform runs
 * in batch and streaming; streaming (memory sink, processAllAvailable)
 * must equal batch on the bounded events table.
 */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("stateful sessionization matches the batch window formulation") {
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    // batch truth from the q16 formulation
    val batch = SparkEntry.queries("q16_sessionize")(spark, sfDir)
    // closed sessions only: flatMapGroupsWithState emits a session when
    // the NEXT one opens, so each user's final session stays in state
    val lastPerUser = batch.groupBy("user_id")
      .agg(max(col("session_id")).as("last_id"))
    val closedBatch = batch.join(lastPerUser, Seq("user_id"))
      .filter(col("session_id") < col("last_id"))
      .select("user_id", "session_id", "n_events", "session_start", "session_end")
      .collect().map(_.toString).sorted.toSeq

    val q = EventStream.sessionize(EventStream.readEventStream(spark, sfDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions_out")
        .select("user_id", "session_id", "n_events", "session_start", "session_end")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty)
      assert(streamed == closedBatch)
    } finally q.stop()
  }

  test("incremental KG: mention extraction runs unchanged on a stream") {
    // the SAME typed flatMap pipeline (parse -> segment -> mentions)
    // over readStream — incremental KG maintenance with zero code change
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    def toFiles(df: org.apache.spark.sql.DataFrame) = df.select(
      col("source").as("repo"),
      concat(lit("doc/"), col("doc_id")).as("path"),
      md5(col("text")).as("commit"),
      col("lang"),
      col("text").as("content")).as[graft.core.CodeFile]
    val dict = SparkEntry.dict.map { case (sf, e, _) => (sf, e) }.toMap

    val batch = graft.pipeline.Mentions.extract(
      toFiles(spark.read.parquet(s"$sfDir/documents.parquet")), dict)
      .toDF().collect().map(_.toString).sorted.toSeq

    val stream = graft.pipeline.Mentions.extract(
      toFiles(spark.readStream.schema(schema).parquet(dir.toString)), dict)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("mentions_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mentions_out").collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("incremental triples: streaming mentions resolve against the static closure") {
    // stream-static join — new files arrive as a stream, their mention
    // targets resolve against the existing (static, broadcastable)
    // alias closure, emitting resolved triples incrementally; output
    // equals the batch pipeline on the bounded input
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val dir = java.nio.file.Files.createTempDirectory("graft-triples-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    def toFiles(df: org.apache.spark.sql.DataFrame) = df.select(
      col("source").as("repo"),
      concat(lit("doc/"), col("doc_id")).as("path"),
      md5(col("text")).as("commit"),
      col("lang"),
      col("text").as("content")).as[graft.core.CodeFile]
    val dict = SparkEntry.dict.map { case (sf, e, _) => (sf, e) }.toMap
    // static closure over a small synthetic alias graph on mention targets
    val someTargets = graft.pipeline.Mentions
      .extract(toFiles(spark.read.parquet(s"$sfDir/documents.parquet")), dict)
      .select(col("target")).distinct().as[String].collect().sorted.take(2)
    val canon = graft.pipeline.Redirects.transitiveClosure(
      someTargets.map(t => (t, "http://graft.dev/canonical/Root")).toSeq.toDF("src", "dst"))

    def resolve(mentions: org.apache.spark.sql.DataFrame) = mentions
      .join(broadcast(canon.withColumnRenamed("src", "target")), Seq("target"), "left_outer")
      .select(col("uri").as("subj"), coalesce(col("root"), col("target")).as("obj"))

    val batch = resolve(graft.pipeline.Mentions
        .extract(toFiles(spark.read.parquet(s"$sfDir/documents.parquet")), dict).toDF())
      .distinct().collect().map(_.toString).sorted.toSeq
    assert(batch.exists(_.contains("canonical/Root")), "closure must rewrite some targets")

    val stream = resolve(graft.pipeline.Mentions
      .extract(toFiles(spark.readStream.schema(schema).parquet(dir.toString)), dict).toDF())
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("triples_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("triples_stream").distinct()
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming exact dedup keeps one row per key (batch-distinct parity)") {
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    // batch truth: the set of distinct keys
    val batchKeys = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id", "event_type").distinct()
      .collect().map(_.toString).sorted.toSeq

    val q = EventStream.dedupStream(EventStream.readEventStream(spark, sfDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_out")
      // exactly one surviving event per (user_id, event_type)
      assert(streamed.groupBy("user_id", "event_type").count()
        .filter(col("count") > 1).isEmpty)
      val streamedKeys = streamed.select("user_id", "event_type")
        .collect().map(_.toString).sorted.toSeq
      assert(streamedKeys.nonEmpty && streamedKeys == batchKeys)
    } finally q.stop()
  }

  test("streaming near-dedup collapses near-identical docs by simhash, keeps distinct ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val mirror = base // exact re-crawl
    val other = (1 to 80).map(i => s"z$i").mkString(" ")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    in.addData((0L, base, ts(0)), (1L, mirror, ts(10)), (2L, other, ts(20)))
    val q = EventStream.nearDedupStream(
        in.toDF.toDF("doc_id", "text", "ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("neardedup_out").select("doc_id")
        .as[Long].collect().toSet
      assert(got == Set(0L, 2L), s"got $got") // mirror dropped, distinct kept
    } finally q.stop()
  }

  test("streaming incremental dedup against a static index equals the batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base + " a"), (2L, base + " ab"),
      (3L, "entirely different text here")).toDF("doc_id", "text")
    val idx = graft.pipeline.Dedup.bandedIndex(
      graft.pipeline.Dedup.minhashSignaturesOnePass(corpus))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    in.addData((10L, base + " az", ts(0)), (11L, "another unrelated doc", ts(5)))
    val q = EventStream.incrementalDedupStream(
        in.toDF.toDF("doc_id", "text", "ts"), idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("incdedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("incdedup_out")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      // batch reference: the new-vs-corpus side of incrementalCandidates
      val want = graft.pipeline.Dedup.incrementalCandidates(
          Seq((10L, base + " az"), (11L, "another unrelated doc")).toDF("doc_id", "text"),
          graft.pipeline.Dedup.minhashSignaturesOnePass(corpus))
        .filter(!col("within_batch"))
        .select("id_new", "id_other").as[(Long, Long)].collect().toSet
      assert(got == want, s"stream $got vs batch $want")
      assert(got.contains((10L, 1L)), s"planted near-dup not found: $got")
    } finally q.stop()
  }

  test("streaming incremental dedup fast=true matches a FAST (xxhash64) index; md5 misses it") {
    // the index family Main's 07_sig_index stage writes — the stream
    // side must sign with the matching family or every bucket misses
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base + " a"),
      (3L, "entirely different text here")).toDF("doc_id", "text")
    val fastIdx = graft.pipeline.Dedup.bandedIndex(
      graft.pipeline.Dedup.minhashSignaturesFast(corpus))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def run(fast: Boolean, sink: String): Set[(Long, Long)] = {
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      in.addData((10L, base + " az", t0))
      val q = EventStream.incrementalDedupStream(
          in.toDF.toDF("doc_id", "text", "ts"), fastIdx, fast = fast)
        .writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        spark.table(sink).select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      } finally q.stop()
    }
    val hit = run(fast = true, "incfast_out")
    assert(hit == Set((10L, 1L)), s"fast-family stream missed the planted pair: $hit")
    // family mismatch = silent zero candidates — the documented hazard
    assert(run(fast = false, "incmixed_out").isEmpty,
      "md5 stream against an xxhash64 index cannot legitimately match")
  }

  test("streaming ANN against a static sign-LSH index equals the batch band search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(29)
    // clustered corpus so band buckets carry signal; probes = jittered
    // copies of two corpus vectors + one unrelated vector
    val corpus = (0 until 60).map { i =>
      val c = i % 6
      val base = Array.tabulate(64)(j => if (j % 6 == c) 1.0f else 0.0f)
      (i.toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.1f))
    }
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val idx = graft.pipeline.Similarity.signLshIndex(corpusDf, bits = 4, bands = 4)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val probeRows = Seq(
      (1000L, corpus(0)._2.map(_ + 0.01f), t0),
      (1001L, corpus(7)._2.map(_ + 0.01f), t0),
      (1002L, Array.fill(64)(rnd.nextGaussian().toFloat), t0))
    val in = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    in.addData(probeRows: _*)
    val q = EventStream.annStream(
        in.toDF.toDF("vec_id", "embedding", "ts"), idx, tau = 0.8)
      .writeStream.outputMode("append")
      .format("memory").queryName("ann_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ann_out")
        .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
      // batch reference: the same banding via lshTopK with k covering
      // every candidate, thresholded identically
      val want = graft.pipeline.Similarity.lshTopK(
          probeRows.map(p => (p._1, p._2)).toDF("vec_id", "embedding"),
          corpusDf, k = 1000, bits = 4, bands = 4)
        .filter(col("cos") >= 0.8)
        .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
      assert(got == want, s"stream $got vs batch $want")
      assert(got.exists(_._1 == 1000L), s"planted near-dup probe found nothing: $got")
    } finally q.stop()
  }

  test("streaming ANN refuses a foreign-seed index (family guard)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = (0 until 8).map(i => (i.toLong, Array.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val foreign = graft.pipeline.Similarity.signLshIndex(vecs, bits = 4)
      .withColumn("_seed", lit(999L)) // an index built by another engine
    val e = intercept[IllegalArgumentException] {
      EventStream.annStream(vecs.withColumn("ts", current_timestamp()), foreign, 0.9)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("streaming triple extraction equals the batch flagship pipeline") {
    // stream the corpus files against the closure snapshot a batch job
    // maintains; the (subj, obj) set must equal Triples.mentionTriples
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val files = graft.fixtures.CorpusGen.generate(256).map(_.file)
    val dict = graft.fixtures.CorpusGen.dictionary
    val batch = graft.pipeline.Triples
      .mentionTriples(spark.createDataset(files), dict)
      .as[(String, String)].collect().toSet
    // the static canon snapshot (what Main's 03_closure stage commits)
    val edges = spark.createDataset(files).toDF()
      .filter(col("content").startsWith("#ALIAS [["))
      .as[graft.core.CodeFile]
      .map(f => graft.parse.CodeParser.parse(f, dict))
      .flatMap(p => p.aliasTarget.map(t => (p.uri, t)))
      .toDF("src", "dst")
    val canon = graft.pipeline.Redirects.transitiveClosureDoubling(edges)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val in = MemoryStream[(String, String, String, String, String, java.sql.Timestamp)]
    in.addData(files.map(f =>
      (f.repo, f.path, f.commit, f.lang, f.content, t0)): _*)
    val q = EventStream.tripleStream(
        in.toDF.toDF("repo", "path", "commit", "lang", "content", "ts"), canon, dict)
      .writeStream.outputMode("append")
      .format("memory").queryName("triples_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("triples_out")
        .select("subj", "obj").as[(String, String)].collect().toSet
      assert(streamed == batch && batch.nonEmpty,
        s"stream ${streamed.size} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch range join (q63)") {
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val batch = SparkEntry.queries("q63_range_join")(spark, sfDir)
      .select("click_id", "signup_id", "user_id", "delta_sec")
      .collect().map(_.toString).sorted.toSeq
    val ev1 = EventStream.readEventStream(spark, sfDir)
    val ev2 = EventStream.readEventStream(spark, sfDir)
    val q = EventStream.clickAttribution(
        ev1.filter(col("event_type") === "click"),
        ev2.filter(col("event_type") === "signup"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attribution_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attribution_out")
        .select("click_id", "signup_id", "user_id", "delta_sec")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming Count-Min registers equal batch registers (bounded state)") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val batch = graft.pipeline.Sketches.cmsRegisters(events, col("event_type"))
      .collect().map(_.toString).sorted
    assert(batch.length <= graft.pipeline.Sketches.CmsDepth *
      graft.pipeline.Sketches.CmsWidth)
    val q = graft.pipeline.Sketches.cmsRegisters(
        EventStream.readEventStream(spark, sfDir), col("event_type"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cms_out").collect().map(_.toString).sorted
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming HLL registers equal batch registers, estimates compose") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val batch = graft.pipeline.Sketches
      .hllRegisters(events, col("value").cast("string"), Seq("event_type"))
      .collect().map(_.toString).sorted
    val q = graft.pipeline.Sketches.hllRegisters(
        EventStream.readEventStream(spark, sfDir),
        col("value").cast("string"), Seq("event_type"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hll_stream_out")
      assert(streamed.collect().map(_.toString).sorted.toSeq == batch.toSeq)
      // the snapshot is a valid register file for the batch read-off
      val est = graft.pipeline.Sketches
        .hllEstimateFromRegisters(streamed, Seq("event_type"))
      assert(est.count() > 0 && est.filter(col("n_distinct_est") <= 0).count() == 0)
    } finally q.stop()
  }

  test("streaming windowed counts equal batch result") {
    val sfDir = "/root/testdata/sf0.001"
    val batch = EventStream.windowedCounts(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .collect().map(_.toString).sorted

    val q = EventStream.windowedCounts(EventStream.readEventStream(spark, sfDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_out").collect().map(_.toString).sorted
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }
}
