package graft

import graft.pipeline.{Checkpoints, Metrics, Skew}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/**
 * Resumability + skew-control + counters (the north rule's operational
 * requirements): checkpointed stages skip recompute on restart; salted
 * joins equal unsalted joins exactly; accumulators and stage metrics
 * surface per-partition lineage.
 */
class ResilienceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("salted join result is identical to the plain join") {
    val big = (1 to 1000).map(i =>
      (i.toLong, if (i % 3 == 0) "hot" else s"k${i % 17}")).toDF("id", "key")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "v")
    val plain = big.join(small, Seq("key")).select("id", "key", "v")
      .collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(big, small, "key", salts = 8, saltSource = col("id"))
      .select("id", "key", "v").collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("selective hot-key salting (MG-detector composition) equals the plain join") {
    val big = (1 to 2000).map(i =>
      (i.toLong, if (i % 2 == 0) "hot" else s"k${i % 23}")).toDF("id", "key")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k7", "B")).toDF("key", "v")
    val plain = big.join(small, Seq("key")).select("id", "key", "v")
      .collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoinHotKeys(big, small, "key",
        hotKeys = Seq("hot"), salts = 8, saltSource = col("id"))
      .select("id", "key", "v").collect().map(_.toString).sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
    // empty detector degrades to the plain join
    val none = Skew.saltedJoinHotKeys(big, small, "key",
        hotKeys = Seq.empty, salts = 8, saltSource = col("id"))
      .select("id", "key", "v").collect().map(_.toString).sorted.toSeq
    assert(none == plain)
  }

  test("selective hot-key salting preserves NULL-key rows on outer joins") {
    // a NULL key is never hot, but `!isin` evaluates NULL there — the
    // row must still reach the cold branch or left-join identity breaks
    val big = Seq((1L, "hot"), (2L, "cold"), (3L, null))
      .toDF("id", "key")
    val small = Seq(("hot", "H"), ("cold", "C")).toDF("key", "v")
    val plain = big.join(small, Seq("key"), "left_outer")
      .select("id", "key", "v").collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoinHotKeys(big, small, "key",
        hotKeys = Seq("hot"), salts = 4, saltSource = col("id"),
        joinType = "left_outer")
      .select("id", "key", "v").collect().map(_.toString).sorted.toSeq
    assert(salted == plain, s"salted $salted vs plain $plain")
    assert(plain.exists(_.contains("3")), "null-key row missing from reference")
  }

  test("production linking join (MG sketch -> selective salting) equals the plain left-outer join") {
    // Main's 04_triples shape: skewed mention targets (one ubiquitous
    // surface form), canon covering some targets, unresolved kept as-is
    val mentions = (1 to 3000).map { i =>
      val t = if (i % 2 == 0) "hot_entity" else s"ent_${i % 37}"
      (s"uri_$i", t, s"sha_$i")
    }.toDF("uri", "target", "sha256")
    val canon = Seq(("hot_entity", "HOT_ROOT"), ("ent_1", "R1"), ("ent_5", "R5"))
      .toDF("src", "root")
    val plain = mentions
      .join(canon.withColumnRenamed("src", "target"), Seq("target"), "left_outer")
      .select(col("uri"), col("target"), col("sha256"),
        coalesce(col("root"), col("target")).as("obj"))
      .collect().map(_.toString).sorted.toSeq
    val salted = graft.pipeline.Triples.linkCanonical(mentions, canon)
      .select(col("uri"), col("target"), col("sha256"), col("obj"))
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain && plain.size == 3000)
    // the hot key resolved through canon; unresolved targets kept as-is
    assert(salted.exists(_.contains("HOT_ROOT")))
    assert(salted.exists(_.contains("ent_2")))
  }

  test("salted two-phase count equals plain groupBy count") {
    val df = (1 to 5000).map(i => (i.toLong, if (i % 2 == 0) "hot" else s"k${i % 7}"))
      .toDF("id", "key")
    val plain = df.groupBy("key").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(df, "key", salts = 16, saltSource = col("id"))
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("checkpointed pipeline resumes without recomputing committed stages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val computeCalls = new AtomicInteger(0)
    def pipelineRun(): Long = {
      val cp = new Checkpoints(spark, dir)
      val s1 = cp.runStage("stage1") {
        computeCalls.incrementAndGet()
        spark.range(100).withColumn("v", col("id") * 2)
      }
      val s2 = cp.runStage("stage2") {
        computeCalls.incrementAndGet()
        s1.filter(col("v") % 4 === 0)
      }
      s2.count()
    }
    val first = pipelineRun()
    assert(computeCalls.get() == 2)
    // "restart": a fresh Checkpoints over the same dir reloads snapshots
    val second = pipelineRun()
    assert(computeCalls.get() == 2, "committed stages must not recompute")
    assert(first == second)
    val cp = new Checkpoints(spark, dir)
    assert(cp.committedStages() == Seq("stage1", "stage2"))
    // manifest carries row count + per-partition lineage
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/stage1/_MANIFEST"))
    assert(manifest.contains("\"rows\":100"))
    assert(manifest.contains("\"lineage\""))
  }

  test("manifest rows equal count() and the lineage sum; an empty stage records rows: 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-rows").toString
    val cp = new Checkpoints(spark, dir)
    def manifest(stage: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/$stage/_MANIFEST"))
    def field(m: String, f: String) =
      ("\"" + f + "\":(\\d+)").r.findAllMatchIn(m).map(_.group(1).toLong).toSeq
    val full = cp.runStage("full") {
      spark.range(0, 1000, 1, 4).filter(col("id") % 3 =!= 0).withColumn("v", col("id") * 2)
    }
    val m = manifest("full")
    val rows = field(m, "rows")
    // the first "rows" is the stage total, the rest are per-file lineage
    assert(rows.head == full.count() && rows.head == 666L)
    assert(rows.tail.nonEmpty && rows.tail.sum == rows.head, m)
    assert(cp.rows("full") == 666L)
    val empty = cp.runStage("empty") { spark.range(0, 10).filter(col("id") < 0).toDF() }
    assert(manifest("empty").contains("\"rows\":0") && cp.rows("empty") == 0L)
    assert(empty.count() == 0L && empty.columns.toSeq == Seq("id"))
  }

  test("a stage commit starts no Spark job after the write's own jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-jobs").toString
    def stage = spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 7)
      .groupBy("k").agg(count(lit(1)).as("n"))
    /** Jobs started by `body`; a marked no-op job flushes the listener. */
    def jobsDuring(body: => Unit): Int = {
      val jobs = new AtomicInteger(0)
      val flushed = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("graft.flush") != null)) flushed.countDown()
          else jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        body
        sc.setLocalProperty("graft.flush", "1")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.flush", null)
        assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally sc.removeSparkListener(listener)
      jobs.get()
    }
    val writeOnly = jobsDuring(stage.write.mode("overwrite").parquet(s"$dir/plain"))
    val committed = jobsDuring(new Checkpoints(spark, dir).runStage("s")(stage))
    assert(writeOnly > 0 && committed == writeOnly,
      s"commit ran $committed jobs, the write alone $writeOnly")
    assert(new Checkpoints(spark, dir).rows("s") == 7L)
  }

  test("a truncated manifest reads as uncommitted and the stage recomputes") {
    // a crash mid-commit (or a non-atomic copy from an older writer)
    // must never let resume trust a garbage lineage record
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-trunc").toString
    val computeCalls = new AtomicInteger(0)
    def run(): Long = new Checkpoints(spark, dir).runStage("s") {
      computeCalls.incrementAndGet()
      spark.range(50).toDF()
    }.count()
    assert(run() == 50 && computeCalls.get() == 1)
    val mf = java.nio.file.Paths.get(s"$dir/s/_MANIFEST")
    val full = java.nio.file.Files.readString(mf)
    // simulate the torn write: first half of the manifest only
    java.nio.file.Files.writeString(mf, full.take(full.length / 2))
    assert(!new Checkpoints(spark, dir).isCommitted("s"))
    assert(run() == 50)
    assert(computeCalls.get() == 2, "truncated manifest must force recompute")
    // the recompute recommitted atomically: manifest complete again
    assert(new Checkpoints(spark, dir).isCommitted("s"))
    assert(run() == 50 && computeCalls.get() == 2)
  }

  test("a manifest cut right after a lineage entry reads as uncommitted") {
    // starts with "{", names "rows" and ends in "}", yet is not a JSON object
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cut").toString
    val computeCalls = new AtomicInteger(0)
    def run(): Long = new Checkpoints(spark, dir).runStage("s") {
      computeCalls.incrementAndGet()
      spark.range(10).toDF()
    }.count()
    assert(run() == 10 && computeCalls.get() == 1)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/s/_MANIFEST"),
      """{"stage":"s","rows":10,"files":2,"lineage":[{"file":"p0","rows":5}""")
    val cp = new Checkpoints(spark, dir)
    assert(!cp.isCommitted("s") && cp.committedStages().isEmpty)
    intercept[IllegalArgumentException](cp.rows("s"))
    assert(run() == 10 && computeCalls.get() == 2, "a torn manifest must force recompute")
    assert(new Checkpoints(spark, dir).rows("s") == 10L)
    // a version manifest follows the same rule
    cp.commitVersion("t") { spark.range(5).toDF() }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t/_versions/v00001/_VMANIFEST"),
      """{"stage":"t","version":1,"rows":5,"files":1,"lineage":[{"file":"p0","rows":5}""")
    assert(cp.versions("t").isEmpty)
  }

  test("dedup stage pair resumes: keep list rebuilt from the committed sig index") {
    // the Main `dedup` stage shape: sign once (index), derive keep list;
    // a crash after the index commit must NOT re-sign the corpus
    import graft.pipeline.{Dedup, TopicGraph}
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    val signCalls = new AtomicInteger(0)
    val base = (1 to 30).map(i => s"alpha beta gamma delta$i epsilon zeta").mkString(" ")
    val docs = Seq((1L, base + " t"), (2L, base + " tz"), (3L, "other words entirely here"))
      .toDF("doc_id", "text")
    def signIndex(cp: Checkpoints) = cp.runStage("07_sig_index") {
      signCalls.incrementAndGet()
      Dedup.minhashSignaturesFast(docs)
    }
    // run 1: index only (crash before the keep stage)
    signIndex(new Checkpoints(spark, dir))
    assert(signCalls.get() == 1)
    // run 2 ("restart"): index loads from snapshot, keep list derives from it
    val cp2 = new Checkpoints(spark, dir)
    val sigs = signIndex(cp2)
    assert(signCalls.get() == 1, "committed index must not re-sign")
    val keep = cp2.runStage("08_keep_list") {
      val edges = Dedup.candidatesFromSigs(sigs)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val cc = TopicGraph.connectedComponents(edges).withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("label").isNull || col("label") === col("doc_id"), 1)
            .otherwise(0).as("keep"))
    }
    val got = keep.as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 1))
    assert(cp2.committedStages() == Seq("07_sig_index", "08_keep_list"))
  }

  test("q82 searches a PRE-BUILT signature index stage; a second run reuses it") {
    // the incremental-dedup query must measure O(|new|) work: its
    // corpus signature index is a Checkpoints stage keyed to the
    // corpus, built on first touch and reloaded (never re-signed) after
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    val manifest = java.nio.file.Paths.get(
      s"${SparkEntry.stageCacheDir(d)}/q82_sig_index/_MANIFEST")
    val n1 = SparkEntry.queries("q82_incremental_dedup")(spark, d).count()
    assert(java.nio.file.Files.exists(manifest), "index stage not committed")
    val t1 = java.nio.file.Files.getLastModifiedTime(manifest)
    val n2 = SparkEntry.queries("q82_incremental_dedup")(spark, d).count()
    assert(java.nio.file.Files.getLastModifiedTime(manifest) == t1,
      "second run must reuse the committed index stage, not rebuild it")
    assert(n1 == n2)
  }

  test("partial stage (no manifest) is recomputed on resume") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val cp = new Checkpoints(spark, dir)
    cp.runStage("s") { spark.range(10).toDF() }
    // simulate a crash mid-write on a second stage: data written, no manifest
    spark.range(5).toDF().write.parquet(s"$dir/broken")
    assert(!cp.isCommitted("broken"))
    var ran = false
    val df = cp.runStage("broken") { ran = true; spark.range(7).toDF() }
    assert(ran, "uncommitted stage must recompute")
    assert(df.count() == 7)
    assert(cp.isCommitted("broken"))
  }

  test("metrics: accumulators and per-stage records are captured") {
    val m = new Metrics(spark)
    try {
      val parsed = m.counter("files_parsed")
      val ds = spark.range(1000).as[Long].map { i => parsed.add(1); i * 2 }
      assert(ds.reduce(_ + _) == 999000L)
      assert(m.snapshot()("files_parsed") == 1000L)
      val rep = m.report()
      assert(rep.contains("\"files_parsed\":1000"))
      assert(rep.contains("\"stages\""))
    } finally m.close()
  }

  test("snapshot versions: commit log, time travel, rollback, monotone reuse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-ver").toString
    val cp = new Checkpoints(spark, dir)
    assert(cp.versions("t") == Seq.empty && cp.currentVersion("t").isEmpty)
    assert(cp.commitVersion("t") { spark.range(10).toDF() } == 1L)
    assert(cp.commitVersion("t") { spark.range(20).toDF() } == 2L)
    assert(cp.commitVersion("t") { spark.range(30).toDF() } == 3L)
    assert(cp.versions("t") == Seq(1L, 2L, 3L))
    assert(cp.currentVersion("t").contains(3L))
    // HEAD read + time travel (history stays readable after new commits)
    assert(cp.readVersion("t").count() == 30L)
    assert(cp.readVersion("t", Some(1L)).count() == 10L)
    assert(cp.readVersion("t", Some(2L)).count() == 20L)
    // rollback = pointer move; the log keeps v3 readable
    cp.rollback("t", 2L)
    assert(cp.currentVersion("t").contains(2L))
    assert(cp.readVersion("t").count() == 20L)
    assert(cp.readVersion("t", Some(3L)).count() == 30L)
    // committing after rollback allocates PAST the rolled-back version
    assert(cp.commitVersion("t") { spark.range(40).toDF() } == 4L)
    assert(cp.versions("t") == Seq(1L, 2L, 3L, 4L))
    assert(cp.readVersion("t").count() == 40L)
    // a fresh registry over the same dir sees the same log (restart)
    val cp2 = new Checkpoints(spark, dir)
    assert(cp2.currentVersion("t").contains(4L))
    assert(cp2.readVersion("t", Some(1L)).count() == 10L)
  }

  test("snapshot versions: corrupt HEAD fails loudly; uncommitted rollback refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-verbad").toString
    val cp = new Checkpoints(spark, dir)
    cp.commitVersion("t") { spark.range(5).toDF() }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t/_HEAD"), "garbage")
    intercept[IllegalStateException] { cp.currentVersion("t") }
    intercept[IllegalStateException] { cp.readVersion("t") }
    // repair is an explicit rollback to a committed version
    cp.rollback("t", 1L)
    assert(cp.readVersion("t").count() == 5L)
    intercept[IllegalArgumentException] { cp.rollback("t", 99L) }
    // a torn _VMANIFEST drops that version from the committed log
    val vm = java.nio.file.Paths.get(s"$dir/t/_versions/v00001/_VMANIFEST")
    val full = java.nio.file.Files.readString(vm)
    java.nio.file.Files.writeString(vm, full.take(full.length / 2))
    assert(new Checkpoints(spark, dir).versions("t") == Seq.empty)
  }

  test("snapshot versions: directory claim walks past a racing/stale allocation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-race").toString
    val cp = new Checkpoints(spark, dir)
    assert(cp.commitVersion("t") { spark.range(5).toDF() } == 1L)
    // a concurrent committer (or a crashed one) already CLAIMED v2:
    // its directory exists but carries no _VMANIFEST yet — the next
    // commit must not clobber it, it must allocate v3
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/t/_versions/v00002"))
    assert(cp.commitVersion("t") { spark.range(7).toDF() } == 3L)
    assert(cp.versions("t") == Seq(1L, 3L)) // v2 stays the other writer's
    assert(cp.currentVersion("t").contains(3L))
    assert(cp.readVersion("t").count() == 7L)
    // the stale claim never becomes readable without its manifest
    intercept[IllegalArgumentException] { cp.readVersion("t", Some(2L)) }
  }

  test("snapshot versions: the claim survives the overwrite window (marker file)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-claimf").toString
    val cp = new Checkpoints(spark, dir)
    assert(cp.commitVersion("t") { spark.range(5).toDF() } == 1L)
    // a concurrent committer holds ONLY the claim marker for v2 — its
    // version directory does not exist yet (or was just deleted by its
    // own overwrite). The old directory-based claim was invisible in
    // exactly this window; the marker claim must still block v2.
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/t/_versions/.claim-v00002"))
    assert(cp.commitVersion("t") { spark.range(7).toDF() } == 3L)
    assert(cp.versions("t") == Seq(1L, 3L))
    assert(cp.readVersion("t").count() == 7L)
  }
}
