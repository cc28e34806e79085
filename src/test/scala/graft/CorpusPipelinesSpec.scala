package graft

import graft.fixtures.CorpusGen
import graft.functions.TextFunctions
import graft.pipeline.{NerCorpus, TopicCorpus}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * End-to-end flagship pipelines over the synthetic corpus + NT fixture
 * files written to disk (exercising the Spark text source path for S4/S5
 * loaders) — the analog of the reference's local-mode script runs.
 */
class CorpusPipelinesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val corpus = CorpusGen.generate(808) // 8 alias files at i%101∈{99,100}
  private def files = spark.createDataset(corpus.map(_.file))

  private def writeNt(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-nt")
    Files.writeString(dir.resolve("data.nt"), lines.mkString("\n"))
    dir.toString
  }

  test("ner-corpus chain: typed annotated sentences with sha256 invariant") {
    // entity types NT: every dictionary entity has a type; one generic row
    val typeNt = CorpusGen.dictionary.values.toSeq.distinct.flatMap { e =>
      CorpusGen.langs.map { lang =>
        val uri = TextFunctions.nameToUri(e, lang)
        s"<$uri> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://graft.dev/ontology/Component> ."
      }
    } :+ s"<http://graft.dev/scala/entity/HashJoin> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Thing> ."
    val ntDir = writeNt(typeNt)
    val entityTypes = NerCorpus.readUriUriNt(spark, ntDir,
      predicateFilter = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    assert(entityTypes.count() == typeNt.size)

    val typeNames = Seq(("http://graft.dev/ontology/Component", "component"))
      .toDF("typeUri", "typeName")
    val out = NerCorpus.run(files, CorpusGen.dictionary, entityTypes, typeNames)
      .collect()
    assert(out.nonEmpty)
    // every annotated sentence wraps at least one span with the type name
    out.foreach { r =>
      assert(r.getAs[String]("annotated").contains("<START:component>"), r)
      assert(r.getAs[String]("annotated").contains("<END>"))
      assert(r.getAs[String]("sha256").length == 64)
    }
    // sha256 invariant: every row's hash matches the source file content
    val byUri = corpus.map(g =>
      TextFunctions.nameToUri(s"${g.file.repo}/${g.file.path}", g.file.lang) ->
        TextFunctions.sha256Hex(g.file.content)).toMap
    out.foreach { r =>
      assert(byUri(r.getAs[String]("uri")) == r.getAs[String]("sha256"))
    }
  }

  test("entity contexts: one capped profile per entity (ne-disambiguation analog)") {
    val mentions = graft.pipeline.Mentions.extract(files, CorpusGen.dictionary)
    val ctx = graft.pipeline.NerCorpus.entityContexts(mentions).collect()
    assert(ctx.nonEmpty)
    val total = mentions.count()
    assert(ctx.map(_.getAs[Long]("n_occurrences")).sum == total)
    ctx.foreach { r =>
      val c = r.getAs[String]("context")
      assert(c.nonEmpty && c.length <= 100000 + 200 + 1)
    }
    // deterministic across runs (explicit sort key)
    val again = graft.pipeline.NerCorpus.entityContexts(
      graft.pipeline.Mentions.extract(files, CorpusGen.dictionary)).collect()
    assert(ctx.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("annotated merge golden: char-offset spans") {
    val got = TextFunctions.mergeAnnotatedChars(
      "John Smith works at Smith Consulting .",
      Seq((0, 10, "person"), (20, 36, "organization")))
    assert(got ==
      "<START:person> John Smith <END> works at <START:organization> Smith Consulting <END> .")
  }

  test("topic-corpus chain: checkpointed stages, multi-store, HAVING gate") {
    val outDir = Files.createTempDirectory("graft-topic").toString
    // topic graph: root -> t1 -> {t2, t3}, t3 -> t1 cycle; edges are (narrower, broader)
    val edges = Seq(("t1", "root"), ("t2", "t1"), ("t3", "t1"), ("t1", "t3"),
      ("isolated", "isolated"))
      .toDF("src", "dst").filter(col("src") =!= col("dst")) // self-loop removal (P3)
    val grounding = Seq(("t1", "e1"), ("t1", "e2"), ("t2", "e1"))
      .toDF("topic", "entity")
    val goodText = (1 to 40).map(i => s"w$i").mkString(" ")
    val abstractsNt = Seq(
      s"""<e1> <http://graft.dev/ontology#abstract> "$goodText"@en .""",
      s"""<e2> <http://graft.dev/ontology#abstract> "too short"@en .""",
      s"""<t1> <http://graft.dev/ontology#abstract> "$goodText"@en .""")
    val abstracts = NerCorpus.readUriLiteralNt(spark, writeNt(abstractsNt))
    val roots = Seq("root").toDF("root")

    val counts = TopicCorpus.run(spark, edges, grounding, abstracts, roots, outDir)
    assert(counts("topics") == 4) // root, t1, t2, t3 (isolated dropped)
    assert(counts("corpus") == 2) // t1 (2 abstracts), t2 (1)
    // multi-store artifacts exist and agree
    val tsv = spark.read.option("sep", "\t").csv(s"$outDir/topics_tsv")
    val nt = spark.read.text(s"$outDir/topics_nt")
    assert(tsv.count() == 2 && nt.count() == 2)
    assert(nt.as[String].collect().forall(_.endsWith("@en .")))
    // resumability: rerun reuses committed stages (same counts, fast path)
    val counts2 = TopicCorpus.run(spark, edges, grounding, abstracts, roots, outDir)
    assert(counts2 == counts)
    // ancestry respects the cycle guard: t1 never repeats on a path
    val anc = spark.read.parquet(s"$outDir/stages/05_ancestry")
    val paths = anc.select("path").as[String].collect()
    assert(paths.contains("root/t1/t2"))
    assert(!paths.exists(p => p.split("/").count(_ == "t1") > 1))
  }

  /** A taxonomy under "root": `levels` levels of `width` topics, each
    * topic grounded by two entities with good abstracts. */
  private def taxonomy(levels: Int, width: Int) = {
    val topics = for (l <- 1 to levels; i <- 0 until width) yield s"t$l-$i"
    val edges = topics.map { t =>
      val Array(l, i) = t.drop(1).split("-").map(_.toInt)
      t -> (if (l == 1) "root" else s"t${l - 1}-${i / 2}")
    }.toDF("src", "dst")
    val grounding = topics.flatMap(t => Seq(t -> s"e$t-a", t -> s"e$t-b")).toDF("topic", "entity")
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val abstracts = (topics.map(t => s"e$t-a") ++ topics.map(t => s"e$t-b") ++ topics)
      .map(e => (e, s"$text $e", "en")).toDF("subject", "object", "lang")
    (edges, grounding, abstracts, Seq("root").toDF("root"))
  }

  private val branchStages = Set("01_degrees", "02_grounded", "05_ancestry", "06_abstracts")

  test("topic-corpus branches run concurrently, each stage in its own job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (edges, grounding, abstracts, roots) = taxonomy(levels = 5, width = 24)
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (!props.exists(_.getProperty(SparkTestSession.DrainMark) != null)) started.put(e.jobId,
          (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""), e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (g, t0) => spans.add((g, t0, e.time)) }
    }
    sc.addSparkListener(listener)
    val counts = try {
      val out = Files.createTempDirectory("graft-topic-par").toString
      val c = TopicCorpus.run(spark, edges, grounding, abstracts, roots, out)
      SparkTestSession.drainListeners()
      c
    } finally sc.removeSparkListener(listener)
    assert(counts == Map("topics" -> 121L, "grounded" -> 121L, "ancestry" -> 121L,
      "corpus" -> 120L))
    import scala.jdk.CollectionConverters._
    val jobs = spans.asScala.toSeq
    val overlapping = for {
      (g1, s1, e1) <- jobs; (g2, s2, e2) <- jobs
      if g1 < g2 && s1 < e2 && s2 < e1
    } yield (g1, g2)
    assert(overlapping.nonEmpty, s"no two stage groups ran at once: $jobs")
    // every job of the chain carries its stage's group; the caller's stays unset
    assert(jobs.map(_._1).toSet == branchStages, jobs.map(_._1).distinct)
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("a failing topic-corpus branch leaves its siblings committed; a rerun resumes") {
    val (edges, grounding, abstracts, roots) = taxonomy(levels = 3, width = 4)
    val out = Files.createTempDirectory("graft-topic-fail").toString
    val cp = new graft.pipeline.Checkpoints(spark, s"$out/stages")
    // no `object`: 02_grounded and 06_abstracts cannot plan, their siblings commit
    intercept[org.apache.spark.sql.AnalysisException] {
      TopicCorpus.run(spark, edges, grounding, abstracts.drop("object"), roots, out)
    }
    assert(cp.committedStages() == Seq("01_degrees", "05_ancestry"))
    // no `entity`: only 06_abstracts reads it; the rerun commits 02_grounded alone
    intercept[org.apache.spark.sql.AnalysisException] {
      TopicCorpus.run(spark, edges, grounding.drop("entity"), abstracts, roots, out)
    }
    assert(cp.committedStages() == Seq("01_degrees", "02_grounded", "05_ancestry"))
    def manifests = Seq("01_degrees", "02_grounded", "05_ancestry").map(s =>
      Files.getLastModifiedTime(java.nio.file.Paths.get(s"$out/stages/$s/_MANIFEST")))
    val before = manifests
    val resumed = TopicCorpus.run(spark, edges, grounding, abstracts, roots, out)
    assert(cp.committedStages() == branchStages.toSeq.sorted)
    assert(manifests == before) // only 06_abstracts committed on the good rerun
    val clean = TopicCorpus.run(spark, edges, grounding, abstracts, roots,
      Files.createTempDirectory("graft-topic-clean").toString)
    assert(resumed == clean)
  }

  test("NT loader exact counts + last-row golden (TestUriUriNTriplesLoader style)") {
    // 110 valid rows + malformed/comment/filtered lines interleaved —
    // mirrors the reference's assertEquals(110, ...) fixture discipline
    val valid = (1 to 110).map(i =>
      s"<http://db.org/resource/E$i> <http://db.org/ontology/type> <http://db.org/class/C${i % 7}> .")
    val noise = Seq(
      "# a comment line",
      "<http://a> <http://b> .",                      // 3 tokens
      "<http://a> <http://b> \"literal\" .",          // literal object
      "<http://a> <http://otherpred> <http://c> .",   // filtered out below
      "")
    val dir = writeNt(scala.util.Random.shuffle(valid ++ noise).toSeq)
    val all = NerCorpus.readUriUriNt(spark, dir)
    assert(all.count() == 111) // 110 + the otherpred row
    val filtered = NerCorpus.readUriUriNt(spark, dir,
      predicateFilter = "http://db.org/ontology/type",
      subjNs = "http://db.org/resource/", objNs = "http://db.org/class/")
    assert(filtered.count() == 110)
    val last = filtered.orderBy(col("subject")).collect().last
    assert(last.getString(0) == "E99") // lexicographic max of E1..E110
    assert(last.getString(1) == "C1")  // 99 % 7 = 1
  }

  test("NT sink with gzip compression round-trips (K2 compression-by-suffix)") {
    val dir = Files.createTempDirectory("graft-nt-gz").toString + "/out"
    val df = Seq(("A", "B"), ("C", "café")).toDF("subj", "obj")
    graft.pipeline.TripleMaterialize.uriUriLines(df, "http://p", "http://s/", "http://o/")
      .write.option("compression", "gzip").text(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".txt.gz")), files.mkString(","))
    val back = spark.read.text(dir).as[String].collect().toSet
    assert(back == Set(
      "<http://s/A> <http://p> <http://o/B> .",
      "<http://s/C> <http://p> <http://o/caf\\u00E9> ."))
  }

  test("NT sink infers codec from path suffix (.bz2/.gz), explicit codec overrides") {
    val base = Files.createTempDirectory("graft-nt-suffix").toString
    val df = Seq(("A", "B")).toDF("subj", "obj")
    val lines = graft.pipeline.TripleMaterialize.uriUriLines(df, "http://p", "", "")
    // .bz2 suffix -> splittable bzip2 files
    graft.pipeline.TripleMaterialize.writeNtLines(lines, s"$base/out.nt.bz2")
    val bz = new java.io.File(s"$base/out.nt.bz2").listFiles().map(_.getName)
    assert(bz.exists(_.endsWith(".txt.bz2")), bz.mkString(","))
    assert(spark.read.text(s"$base/out.nt.bz2").as[String].collect().toSet ==
      Set("<A> <http://p> <B> ."))
    // .gz suffix -> gzip
    graft.pipeline.TripleMaterialize.writeNtLines(lines, s"$base/out.nt.gz")
    assert(new java.io.File(s"$base/out.nt.gz").listFiles()
      .exists(_.getName.endsWith(".txt.gz")))
    // explicit codec wins over the suffix (the conf-flag path)
    graft.pipeline.TripleMaterialize.writeNtLines(lines, s"$base/plain.nt.gz", codec = "none")
    assert(new java.io.File(s"$base/plain.nt.gz").listFiles()
      .exists(f => f.getName.endsWith(".txt")))
    // no suffix -> uncompressed
    graft.pipeline.TripleMaterialize.writeNtLines(lines, s"$base/plain.nt")
    assert(spark.read.text(s"$base/plain.nt").count() == 1)
  }

  test("capped abstracts respect the HAVING-style min filter") {
    val grounding = Seq(("t1", "e1"), ("t2", "e9missing")).toDF("topic", "entity")
    val abstracts = Seq(("e1", "some text", "en")).toDF("subject", "object", "lang")
    val out = TopicCorpus.topicAbstracts(grounding, abstracts, minAbstracts = 1)
      .collect()
    assert(out.map(_.getString(0)).toSeq == Seq("t1"))
    assert(out.head.getAs[String]("safeText") == "\"some text\"")
  }
}
