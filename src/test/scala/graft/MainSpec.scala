package graft

import graft.core.Mention
import graft.fixtures.CorpusGen
import graft.parse.CodeParser
import graft.pipeline.{Checkpoints, NerCorpus, Triples}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/**
 * `Main` end to end on a generated corpus: each stage reads its inputs
 * from its prerequisites' committed snapshots, so the corpus is parsed
 * once per file (alias files once more, by the alias stage), a missing
 * prerequisite is committed rather than read raw, and a rerun over a
 * committed directory parses nothing and rewrites no finished export.
 */
class MainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val n = 256
  private val nerStages = Seq("01_mentions", "02_aliases", "03_closure", "05_ner_corpus")
  private lazy val files = spark.range(n).map(i => CorpusGen.file(i))
  private lazy val aliasFiles = (0L until n).count(i =>
    CodeParser.parse(CorpusGen.file(i), CorpusGen.dictionary).aliasTarget.isDefined)

  private def main(out: String, stages: String): Map[String, Long] =
    Main.run(spark, Array("--corpus", s"gen:$n", "--out", out, "--stages", stages))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private lazy val nerWant: Seq[String] = {
    val (entityTypes, typeNames) = Main.nerSideInputs(spark)
    rows(NerCorpus.run(files, CorpusGen.dictionary, entityTypes, typeNames))
  }

  private val allStages = "mentions,aliases,closure,ner,triples,priors"

  /** The `codegen_compiles` of the metrics line `Main.run` prints. */
  private def compilesOf(out: String, stages: String): Long = {
    val log = new java.io.ByteArrayOutputStream()
    Console.withOut(log)(main(out, stages))
    """"codegen_compiles":(\d+)""".r.findFirstMatchIn(log.toString).get.group(1).toLong
  }

  // first in the suite: the first run must meet plans no earlier test
  // of this suite compiled
  test("a second identical Main.run compiles fewer generated classes than the first") {
    val first = compilesOf(Files.createTempDirectory("graft-main-cg1").toString, allStages)
    val second = compilesOf(Files.createTempDirectory("graft-main-cg2").toString, allStages)
    assert(first > 0 && second < first, s"first run $first compiles, second $second")
  }

  test("ner stage over committed snapshots equals NerCorpus.run; a rerun parses nothing") {
    val out = Files.createTempDirectory("graft-main").toString
    val first = main(out, "mentions,aliases,closure,ner")
    assert(aliasFiles > 0 && first("files_parsed") == n + aliasFiles)
    assert(nerWant.nonEmpty)
    assert(rows(spark.read.parquet(s"$out/stages/05_ner_corpus")) == nerWant)
    val again = main(out, "mentions,aliases,closure,ner")
    assert(again("files_parsed") == 0)
  }

  test("--stages ner alone commits its prerequisites and gives the same rows") {
    val out = Files.createTempDirectory("graft-main-ner").toString
    val counters = main(out, "ner")
    val cp = new Checkpoints(spark, s"$out/stages")
    assert(nerStages.forall(cp.isCommitted), cp.committedStages())
    assert(counters("files_parsed") == n + aliasFiles)
    assert(rows(spark.read.parquet(s"$out/stages/05_ner_corpus")) == nerWant)
  }

  test("a stage directory without a manifest is recomputed, not read") {
    val out = Files.createTempDirectory("graft-main-torn").toString
    // parquet data but no _MANIFEST: an uncommitted snapshot
    Seq(Mention("bogus:uri", 1, "bogus:target", 0, 1, "x", "0" * 64)).toDF()
      .write.parquet(s"$out/stages/01_mentions")
    val counters = main(out, "triples")
    val cp = new Checkpoints(spark, s"$out/stages")
    assert(Seq("01_mentions", "02_aliases", "03_closure", "04_triples").forall(cp.isCommitted))
    assert(counters("files_parsed") == n + aliasFiles)
    val got = spark.read.parquet(s"$out/triples").select("subj", "obj").distinct()
    assert(rows(got) == rows(Triples.mentionTriples(files, CorpusGen.dictionary)))
  }

  /** SQL executions that write files, started by `body`. */
  private def writesDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; SparkTestSession.drainListeners() }
    finally spark.sparkContext.removeSparkListener(listener)
    writes.get()
  }

  /** Names of the first stage of every job `body` starts. */
  private def jobsDuring(body: => Any): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty(SparkTestSession.DrainMark) == null))
          jobs.add(e.stageInfos.minBy(_.stageId).name)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; SparkTestSession.drainListeners() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray(Array.empty[String]).toSeq
  }

  test("a resume over committed stages infers no schema; an old manifest still loads") {
    val out = Files.createTempDirectory("graft-main-resume").toString
    main(out, allStages)
    val jobs = jobsDuring(main(out, allStages))
    assert(!jobs.exists(_.startsWith("parquet at Checkpoints")), jobs)
    // a manifest written before the schema was recorded: the reload
    // infers it and reads the same rows
    val stage = s"$out/stages/01_mentions"
    val cp = new Checkpoints(spark, s"$out/stages")
    val recorded = cp.runStage("01_mentions")(fail("a committed stage was recomputed"))
    val manifest = java.nio.file.Paths.get(s"$stage/_MANIFEST")
    Files.writeString(manifest, Files.readString(manifest).replaceFirst(",\"schema\":.*}$", "}"))
    assert(!Files.readString(manifest).contains("schema"))
    val inferred = cp.runStage("01_mentions")(fail("a committed stage was recomputed"))
    assert(inferred.schema == recorded.schema)
    assert(rows(inferred) == rows(recorded) && rows(recorded) == rows(spark.read.parquet(stage)))
  }

  test("the triples export is written once per snapshot; a torn export is rewritten") {
    val out = Files.createTempDirectory("graft-main-export").toString
    val export = java.nio.file.Paths.get(s"$out/triples")
    def listing: Seq[(Path, java.nio.file.attribute.FileTime)] = {
      val paths = Files.walk(export)
      try paths.toArray.toSeq.map(_.asInstanceOf[Path]).sorted
        .map(p => p -> Files.getLastModifiedTime(p))
      finally paths.close()
    }
    assert(writesDuring(main(out, "triples")) > 0)
    val before = listing
    assert(before.exists(_._1.endsWith("_SUCCESS")))
    assert(writesDuring(main(out, "triples")) == 0)
    assert(listing == before)
    Files.delete(export.resolve("_SUCCESS"))
    assert(writesDuring(main(out, "triples")) > 0)
    assert(Files.exists(export.resolve("_SUCCESS")))
    val got = spark.read.parquet(export.toString).select("subj", "obj").distinct()
    assert(rows(got) == rows(Triples.mentionTriples(files, CorpusGen.dictionary)))
  }
}
