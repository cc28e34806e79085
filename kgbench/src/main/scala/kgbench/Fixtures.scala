package kgbench

import graft.fixtures.CorpusGen
import graft.functions.TextFunctions
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Paths
import scala.util.Random

/**
 * Seeded benchmark inputs, cached on disk under the benchmark's own
 * directory. A cache entry is keyed by (seed, size, generator
 * fingerprint), so a change to a generator invalidates it by itself.
 * Inputs are written with the plain parquet writer, not Spark, so making
 * them costs no SparkContext.
 */
final class Fixtures(root: String) {

  /** Seconds spent generating inputs in this run (0 when all were cached). */
  var genSeconds = 0.0

  private def cached(name: String)(write: String => Unit): String = {
    val dir = s"$root/$name"
    if (!new File(s"$dir/_DONE").exists()) {
      val t0 = System.nanoTime()
      Workload.rmrf(new File(dir))
      write(dir)
      new File(s"$dir/_DONE").createNewFile()
      genSeconds += (System.nanoTime() - t0) / 1e9
    }
    dir
  }

  /** `CorpusGen` corpus of `n` files in 16 parquet files, file `i` in
    * part `i % 16`, so the planted alias files at the front spread over
    * every part. */
  def corpus(n: Int, seed: Long, scale: Int): String = {
    val fp = TextFunctions.sha256Hex(
      (0L until 4L).map(i => CorpusGen.file(i, seed, scale).content).mkString).take(8)
    cached(s"corpus-s$seed-n$n-x$scale-$fp") { dir =>
      Fixtures.write(dir, Seq("repo", "path", "commit", "lang", "content"), parts = 16,
        (0L until n).iterator.map(i => CorpusGen.file(i, seed, scale)))
    }
  }

  /** Seeded topic taxonomy (see [[Taxonomy]]), one parquet dir per table. */
  def taxonomy(g: Taxonomy): String = {
    val fp = TextFunctions.sha256Hex(g.edges.take(64).mkString + g.abstracts.take(4).mkString)
      .take(8)
    cached(s"taxonomy-s${g.seed}-d${g.depth}-w${g.width}-$fp") { dir =>
      Fixtures.write(s"$dir/edges", Seq("src", "dst", "primary"), 1, g.edges.iterator)
      Fixtures.write(s"$dir/grounding", Seq("topic", "entity"), 1, g.grounding.iterator)
      Fixtures.write(s"$dir/abstracts", Seq("subject", "object"), 1, g.abstracts.iterator)
    }
  }
}

/**
 * A broader-topic taxonomy: one root, then `depth - 1` levels of `width`
 * topics. Every topic has a primary broader topic on the level above and,
 * with probability 0.8, a second one up to two levels above, so the
 * graph is a DAG of out-degree about 2 whose BFS from the root takes
 * `depth` rounds. Topics are grounded with entities; entities and some
 * topics carry abstracts, about a third of them too short to pass the
 * abstract quality gate.
 */
final case class Taxonomy(seed: Long, depth: Int, width: Int) {
  private def topic(level: Int, k: Int): String =
    if (level == 0) "t0" else s"t${(level - 1) * width + k + 1}"

  val root: String = topic(0, 0)

  /** (src = narrower, dst = broader, primary) */
  val (edges, grounding, abstracts) = {
    val rnd = new Random(seed)
    val vocab = Vector("join", "shuffle", "sort", "plan", "stage", "task", "merge",
      "scan", "index", "graph", "rank", "topic", "entity", "link", "alias", "corpus")
    def text(words: Int) = Vector.fill(words)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val e = Vector.newBuilder[(String, String, Boolean)]
    val gr = Vector.newBuilder[(String, String)]
    val ab = Vector.newBuilder[(String, String)]
    val nEntities = math.max(1, depth * width / 2)
    for (level <- 1 until depth; k <- 0 until width) {
      val t = topic(level, k)
      def up(l: Int) = if (l <= 0) root else topic(l, rnd.nextInt(width))
      val primary = up(level - 1)
      e += ((t, primary, true))
      val second = up(level - 1 - rnd.nextInt(2))
      if (rnd.nextDouble() < 0.8 && second != primary) e += ((t, second, false))
      for (_ <- 0 until rnd.nextInt(4)) gr += ((t, s"e${rnd.nextInt(nEntities)}"))
      if (rnd.nextDouble() < 0.2) ab += ((t, text(20 + rnd.nextInt(40))))
    }
    for (i <- 0 until nEntities) ab += ((s"e$i", text(10 + rnd.nextInt(50))))
    (e.result(), gr.result().distinct, ab.result())
  }
}

object Fixtures {
  /** Corpus content bytes: the base of `stages.write_amp`. */
  def contentBytes(files: DataFrame): Long =
    files.agg(sum(octet_length(col("content")))).head().getLong(0)

  /** Rows of strings and booleans as snappy parquet, as Spark writes
    * them: `parts` files, row `i` in part `i % parts`. The column types
    * come from the first row. */
  def write(dir: String, columns: Seq[String], parts: Int, rows: Iterator[Product]): Unit = {
    new File(dir).mkdirs()
    val buffered = rows.buffered
    val fields = columns.zip(buffered.head.productIterator.toSeq).map {
      case (c, _: Boolean) => s"optional boolean $c;"
      case (c, _) => s"optional binary $c (STRING);"
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message row {", " ", "}"))
    val rowGroup = new SimpleGroupFactory(schema)
    val writers = (0 until parts).map { p =>
      ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(f"$dir/part-$p%05d.parquet")))
        .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    }
    try buffered.zipWithIndex.foreach { case (row, i) =>
      val g = rowGroup.newGroup()
      columns.zip(row.productIterator.toSeq).foreach {
        case (c, v: Boolean) => g.add(c, v)
        case (c, v) => g.add(c, v.toString)
      }
      writers(i % parts).write(g)
    } finally writers.foreach(_.close())
  }
}
