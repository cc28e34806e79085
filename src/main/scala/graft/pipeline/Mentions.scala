package graft.pipeline

import graft.core.{CodeFile, Mention}
import graft.parse.{CodeParser, Segmenter}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/**
 * The corpus front end: the one place files become mention rows and
 * alias edges — the extract_links.pig / extract_redirects.pig /
 * ner-corpus/01_extract_sentences_with_links.pig pipelines.
 *
 * Execution shape (SURVEY §3 entry point A): scan → flatMap(parse,
 * segment) — a single no-shuffle stage that deserializes each row once;
 * the anchor dictionary rides to every task as a broadcast variable (the
 * replicated-join pattern of ner-corpus/03_…pig:22 generalized to the
 * parser).
 *
 * `onParse` is called once per parse, inside the lambda that already
 * deserializes the row, so a caller can count parses (Main's
 * `files_parsed`) without a separate counting pass over the scan.
 */
object Mentions {

  /** One row per (sentence ⊇ mention); alias files emit nothing. */
  def extract(files: Dataset[CodeFile], dictionary: Map[String, String],
      onParse: CodeFile => Unit = _ => ()): Dataset[Mention] = {
    val spark = files.sparkSession
    import spark.implicits._
    val dictB = spark.sparkContext.broadcast(dictionary)
    files.flatMap { f =>
      onParse(f)
      val p = CodeParser.parse(f, dictB.value)
      if (p.aliasTarget.isDefined) Iterator.empty[Mention]
      else Segmenter.sentencesWithMentions(p)
    }
  }

  /** Alias edge list (src, dst) from the corpus. `#ALIAS [[T]]` is
    * anchored at the start of the file (CodeParser.AliasRe), so a
    * pushed-down `startsWith` prefilter selects exactly the alias files
    * and only those (~2% of the corpus) are parsed. */
  def aliasEdges(files: Dataset[CodeFile], dictionary: Map[String, String],
      onParse: CodeFile => Unit = _ => ()): Dataset[(String, String)] = {
    val spark = files.sparkSession
    import spark.implicits._
    val dictB = spark.sparkContext.broadcast(dictionary)
    files.filter(col("content").startsWith("#ALIAS [["))
      .flatMap { f =>
        onParse(f)
        val p = CodeParser.parse(f, dictB.value)
        p.aliasTarget.map(t => (p.uri, t))
      }
  }
}
