package graft

import graft.pipeline.TopicGraph
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A loop round of a shape already run compiles no generated class: the
  * class names carry no per-query stage id, the rounds carry their
  * per-round values as data, and the forked test JVM gets the same
  * codegen settings as `Main`'s session. */
class CodegenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Generated classes compiled (on any thread) while `body` runs. */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def chain(from: Long, nodes: Int) =
    (from until from + nodes - 1).map(i => (i, i + 1)).toDF("src", "dst")

  test("the forked test JVM's codegen settings are Main's session defaults") {
    val props = sys.props.toMap.filter(_._1.startsWith("spark.sql.codegen."))
    assert(props == Main.sessionDefaults)
  }

  test("a distributed BFS compiles nothing for rounds it has already run") {
    def bfs(from: Long, nodes: Int) =
      TopicGraph.hopDistance(chain(from, nodes), Seq(from).toDF("node"), localThreshold = 0)
        .as[(Long, Int)].collect().toMap
    assert(compiles(assert(bfs(0L, 4) == (0 until 4).map(i => i.toLong -> i).toMap)) > 0)
    // eight more rounds and a compaction, on ids never seen before
    var got = Map.empty[Long, Int]
    assert(compiles { got = bfs(1000L, 12) } == 0)
    assert(got == (0 until 12).map(i => (1000L + i) -> i).toMap)
  }

  test("a distributed PageRank compiles nothing for rounds it has already run") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 3L)).toDF("src", "dst")
    def ranks(iters: Int) = TopicGraph.pageRank(edges, iters = iters, localThreshold = 0)
      .as[(Long, Double)].collect().toMap
    assert(compiles(ranks(1)) > 0)
    var got = Map.empty[Long, Double]
    assert(compiles { got = ranks(6) } == 0)
    assert(math.abs(got.values.sum - 1.0) < 1e-9 && got.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }
}
