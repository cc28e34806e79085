package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField,
  StructType}

/**
 * The driver-side twins of the graph and closure loops of [[TopicGraph]]
 * and [[Redirects]]. At small graph sizes those loops are
 * scheduling-latency-bound, not data-bound: a round costs seconds of
 * job scheduling for microseconds of work (a 3,209-edge CC took 16 s as
 * a loop, 0.1 s collected). So each op hands the edge checkpoint it
 * materialized to [[DriverGraph.gate]], which runs the op's twin here
 * when the checkpoint has at most `localThreshold` rows. Every twin
 * returns the same schema and semantics as its loop; the specs pin the
 * two paths equal by forcing the loop with localThreshold = 0.
 *
 * A collected graph interns its ids once, into dense Int ids in the id
 * type's own ascending order. Every twin is then an algorithm over Int
 * arrays, and "the smallest id" (CC's component label, LPA's
 * tie-break) is an Int compare. Results go back to Spark through one
 * frame builder, with the op's id type.
 */
final class DriverGraph private (spark: SparkSession, idType: DataType,
    ids: Array[Any], index: Map[Any, Int], src: Array[Int], dst: Array[Int]) {
  import DriverGraph.csr

  private val n = ids.length
  private lazy val outDeg: Array[Int] = {
    val d = new Array[Int](n)
    src.foreach(v => d(v) += 1)
    d
  }
  // out-adjacency: v's successors are outNbr(outStart(v) until outStart(v + 1))
  private lazy val (outStart, outNbr) = csr(src, dst, n)

  /** The one-partition result frame of a twin. */
  private def frame(rows: Seq[Row], cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(cols.map { case (name, t) => StructField(name, t) }))

  /** Sum of w(from(i)) over the edges from(i) -> to(i), per target:
    * the one edge step of PageRank, PPR and HITS, in edge order. */
  private def scatter(from: Array[Int], to: Array[Int], w: Array[Double]): Array[Double] = {
    val acc = new Array[Double](n)
    for (i <- from.indices) acc(to(i)) += w(from(i))
    acc
  }

  /** A power-iteration step's two sums: each node's in-flow (rank over
    * out-degree along every in-edge) and the rank held by dangling nodes. */
  private def flow(rank: Array[Double]): (Array[Double], Double) = {
    val in = scatter(src, dst, Array.tabulate(n)(v => rank(v) / outDeg(v)))
    var dang = 0.0
    for (v <- 0 until n if outDeg(v) == 0) dang += rank(v)
    (in, dang)
  }

  /** [[TopicGraph.connectedComponents]] over the symmetrized edges:
    * union-find that always hangs the larger root under the smaller, so
    * a root is its component's minimum, the loop's label. `find` is
    * iterative: a recursive one overflows the stack on a near-dup chain
    * tens of thousands of nodes deep. */
  def connectedComponents: Option[DataFrame] = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    for (i <- src.indices) {
      val (a, b) = (find(src(i)), find(dst(i)))
      if (a < b) parent(b) = a else parent(a) = b
    }
    Some(frame((0 until n).map(v => Row(ids(v), ids(find(v)))),
      "node" -> idType, "label" -> idType))
  }

  /** [[TopicGraph.pageRank]]: the same rank expression as the loop. */
  def pageRank(iters: Int, damping: Double): Option[DataFrame] = {
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val (in, dang) = flow(rank)
      rank = Array.tabulate(n)(v => (1 - damping) / n + damping * (in(v) + dang / n))
    }
    Some(frame((0 until n).map(v => Row(ids(v), rank(v))), "node" -> idType, "rank" -> DoubleType))
  }

  /** [[TopicGraph.personalizedPageRank]]: the same rank expression as
    * the loop; seeds outside the graph are ignored. */
  def personalizedPageRank(seeds: DataFrame, iters: Int, damping: Double): Option[DataFrame] = {
    val isSeed = new Array[Boolean](n)
    seeds.collect().foreach(r => index.get(r.get(0)).foreach(isSeed(_) = true))
    val nSeeds = isSeed.count(identity)
    require(nSeeds > 0, "personalizedPageRank: no seed is a graph node")
    val m = isSeed.map(s => if (s) 1.0 / nSeeds else 0.0)
    var rank = m
    for (_ <- 0 until iters) {
      val (in, dang) = flow(rank)
      rank = Array.tabulate(n)(v => (1 - damping) * m(v) + damping * (in(v) + dang * m(v)))
    }
    Some(frame((0 until n).map(v => Row(ids(v), rank(v))), "node" -> idType, "rank" -> DoubleType))
  }

  /** [[TopicGraph.hits]]: hub then authority half-steps, each L1-normalized. */
  def hits(iters: Int): Option[DataFrame] = {
    def normalized(x: Array[Double]): Array[Double] = { val t = x.sum; x.map(_ / t) }
    var auth = Array.fill(n)(1.0)
    var hub = auth
    for (_ <- 0 until iters) {
      hub = normalized(scatter(dst, src, auth))
      auth = normalized(scatter(src, dst, hub))
    }
    Some(frame((0 until n).map(v => Row(ids(v), hub(v), auth(v))),
      "node" -> idType, "hub" -> DoubleType, "auth" -> DoubleType))
  }

  /** [[TopicGraph.hopDistance]]: BFS layers from the seeds; a seed
    * outside the graph still gets dist 0. */
  def hopDistance(seeds: DataFrame): Option[DataFrame] = {
    val seedIds = seeds.collect().map(_.get(0))
    val dist = Array.fill(n)(-1)
    var frontier = seedIds.flatMap(index.get)
    frontier.foreach(dist(_) = 0)
    var layer = 0
    while (frontier.nonEmpty) {
      layer += 1
      val next = Array.newBuilder[Int]
      for (v <- frontier; i <- outStart(v) until outStart(v + 1)) {
        val w = outNbr(i)
        if (dist(w) < 0) { dist(w) = layer; next += w }
      }
      frontier = next.result()
    }
    Some(frame((0 until n).filter(dist(_) >= 0).map(v => Row(ids(v), dist(v))) ++
      seedIds.filterNot(index.contains).map(Row(_, 0)), "node" -> idType, "dist" -> IntegerType))
  }

  /** [[TopicGraph.kCore]] over the symmetrized edges: a stack-driven
    * peel, linear in |E|. A node is stacked once, when its degree first
    * falls below k, and popping it decrements its live neighbors. */
  def kCore(k: Int): Option[DataFrame] = {
    val deg = outDeg.clone()
    val dead = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var top = 0
    def push(v: Int): Unit = { dead(v) = true; stack(top) = v; top += 1 }
    for (v <- 0 until n if deg(v) < k) push(v)
    while (top > 0) {
      top -= 1
      val v = stack(top)
      for (i <- outStart(v) until outStart(v + 1)) {
        val w = outNbr(i)
        if (!dead(w)) { deg(w) -= 1; if (deg(w) < k) push(w) }
      }
    }
    Some(frame((0 until n).filterNot(dead(_)).map(v => Row(ids(v), deg(v).toLong)),
      "node" -> idType, "core_deg" -> LongType))
  }

  /** [[TopicGraph.labelPropagation]] over the symmetrized edges:
    * synchronous rounds, each node taking its neighbors' most frequent
    * label, ties toward the smallest (the window's c DESC, community ASC). */
  def labelPropagation(iters: Int): Option[DataFrame] = {
    var label = Array.range(0, n)
    val count = new Array[Int](n)
    for (_ <- 0 until iters) {
      label = Array.tabulate(n) { v =>
        val nbrs = outNbr.slice(outStart(v), outStart(v + 1)).map(label(_))
        nbrs.foreach(l => count(l) += 1)
        var best = nbrs.head
        nbrs.foreach { l =>
          if (count(l) > count(best) || (count(l) == count(best) && l < best)) best = l
        }
        nbrs.foreach(count(_) = 0)
        best
      }
    }
    Some(frame((0 until n).map(v => Row(ids(v), ids(label(v)))),
      "node" -> idType, "community" -> idType))
  }

  /** [[TopicGraph.kTrussPeel]] over the canonical undirected edges:
    * each round keeps the edges with at least k - 2 common neighbors,
    * counted by merging the endpoints' sorted adjacency lists. */
  def kTrussPeel(k: Int, rounds: Int): Option[DataFrame] = {
    var (us, vs) = (src, dst)
    var r = 0
    var done = us.isEmpty
    while (r < rounds && !done) {
      val (start, nbr) = csr(us ++ vs, vs ++ us, n)
      for (v <- 0 until n) java.util.Arrays.sort(nbr, start(v), start(v + 1))
      def common(a: Int, b: Int): Int = {
        var (i, j, c) = (start(a), start(b), 0)
        while (i < start(a + 1) && j < start(b + 1)) {
          if (nbr(i) == nbr(j)) c += 1
          if (nbr(i) <= nbr(j)) i += 1 else j += 1
        }
        c
      }
      val keep = us.indices.filter(i => common(us(i), vs(i)) >= k - 2).toArray
      done = keep.length == us.length || keep.isEmpty
      us = keep.map(us(_))
      vs = keep.map(vs(_))
      r += 1
    }
    Some(frame(us.indices.map(i => Row(ids(us(i)), ids(vs(i)))), "u" -> idType, "v" -> idType))
  }

  /** One walk over a FUNCTIONAL graph (out-degree <= 1), shared by the
    * closures and [[cycleMembers]]: per node, its terminal root (-1
    * when its walk enters a cycle), its hops to that root, and whether
    * it lies on a cycle. Each walk stops at a terminal, at a node an
    * earlier walk settled, or at a node of its own path, which closes a
    * cycle from that node to the walk's tip. Linear in |V|. */
  private def functionalWalk(): (Array[Int], Array[Int], Array[Boolean]) = {
    val succ = Array.fill(n)(-1)
    for (i <- src.indices) succ(src(i)) = dst(i)
    val root = Array.fill(n)(-2) // -2: not walked yet
    val hops = new Array[Int](n)
    val onCycle = new Array[Boolean](n)
    val onPath = new Array[Boolean](n)
    val path = new Array[Int](n)
    for (start <- 0 until n if root(start) == -2) {
      var (len, cur) = (0, start)
      while (cur >= 0 && root(cur) == -2 && !onPath(cur)) {
        onPath(cur) = true; path(len) = cur; len += 1; cur = succ(cur)
      }
      // (root, hops) of the node the walk stopped at: the path's last
      // node is a terminal when cur < 0, so it sits 0 = -1 + 1 hops away
      val (r, h) =
        if (cur < 0) (path(len - 1), -1)
        else if (onPath(cur)) {
          var j = len - 1
          while (path(j) != cur) { onCycle(path(j)) = true; j -= 1 }
          onCycle(cur) = true
          (-1, 0)
        } else (root(cur), hops(cur))
      for (i <- 0 until len) {
        root(path(i)) = r
        hops(path(i)) = h + len - i
        onPath(path(i)) = false
      }
    }
    (root, hops, onCycle)
  }

  /** [[Redirects.transitiveClosure]] and
    * [[Redirects.transitiveClosureDoubling]] on a FUNCTIONAL graph (at
    * most one successor per node, what single-#ALIAS-declaration
    * corpora produce): each source's terminal, cycles dropped, sources
    * more than `maxHops` from their terminal unsettled. A node's
    * terminal is shared by its whole walk only on a functional graph
    * (on a general one it depends on the path taken), so any other
    * graph returns None and the op runs its loop. */
  def resolveFunctional(maxHops: Long): Option[DataFrame] =
    if (outDeg.exists(_ > 1)) None
    else {
      val (root, hops, _) = functionalWalk()
      Some(frame((0 until n).filter(v => outDeg(v) == 1 && root(v) >= 0 && hops(v) <= maxHops)
        .map(v => Row(ids(v), ids(root(v)))), "src" -> idType, "root" -> idType))
    }

  /** [[Redirects.cycleMembers]] of a functional graph. */
  def cycleMembers: Option[DataFrame] = {
    val (_, _, onCycle) = functionalWalk()
    Some(frame((0 until n).filter(onCycle(_)).map(v => Row(ids(v))), "node" -> idType))
  }
}

object DriverGraph {

  /** The one collect gate of the driver twins. `e` is the op's (src,
    * dst) edge checkpoint and `n` its row count, as [[Loop.materialize]]
    * returned them. Above `localThreshold` rows this returns None at
    * once and the op runs its distributed loop over `e`. Otherwise the
    * edges are collected and interned, and `twin` runs on the driver;
    * when it answers, `e` is released and the answer returned. A twin
    * that declines (a closure on a non-functional graph) leaves `e` to
    * the op's loop. */
  def gate(e: DataFrame, n: Long, localThreshold: Long)(
      twin: DriverGraph => Option[DataFrame]): Option[DataFrame] =
    if (n > localThreshold) None
    else {
      val out = twin(collect(e))
      if (out.isDefined) Loop.release(e)
      out
    }

  /** The id type's own ascending order (Spark's, nulls first). */
  private val idOrder: Ordering[Any] = (a, b) =>
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  private def collect(e: DataFrame): DriverGraph = {
    val rows = e.collect()
    val ids = (rows.iterator.map(_.get(0)) ++ rows.iterator.map(_.get(1))).distinct.toArray
      .sorted(idOrder)
    val index = ids.iterator.zipWithIndex.toMap
    new DriverGraph(e.sparkSession, e.schema.fields(0).dataType, ids, index,
      rows.map(r => index(r.get(0))), rows.map(r => index(r.get(1))))
  }

  /** CSR adjacency of the edges from(i) -> to(i) over `n` nodes: v's
    * neighbors are nbr(start(v) until start(v + 1)), in edge order. */
  private def csr(from: Array[Int], to: Array[Int], n: Int): (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    from.foreach(v => start(v + 1) += 1)
    for (v <- 0 until n) start(v + 1) += start(v)
    val fill = start.clone()
    val nbr = new Array[Int](from.length)
    for (i <- from.indices) { nbr(fill(from(i))) = to(i); fill(from(i)) += 1 }
    (start, nbr)
  }
}
