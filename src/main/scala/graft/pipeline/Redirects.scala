package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Redirect / alias canonicalization — re-realization of
 * examples/extract_redirects.pig + the redirect-resolution joins of
 * ner-corpus/02_dbpedia_article_types.pig:23-25 and
 * topic-corpus/02_create_topics_descriptions.pig:73-80, upgraded per
 * the north rule from the reference's one-hop resolution (§2.10.2) to
 * an iterative self-join transitive closure with cycle guard.
 *
 * Scale notes: every round of the distributed loops is one
 * [[Loop.materialize]] — one job that cuts the lineage (without it the
 * plan doubles per round and the driver chokes on plan size long
 * before data is the problem) and returns the round's exact row count,
 * which is the loop's convergence test, so no round pays a second
 * action; at small alias-graph sizes the closure is
 * scheduling-latency-bound, not data-bound, so job count is the cost
 * that matters. The closures keep their rounds until their
 * materialized result is stored and then free them all; cycleMembers
 * frees each round as soon as the next one is stored. The edge list
 * (alias graph) is orders of magnitude smaller than the corpus, so on
 * a cluster the final application of the closure to the corpus is a
 * broadcast join.
 */
object Redirects {

  /**
   * One-hop resolution (exact reference semantics,
   * ner-corpus/02_…pig:23-25): left join `rel.key -> edges.src`, coalesce
   * to the redirect target when present.
   */
  def resolveOneHop(rel: DataFrame, edges: DataFrame, key: String): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    rel.join(e, rel(key) === e("src"), "left_outer")
      .withColumn(key, coalesce(col("dst"), col(key)))
      .drop("src", "dst")
  }

  /**
   * Transitive closure of an alias edge list to a fixpoint (depth-capped).
   * Input: edges(src, dst). Output: (src, root) where root is the final
   * non-alias target; members of a cycle never settle and are dropped.
   *
   * Cycle guard = NoLoopInPath semantics (evaluation/NoLoopInPath.java:32-67):
   * each step checks the newly visited node against the accumulated path.
   */
  def transitiveClosure(edges: DataFrame, maxDepth: Int = 16,
      localThreshold: Long = 2000000L): DataFrame = {
    val (e, nEdges, _) = Loop.materialize(edges.select(col("src"), col("dst")).distinct())
    // alias graphs are orders of magnitude smaller than the corpus:
    // below the threshold a FUNCTIONAL graph resolves on the driver, with
    // the same output contract incl. the maxDepth cap (equivalence
    // tested); a non-functional one falls through to the loop
    for (out <- DriverGraph.gate(e, nEdges, localThreshold)(_.resolveFunctional(maxDepth))) return out
    // Round 0 is every edge, live: a row (src, cur, path) stands on cur
    // with path = the nodes visited before it. Each round walks the
    // previous round's live rows one hop: a row whose cur has no
    // successor settles (path = NULL, cur = its root) and is written in
    // that round only, and a row whose cur is already on its path is a
    // cycle and is dropped. The first empty round ends the walk.
    val rounds = scala.collection.mutable.ArrayBuffer(
      e.select(col("src"), col("dst").as("cur"), array(col("src")).as("path")))
    var rows = 1L
    while (rounds.size <= maxDepth && rows > 0) {
      val (next, n, _) = Loop.materialize(rounds.last.filter(col("path").isNotNull).as("f")
        .join(e.as("n"), col("f.cur") === col("n.src"), "left_outer")
        .filter(col("n.dst").isNull || !array_contains(col("f.path"), col("f.cur")))
        .select(col("f.src").as("src"), coalesce(col("n.dst"), col("f.cur")).as("cur"),
          when(col("n.dst").isNotNull, concat(col("f.path"), array(col("f.cur")))).as("path")))
      rounds += next
      rows = n
    }
    // rows still live at the depth cap never settled and are dropped.
    // The (alias-graph-sized) result is materialized so that every round
    // can be freed here.
    val (out, _, _) = Loop.materialize(rounds.map(_.filter(col("path").isNull))
      .reduce(_ unionByName _).select(col("src"), col("cur").as("root")).distinct())
    (e +: rounds.tail).foreach(Loop.release)
    out
  }

  /**
   * Pointer-doubling transitive closure — the SCALE PATH for deep
   * chains on a FUNCTIONAL alias graph (at most one outgoing edge per
   * src, which redirect/alias maps are by construction): after round k
   * every pointer has jumped 2^k hops, so `maxRounds` rounds resolve
   * chains up to 2^maxRounds long with O(|V| log depth) total join work
   * where the per-hop loop does O(|V| · depth). Cycle members never
   * reach a terminal and are dropped — the same output contract as
   * [[transitiveClosure]] (equivalence tested). Every round is one
   * [[Loop.materialize]], so the self-join plan stays flat.
   */
  def transitiveClosureDoubling(edges: DataFrame, maxRounds: Int = 16,
      localThreshold: Long = 2000000L): DataFrame = {
    val (e, nEdges, _) = Loop.materialize(edges.select(col("src"), col("dst")).distinct())
    // same driver fast path as transitiveClosure; hop cap = 2^maxRounds,
    // matching what `maxRounds` doubling rounds can resolve
    for (out <- DriverGraph.gate(e, nEdges, localThreshold)(
        _.resolveFunctional(1L << math.min(maxRounds, 62)))) return out
    // f: one row per pointer, (src, cur, done) with done = cur is a
    // terminal (no outgoing edge). A done row never moves again, so
    // each round jumps only the live rows, and the round's
    // materialized row count IS its moved-row count — no extra action.
    val (f0, _, _) = Loop.materialize(
      e.join(e.select(col("src").as("dst"), lit(false).as("done")).distinct(),
          Seq("dst"), "left_outer")
        .select(col("src"), col("dst").as("cur"), coalesce(col("done"), lit(true)).as("done")))
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val checkpoints = scala.collection.mutable.ArrayBuffer(f0)
    var f = f0
    var live = f0.filter(!col("done"))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // every live row's cur is an alias source, so the inner join finds
      // its 2^round-hop target; the result inherits that target's flag
      val (jumped, moved, _) = Loop.materialize(live.as("a")
        .join(f.as("b"), col("a.cur") === col("b.src"))
        .select(col("a.src").as("src"), col("b.cur").as("cur"), col("b.done").as("done")))
      checkpoints += jumped
      // f stays a flat union of round checkpoints: settled rows of the
      // earlier rounds plus this round's jumped rows. A broadcast join
      // streams f, its bigger side, so without the coalesce every round
      // would double the partition count of the next
      f = f.filter(col("done")).unionByName(jumped).coalesce(parts)
      live = jumped.filter(!col("done"))
      round += 1
      // converged when nothing moved. Rows inside a cycle move forever,
      // so a cyclic graph runs all maxRounds — bounded, and each round
      // is one |V|-row self-join (cheap at alias-graph sizes); their
      // rows never settle and are dropped below regardless.
      converged = moved == 0
    }
    // settled: jump target is a terminal; cycle members and chains
    // longer than 2^maxRounds are dropped. The (alias-graph-sized)
    // result is materialized so every round checkpoint can be freed
    // here instead of leaking until the caller drops the result.
    val (out, _, _) = Loop.materialize(
      f.filter(col("done")).select(col("src"), col("cur").as("root")).distinct())
    (e +: checkpoints).foreach(Loop.release)
    out
  }

  /**
   * Cycle membership in a FUNCTIONAL redirect graph — the audit
   * companion to the closures above, which silently DROP cycle members
   * (NoLoopInPath semantics): this reports exactly which redirect
   * targets sit on a loop and therefore can never canonicalize (the
   * rows a data-quality gate should surface, not swallow).
   *
   * Algorithm: exact-power pointer doubling. succ_1 = edges; succ_2k =
   * succ_k ∘ succ_k (inner join, so a walk that exits the domain —
   * reaches a terminal — drops out). Once span > |srcs|, a surviving
   * walk has stepped from more positions than there are distinct alias
   * sources, so some position repeated — it entered a cycle, and its
   * endpoint lies ON that cycle (span > |srcs| strictly: at span =
   * |srcs| exactly, a Hamiltonian chain's TERMINAL still survives in
   * the image); conversely succ_span restricted to a cycle is a rotation
   * (a bijection), so every cycle node appears as an endpoint. Image
   * of the final relation = the cycle nodes, exactly.
   *
   * SCALE: the relation stays FUNCTIONAL throughout (unique src, ≤ one
   * row per source survives composition — no distinct needed, no
   * blow-up possible), so the whole run is ⌈log₂ n⌉ self-joins of an
   * ≤ n-row relation: O(n log n) vs the O(n²) of step-by-step walking.
   * Each round self-joins its own output, which DOUBLES the logical
   * plan per round — checkpoint every round (the ccContraction
   * discipline) or the driver chokes on plan size long before data.
   * Only sound on functional graphs (multi-successor composition
   * enumerates paths, not positions) — enforced with one alias-sized
   * aggregate up front.
   */
  def cycleMembers(edges: DataFrame,
      localThreshold: Long = 4000000L): DataFrame = {
    val sel = edges.select(col("src"), col("dst"))
    TopicGraph.requireOneIdType("cycleMembers", sel)
    val (e, n, _) = Loop.materialize(sel.distinct())
    if (n > 0) {
      val maxOut = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head().getLong(0)
      require(maxOut <= 1,
        s"cycleMembers requires a functional graph (max out-degree 1), found $maxOut")
    }
    // ⌈log₂n⌉ checkpointed self-joins are pure scheduling latency at
    // small n, and a functional graph's cycles fall out of one linear
    // walk over the collected edge list
    for (out <- DriverGraph.gate(e, n, localThreshold)(_.cycleMembers)) return out
    var f = e
    var span = 1L
    var fCount = n
    while (span <= n && fCount > 0) {
      // strict span > |srcs| exit (see doc); the survivor count doubles
      // as the emptiness check and stops the common acyclic-forest case
      // after ~max-chain-length rounds instead of all ceil(log2 n) of
      // them. One materialization per round: it cuts the plan (the
      // self-join doubles it) and its count is the survivor count.
      val (next, c, _) = Loop.materialize(f.as("a").join(f.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst")))
      Loop.release(f)
      f = next
      fCount = c
      span *= 2
    }
    f.select(col("dst").as("node")).distinct()
  }
}
