package graft

import graft.core.CodeFile
import graft.fixtures.CorpusGen
import graft.functions.Aggregators
import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Local property that marks [[drainListeners]]' job. */
  val DrainMark: String = Metrics.DrainMark

  /** Returns once every listener event posted so far was delivered. */
  def drainListeners(): Unit = Metrics.drainListeners(spark)
}

/**
 * Tier-3: local-SparkSession end-to-end pipeline tests on deterministic
 * synthetic inputs (the PigServer(LOCAL) mini-pipeline analog of the
 * reference's storage tests).
 */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("transitive closure resolves chains and drops cycles (both paths)") {
    // chain a->b->c->R, shortcut d->R, 2-cycle x<->y, self-loop z->z
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "R"), ("d", "R"),
      ("x", "y"), ("y", "x"), ("z", "z")).toDF("src", "dst")
    val want = Set(("a", "R"), ("b", "R"), ("c", "R"), ("d", "R"))
    // driver fast path (functional graph, below threshold)
    assert(Redirects.transitiveClosure(edges)
      .as[(String, String)].collect().toSet == want)
    // distributed loop (threshold forced to 0)
    assert(Redirects.transitiveClosure(edges, localThreshold = 0)
      .as[(String, String)].collect().toSet == want)
  }

  test("transitive closure: local path honors the maxDepth cap like the loop") {
    // 20-hop chain: with maxDepth=16 both paths drop the deep sources
    val chain = (0 until 20).map(i => (s"c$i", s"c${i + 1}")).toDF("src", "dst")
    val local = Redirects.transitiveClosure(chain)
      .as[(String, String)].collect().toSet
    val dist = Redirects.transitiveClosure(chain, localThreshold = 0)
      .as[(String, String)].collect().toSet
    assert(local == dist)
    // sources more than 16 hops from the terminal are unsettled
    assert(local == (4 until 20).map(i => (s"c$i", "c20")).toSet)
  }

  test("transitive closure: non-functional graph falls back to the loop (multi-target)") {
    // b has two successors: the driver fast path must not engage
    val edges = Seq(("a", "b"), ("b", "R"), ("b", "S")).toDF("src", "dst")
    val got = Redirects.transitiveClosure(edges)
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "R"), ("a", "S"), ("b", "R"), ("b", "S")))
  }

  test("pointer-doubling closure equals the per-hop loop; handles depth >> loop cap") {
    // same chains/cycles as the loop test
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "R"), ("d", "R"),
      ("x", "y"), ("y", "x"), ("z", "z")).toDF("src", "dst")
    val loop = Redirects.transitiveClosure(edges).as[(String, String)].collect().toSet
    // both the adaptive driver fast path and the forced distributed loop
    val dblLocal = Redirects.transitiveClosureDoubling(edges)
      .as[(String, String)].collect().toSet
    val dblDist = Redirects.transitiveClosureDoubling(edges, localThreshold = 0)
      .as[(String, String)].collect().toSet
    assert(dblLocal == loop && dblDist == loop)
    // a 100-deep chain resolves in <= 7 doubling rounds (2^7 = 128),
    // far past the per-hop loop's default 16-level cap — in both paths
    val deep = (0 until 100).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val got = Redirects.transitiveClosureDoubling(deep, maxRounds = 7, localThreshold = 0)
      .as[(String, String)].collect().toMap
    assert(got.size == 100 && got.values.toSet == Set("n100"))
    val gotLocal = Redirects.transitiveClosureDoubling(deep, maxRounds = 7)
      .as[(String, String)].collect().toMap
    assert(gotLocal == got)
    // the local hop cap matches the doubling reach (2^rounds): a chain
    // deeper than 2^rounds leaves far sources unsettled in both paths
    val over = (0 until 10).map(i => (s"o$i", s"o${i + 1}")).toDF("src", "dst")
    val capLocal = Redirects.transitiveClosureDoubling(over, maxRounds = 3)
      .as[(String, String)].collect().toMap
    val capDist = Redirects.transitiveClosureDoubling(over, maxRounds = 3, localThreshold = 0)
      .as[(String, String)].collect().toMap
    assert(capLocal == capDist, s"local $capLocal != dist $capDist")
  }

  test("closure strictly increases recall vs one-hop (SURVEY §2.10.2)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "R")).toDF("src", "dst")
    val rel = Seq(("m1", "a")).toDF("id", "target")
    val oneHop = Redirects.resolveOneHop(rel, edges, "target")
      .as[(String, String)].collect().head._2
    assert(oneHop == "b") // reference stops after one hop
    val closure = Redirects.transitiveClosure(edges)
      .filter(col("src") === "a").select("root").as[String].collect().head
    assert(closure == "R") // fixpoint reaches the root
  }

  test("degrees: full-outer + zero-fill reproduces COUNT(bag) cogroup semantics") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val rows = TopicGraph.degrees(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("a", 0L, 2L), ("b", 1L, 1L), ("c", 2L, 0L)))
  }

  test("grounded ancestry: path accumulation + cycle guard at each level") {
    // root -> a -> b, root -> b, b -> root (cycle back)
    val edges = Seq(("a", "root"), ("b", "a"), ("b", "root"), ("root", "b"))
      .toDF("src", "dst") // (child=src, parent=dst)
    val roots = Seq("root").toDF("root")
    val got = TopicGraph.groundedAncestry(edges, roots, maxDepth = 4)
      .select("node", "depth", "path").as[(String, Int, String)].collect().toSet
    assert(got.contains(("root", 0, "root")))
    assert(got.contains(("a", 1, "root/a")))
    assert(got.contains(("b", 1, "root/b")))
    assert(got.contains(("b", 2, "root/a/b")))
    // root again via b would loop -> filtered
    assert(!got.exists(r => r._1 == "root" && r._2 > 0))
  }

  test("grounded ancestry: frontier dedup (default) bounds dense graphs; tree output identical") {
    // dense digraph: every ordered pair of 6 nodes is an edge — the
    // path-enumeration form is combinatorial, the dedup default is
    // bounded at |V| x |roots| rows per level
    val ns = (0 until 6).map(i => s"n$i")
    val dense = (for { a <- ns; b <- ns if a != b } yield (a, b)).toDF("src", "dst")
    val roots = Seq("n0").toDF("root")
    val deduped = TopicGraph.groundedAncestry(dense, roots, maxDepth = 4)
    val enumerated = TopicGraph.groundedAncestry(dense, roots, maxDepth = 4,
      dedupFrontier = false)
    val nDedup = deduped.count()
    assert(nDedup <= 5L * ns.size, // (maxDepth+1) levels x |V| x 1 root
      s"dedup form must be level-bounded, got $nDedup rows")
    assert(enumerated.count() > 10 * nDedup,
      "enumeration form should be combinatorial on the dense graph")
    // on a TREE the two forms agree exactly (one path per node)
    val tree = Seq(("b", "a"), ("c", "a"), ("d", "b"), ("e", "b")).toDF("src", "dst")
    val tRoots = Seq("a").toDF("root")
    val t1 = TopicGraph.groundedAncestry(tree, tRoots, maxDepth = 3)
      .as[(String, String, Int, String)].collect().toSet
    val t2 = TopicGraph.groundedAncestry(tree, tRoots, maxDepth = 3,
        dedupFrontier = false)
      .as[(String, String, Int, String)].collect().toSet
    assert(t1 == t2 && t1.size == 5)
  }

  test("mentions pipeline end-to-end on the synthetic corpus (P/R vs goldens)") {
    val corpus = CorpusGen.generate(512)
    val files = spark.createDataset(corpus.map(_.file))
    val dict = CorpusGen.dictionary
    val parsed = files.map(f => graft.parse.CodeParser.parse(f, dict))
    // per-file mention-set parity with planted goldens
    val got = parsed.flatMap(p => p.mentions.map(m =>
        (p.repo, p.path, m.begin, m.end, m.value)))
      .collect().toSet
    val want = corpus.flatMap(g => g.mentions.map(m =>
      (g.file.repo, g.file.path, m.begin, m.end, m.value))).toSet
    val inter = (got intersect want).size.toDouble
    assert(inter / got.size >= 0.95, "precision")
    assert(inter / want.size >= 0.95, "recall")
  }

  test("window-straddling loss is accounted exactly; overlap opt-in recovers it (P=1.0, R>=0.995)") {
    import graft.functions.TextFunctions
    val slice = CorpusGen.generate(2048)
    val files = spark.createDataset(slice.map(_.file))
    val want = slice.filter(_.aliasTarget.isEmpty).flatMap { g =>
      g.mentions.map { m =>
        (TextFunctions.nameToUri(s"${g.file.repo}/${g.file.path}", g.file.lang),
          TextFunctions.nameToUri(CorpusGen.resolveName(m.label), g.file.lang))
      }
    }.distinct.toDF("subj", "obj")
    val gotDefault = Triples.mentionTriples(files, CorpusGen.dictionary)
    val gotOverlap = Triples.mentionTriples(files, CorpusGen.dictionary,
      recoverStraddlers = true)
    val (pD, rD) = Triples.precisionRecall(gotDefault, want)
    val (pO, rO) = Triples.precisionRecall(gotOverlap, want)
    assert(pD == 1.0, f"default precision $pD%.4f")
    assert(pO == 1.0, f"overlap precision $pO%.4f")
    assert(rD < 1.0, "corpus must actually plant straddling mentions")
    assert(rO >= 0.995, f"overlap recall $rO%.4f < 0.995")
    // EXACT loss accounting: the pairs missing under default windows
    // are precisely the pairs the overlap segmenter adds back — the
    // whole 1−R deficit is window straddling, nothing else
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "obj").as[(String, String)].collect().toSet
    val missing = pairs(want) -- pairs(gotDefault)
    val added = pairs(gotOverlap) -- pairs(gotDefault)
    assert(missing == added,
      s"unaccounted loss: missing-not-added=${(missing -- added).take(3)} " +
        s"added-not-missing=${(added -- missing).take(3)}")
    assert(missing.size == math.round((1.0 - rD) * pairs(want).size))
    // mention-level: the overlap segmenter recovers every straddler
    // (each planted mention fits a fresh window anchored at its token)
    val dict = CorpusGen.dictionary
    slice.filter(_.aliasTarget.isEmpty).take(400).foreach { g =>
      val p = graft.parse.CodeParser.parse(g.file, dict)
      val dflt = graft.parse.Segmenter.sentencesWithMentions(p)
      val ovlp = graft.parse.Segmenter.sentencesWithMentions(p, recoverStraddlers = true)
      assert(ovlp.map(_.target).toSet == p.mentions.map(_.label).toSet,
        s"${g.file.path}: overlap mode missed a mention")
      assert(dflt.map(_.target).toSet.subsetOf(ovlp.map(_.target).toSet))
    }
  }

  test("alias edges from corpus match planted alias goldens") {
    val corpus = CorpusGen.generate(512)
    val files = spark.createDataset(corpus.map(_.file))
    val got = Mentions.aliasEdges(files, CorpusGen.dictionary).collect().toSet
    assert(got == CorpusGen.aliasEdges(corpus).toSet)
    assert(got.nonEmpty)
    // the startsWith prefilter selects exactly the files the anchored
    // parser calls aliases, near misses included
    val nearMisses = Seq(" #ALIAS [[Lead]]", "#ALIAS [x]", "text\n#ALIAS [[Second]]",
      "#ALIAS [[]]", "#ALIAS [[Plain]]\nbody").zipWithIndex.map { case (c, i) =>
      graft.core.CodeFile("r", s"near/$i.md", "c", "md", c)
    }
    val all = corpus.map(_.file) ++ nearMisses
    val want = all.flatMap { f =>
      val p = graft.parse.CodeParser.parse(f, CorpusGen.dictionary)
      p.aliasTarget.map(t => (p.uri, t))
    }.toSet
    assert(Mentions.aliasEdges(spark.createDataset(all), CorpusGen.dictionary)
      .collect().toSet == want)
    assert(want.size == got.size + 2, "only `#ALIAS [[]]` and `#ALIAS [[Plain]]` are aliases")
  }

  test("CappedConcat aggregator is deterministic under explicit sort key") {
    val data = Seq((1L, 3L, "cc"), (1L, 1L, "aa"), (1L, 2L, "bb"),
      (2L, 1L, "zz")).toDF("g", "k", "v")
    val agg = udaf(new Aggregators.CappedConcat(1000))
    val got = data.groupBy("g")
      .agg(agg(col("k"), col("v")).as("txt"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "aa bb cc")
    assert(got(2L) == "zz")
  }

  test("ConcatDistinct aggregator dedups keeping sort order") {
    val data = Seq((1L, 1L, " b "), (1L, 2L, "a"), (1L, 3L, "b"), (1L, 4L, ""))
      .toDF("g", "k", "v")
    val agg = udaf(new Aggregators.ConcatDistinct(","))
    val got = data.groupBy("g").agg(agg(col("k"), col("v")).as("txt"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "b,a")
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs)
      .as[(Long, Long, Double)].collect()
    val pair = cands.find(c => c._1 == 0L && c._2 == 1L)
    assert(pair.isDefined, s"near-dup pair not found in ${cands.mkString(",")}")
    assert(pair.get._3 > 0.5)
    assert(!cands.exists(c => c._2 == 2L || c._1 == 2L))
    // a band count that does not divide the signature is refused: more
    // bands than hashes would be empty bands (one bucket, all pairs)
    Seq(32, 0).foreach { bands =>
      val e = intercept[IllegalArgumentException](Dedup.minhashCandidates(docs, bands = bands))
      assert(e.getMessage.contains(s"bands=$bands") && e.getMessage.contains("numHashes=16"),
        e.getMessage)
    }
  }

  test("fast (xxhash64) minhash finds the same planted near-duplicates as the md5 path") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val fast = Dedup.minhashCandidatesFast(docs).as[(Long, Long, Double)].collect()
    val pair = fast.find(c => c._1 == 0L && c._2 == 1L)
    assert(pair.isDefined && pair.get._3 > 0.5, fast.mkString(","))
    assert(!fast.exists(c => c._2 == 2L || c._1 == 2L))
  }

  test("simhash hot-bucket cap drops flooded buckets, keeps rare-bucket pairs") {
    // 40 identical template docs flood every band bucket they share;
    // one rare near-dup pair (ids 500/501) sits in its own buckets
    val template = (1 to 60).map(i => s"tpl$i").mkString(" ")
    val rareA = (1 to 60).map(i => s"rare$i").mkString(" ")
    val rareB = rareA.replace("rare30", "RARE30")
    val docs = ((0 until 40).map(i => (i.toLong, template)) :+
      (500L, rareA) :+ (501L, rareB)).toDF("doc_id", "text")
    val uncapped = Dedup.simhashCandidates(docs, maxHamming = 10)
      .as[(Long, Long, Int)].collect()
    assert(uncapped.count(p => p._1 < 40 && p._2 < 40) == 40 * 39 / 2) // k²/2 blowup
    val capped = Dedup.simhashCandidates(docs, maxHamming = 10, maxBucketSize = 8)
      .as[(Long, Long, Int)].collect()
    assert(!capped.exists(p => p._1 < 40 && p._2 < 40), "flooded bucket not dropped")
    assert(capped.exists(p => p._1 == 500L && p._2 == 501L), "rare pair lost")
  }

  test("banded simhash candidates EXACTLY equal a JVM brute-force banded reference") {
    // 40 docs: 3 near-dup families + noise; the distributed banded
    // search must produce precisely the pairs that (share a 15-bit
    // chunk) AND (hamming <= t) — enumerated all-pairs on the driver
    val texts: Seq[(Long, String)] =
      (0 until 8).map(i => (i.toLong,
        (1 to 50).map(k => if (k == i + 5) s"edit$i" else s"fam0tok$k").mkString(" "))) ++
      (0 until 6).map(i => (100L + i,
        (1 to 50).map(k => if (k == i + 9) s"chg$i" else s"fam1word$k").mkString(" "))) ++
      (0 until 20).map(j => (500L + j, (1 to 50).map(k => s"n${j}x$k").mkString(" ")))
    val docs = texts.toDF("doc_id", "text")
    val t = 30
    val got = Dedup.simhashCandidates(docs, maxHamming = t)
      .as[(Long, Long, Int)].collect().toSet
    val sh = texts.map { case (id, txt) => id -> Dedup.simhash64(txt) }
    val want = (for {
      (a, ha) <- sh; (b, hb) <- sh
      if a < b
      if (0 until 4).exists(k => ((ha >>> (k * 15)) & 0x7fffL) == ((hb >>> (k * 15)) & 0x7fffL))
      if Dedup.hamming(ha, hb) <= t
    } yield (a, b, Dedup.hamming(ha, hb))).toSet
    assert(got == want, s"got ${got.size} vs want ${want.size}")
    assert(want.nonEmpty) // the families must actually produce pairs
  }

  test("sign-LSH pairs EXACTLY equal a JVM brute-force banded reference") {
    val rnd = new scala.util.Random(5)
    val vecs: Seq[(Long, Array[Float])] = (0 until 60).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val bits = 4
    val bands = 3
    val got = Similarity.signLshPairs(vecs.toDF("vec_id", "embedding"), bits, bands)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // independent JVM restatement of the seeded Rademacher projection
    def key(v: Array[Float], b: Int) =
      (b * bits until (b + 1) * bits).map { h =>
        val acc = v.indices.foldLeft(0.0)((a, d) =>
          a + graft.functions.GraftFunctions.rademacher(Similarity.ProjSeed, h, d) * v(d))
        if (acc >= 0) '1' else '0'
      }.mkString
    val want = (for {
      (a, va) <- vecs; (b, vb) <- vecs
      if a < b
      if (0 until bands).exists(k => key(va, k) == key(vb, k))
    } yield (a, b)).toSet
    assert(got == want, s"got ${got.size} vs want ${want.size}")
    assert(want.nonEmpty)
  }

  test("banded simhash search finds a planted NON-adjacent duplicate pair") {
    // the duplicate ids are far apart (3 and 4700) with unrelated noise
    // between — an adjacent-id scheme can never pair them; the banded
    // bucket join must (near-identical text => hamming ~0 => all four
    // 15-bit chunks match)
    val base = (1 to 60).map(i => s"alpha$i beta$i").mkString(" ")
    val nearDup = base.replace("alpha30", "ALPHA30")
    val noise = (0 until 200).map(j =>
      (100L + j, (1 to 60).map(i => s"n${j}x$i").mkString(" ")))
    val docs = (noise :+ (3L, base) :+ (4700L, nearDup)).toDF("doc_id", "text")
    val got = Dedup.simhashCandidates(docs, maxHamming = 10)
      .as[(Long, Long, Int)].collect()
    assert(got.exists(p => p._1 == 3L && p._2 == 4700L),
      s"planted non-adjacent pair missing in ${got.take(20).mkString(",")}")
    // noise docs must not flood the candidate set
    assert(got.length < 50, s"candidate set too large: ${got.length}")
  }

  test("multi-band sign-LSH recall >= 0.9 on planted near-dup clusters (16 bits x 4 bands)") {
    // 20 clusters of 3 near-identical 64-dim vectors (cos >= ~0.99)
    // + 240 independent noise vectors. The SCALE config (16-bit buckets
    // — n/65k in-bucket at corpus scale — recall bought back by 4
    // bands) must recover almost all intra-cluster pairs.
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val clusters = (0 until 20).flatMap { c =>
      val base = unit()
      (0 until 3).map { m =>
        val v = base.zip(Array.fill(64)(rnd.nextGaussian().toFloat * 0.01f))
          .map { case (a, b) => a + b }
        ((c * 3 + m).toLong, v)
      }
    }
    val noise = (0 until 240).map(j => (1000L + j, unit()))
    val vecs = (clusters ++ noise).toDF("vec_id", "embedding")
    val wanted = (0 until 20).flatMap { c =>
      val ids = (0 until 3).map(m => (c * 3 + m).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val got = Similarity.signLshPairs(vecs, bits = 16, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = wanted.count(got.contains).toDouble / wanted.size
    assert(recall >= 0.9, f"recall $recall%.3f < 0.9 (found ${got.size} pairs)")
    // and the demo config (8 bits x 4 bands) catches them too
    val got8 = Similarity.signLshPairs(vecs, bits = 8, bands = 4)
      .filter(col("cos") >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(wanted.count(got8.contains).toDouble / wanted.size >= 0.9)
  }

  test("PQ top-k: high recall vs brute force on clustered vectors; exact on the shortlist") {
    val rnd = new scala.util.Random(23)
    // clustered corpus (PQ's ADC approximates well when subvector
    // structure is shared): 25 clusters x 8 members + jitter
    val vecs = (0 until 25).flatMap { c =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat * 2f)
      (0 until 8).map { m =>
        ((c * 8 + m).toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.2f))
      }
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 40 === 0) // 5 probes
    val got = Similarity.pqTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = want.count(got.contains).toDouble / want.size
    assert(recall >= 0.8, f"PQ recall vs brute force $recall%.3f < 0.8")
    // structure: 5 ranked rows per probe, ranks 1..5, cos sorted desc
    val full = Similarity.pqTopK(probes, vecs, 5)
      .select("probe_id", "rank", "cos").as[(Long, Int, Double)].collect()
    assert(full.length == 25)
    full.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq,
        "exact-cosine re-rank must be descending in rank order")
    }
  }

  test("Lloyd-refined PQ codebook: recall >= stride codebook on clustered vectors") {
    // 40 clusters x 8 members: a 16-row stride codebook lands in at
    // most 16 clusters, so many subvector regions quantize against a
    // distant codeword — per-subspace Lloyd over the bounded training
    // sample pulls codewords toward the data (Jégou 2011 §III); the
    // default stays stride (refineIters = 0) so q89's oracle is
    // untouched
    val rnd = new scala.util.Random(41)
    val vecs = (0 until 40).flatMap { c =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat * 2f)
      (0 until 8).map { m =>
        ((c * 8 + m).toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.2f))
      }
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 32 === 0) // 10 probes
    val want = Similarity.bruteForceTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    def recall(iters: Int): Double = {
      val got = Similarity.pqTopK(probes, vecs, 5, refineIters = iters)
        .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
      want.count(got.contains).toDouble / want.size
    }
    val stride = recall(0)
    val refined = recall(3)
    assert(refined >= stride,
      f"refined recall $refined%.3f below stride $stride%.3f on clustered data")
    assert(refined >= 0.8, f"refined recall too low: $refined%.3f")
    // determinism: the refinement is seed/order-fixed, two runs agree
    assert(recall(3) == refined)
  }

  test("IVF centroid Lloyd refinement: objective decreases, recall recovers from bad seeds") {
    // 12 tight clusters, membership id % 12 — so with kCentroids = 4
    // and n = 96 the stride seeds (ids 0, 24, 48, 72) are ALL cluster-0
    // members: the worst seeding a crawl-ordered id space can produce.
    // Assignment against 4 near-identical centroids scatters every
    // cluster across cells; Lloyd rounds must pull the centroids apart
    // and co-cell cluster mates again.
    val rnd = new scala.util.Random(43)
    val bases = Array.fill(12)(Array.fill(64)(rnd.nextGaussian() * 2.0))
    val raw = (0 until 96).map { id =>
      (id.toLong, bases(id % 12).map(v => (v + rnd.nextGaussian() * 0.1).toFloat))
    }
    val vecs = raw.toDF("vec_id", "embedding")
    // k-means objective: sum over vectors of min squared L2 to the set
    def objective(iters: Int): Double = {
      val cents = Similarity.ivfCentroids(vecs, kCentroids = 4, centIters = iters)
        .as[(Long, Array[Double])].collect().map(_._2)
      assert(cents.length == 4, "empty-cell seed retention must keep k centroids")
      raw.map { case (_, v) =>
        cents.map(c => v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum).min
      }.sum
    }
    val obj0 = objective(0)
    val obj1 = objective(1)
    val obj2 = objective(2)
    assert(obj1 < obj0, f"Lloyd round 1 must reduce the objective: $obj1%.1f vs $obj0%.1f")
    assert(obj2 <= obj1 + 1e-6, f"Lloyd is monotone: $obj2%.1f vs $obj1%.1f")
    // search recall at nprobe = 1: cluster mates must co-cell again
    val probes = vecs.filter(col("vec_id") < 12)
    val want = Similarity.bruteForceTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(probes, vecs, 5, kCentroids = 4, centIters = iters)
        .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
      want.count(got.contains).toDouble / want.size
    }
    val stride = recall(0)
    val refined = recall(2)
    assert(refined >= stride,
      f"refined recall $refined%.3f below stride $stride%.3f on bad seeds")
    assert(refined >= 0.9, f"refined recall too low: $refined%.3f")
  }

  test("IVF-PQ: results are co-celled and near-match exact within-cell search") {
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 20).flatMap { c =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat * 2f)
      (0 until 10).map { m =>
        ((c * 10 + m).toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.2f))
      }
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 40 === 0)
    val got = Similarity.ivfPqTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    // the cell prune: every returned pair must also be reachable by the
    // exact IVF search over the same cells (k large = all co-celled)
    val coCell = Similarity.ivfTopK(probes, vecs, 1000)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(coCell), s"IVF-PQ returned a cross-cell pair: ${(got -- coCell).take(3)}")
    // and the PQ shortlist + exact re-rank nearly matches the exact
    // within-cell top-5 (ADC approximation only reorders the shortlist)
    val exact = Similarity.ivfTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.8, f"IVF-PQ vs exact-IVF recall $recall%.3f < 0.8")
    // the residual-encoded refinement: same cell prune (subset of the
    // co-celled relation), and on clustered data — where cell means
    // carry most of the magnitude — residual ADC must do at least as
    // well against the exact within-cell search
    val gotRes = Similarity.ivfPqResidualTopK(probes, vecs, 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(gotRes.subsetOf(coCell),
      s"residual IVF-PQ returned a cross-cell pair: ${(gotRes -- coCell).take(3)}")
    val recallRes = exact.count(gotRes.contains).toDouble / exact.size
    assert(recallRes >= recall - 1e-9,
      f"residual recall $recallRes%.3f below flat-codebook $recall%.3f on clustered data")
  }

  test("residual IVF-PQ refuses tiny corpora (degenerate all-zero codebook)") {
    // n <= codewords makes the residual stride 1: every vector is a
    // centroid, all residuals are zero, ADC ties everywhere and the
    // shortlist would be picked purely by smallest cand_id — refuse
    // loudly instead of returning id-ordered 'neighbors'
    val vecs = (0 until 12).map(i => (i.toLong, Array.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqResidualTopK(vecs, vecs, 3, codewords = 16)
    }
    assert(e.getMessage.contains("codewords"))
    // an empty corpus has no codebook sample at all: the flat and IVF
    // PQ searches refuse it by name too
    val none = vecs.limit(0)
    Seq[(String, () => Any)](
      "pqTopK" -> (() => Similarity.pqTopK(none, none, 3)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(none, none, 3))).foreach { case (op, run) =>
      val ee = intercept[IllegalArgumentException](run())
      assert(ee.getMessage.contains(s"$op: empty codebook sample"), ee.getMessage)
    }
  }

  test("sign-LSH hot-bucket cap bounds template-family pair blowup, keeps rare pairs") {
    // the embedding analog of the simhash flooded-bucket test: 64
    // IDENTICAL template vectors co-bucket in EVERY band (their sign
    // bits agree exactly) — uncapped, the band join pays the full
    // 64·63/2 in-family pairs; capped, the flooded buckets drop while
    // a rare near-dup pair in its own buckets survives
    val rnd = new scala.util.Random(7)
    val template = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rareA = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rareB = rareA.map(_ + rnd.nextGaussian().toFloat * 0.02f)
    val background = (0 until 100).map(i =>
      (1000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val vecs = ((0 until 64).map(i => (i.toLong, template)) ++
      Seq((500L, rareA), (501L, rareB)) ++ background)
      .toDF("vec_id", "embedding")
    val uncapped = Similarity.signLshPairs(vecs, bits = 6, bands = 4)
      .as[(Long, Long, Double)].collect()
    assert(uncapped.count(p => p._1 < 64 && p._2 < 64) == 64 * 63 / 2,
      "expected the full in-family pair blowup without a cap")
    val capped = Similarity.signLshPairs(vecs, bits = 6, bands = 4,
      maxBucketSize = 16)
    val cp = capped.as[(Long, Long, Double)].collect()
    assert(!cp.exists(p => p._1 < 64 && p._2 < 64), "flooded bucket not dropped")
    assert(cp.exists(p => p._1 == 500L && p._2 == 501L && p._3 > 0.9),
      "rare near-dup pair lost to the cap")
  }

  test("batch incremental ANN equals the banded search; foreign-seed index refused") {
    // the embedding twin of incrementalCandidates: a new batch against
    // the committed index must equal the direct banded search over the
    // same family — and an index stamped with a foreign projection
    // seed must be refused loudly (it would silently match nothing)
    val rnd = new scala.util.Random(37)
    val corpus = (0 until 80).map { i =>
      val c = i % 8
      val base = Array.tabulate(64)(j => if (j % 8 == c) 1.0f else 0.0f)
      (i.toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.1f))
    }
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val newVecs = Seq(
      (1000L, corpus(3)._2.map(_ + 0.01f)),
      (1001L, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.signLshIndex(corpusDf, bits = 4)
    val got = Similarity.incrementalAnnCandidates(newVecs, idx, tau = 0.8)
      .select("vec_id", "cand_id").as[(Long, Long)].collect().toSet
    val want = Similarity.lshTopK(newVecs, corpusDf, k = 1000, bits = 4)
      .filter(col("cos") >= 0.8)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(got == want, s"incremental $got vs direct $want")
    assert(got.exists(_._1 == 1000L), "planted near-dup not found")
    val foreign = idx.withColumn("_seed", lit(999L))
    val e = intercept[IllegalArgumentException] {
      Similarity.incrementalAnnCandidates(newVecs, foreign, tau = 0.8)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("lshTopK corpus-side hot-bucket cap drops template-family candidates, keeps rare hits") {
    // the SEARCH-path twin of the signLshPairs cap: a flooded corpus
    // bucket multiplies every probe landing in it, so the cap drops it
    // from the index side; a probe near a RARE corpus vector still
    // finds it through uncapped buckets
    val rnd = new scala.util.Random(17)
    val template = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rare = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = ((0 until 64).map(i => (i.toLong, template)) :+ (500L, rare))
      .toDF("vec_id", "embedding")
    val probes = Seq((1000L, template.map(_ + 0.01f)), (1001L, rare.map(_ + 0.01f)))
      .toDF("vec_id", "embedding")
    val un = Similarity.lshTopK(probes, corpus, 5, bits = 6)
      .select("probe_id", "cand_id").as[(Long, Long)].collect()
    assert(un.count(p => p._1 == 1000L && p._2 < 64) == 5,
      "template family must dominate the uncapped search")
    val cp = Similarity.lshTopK(probes, corpus, 5, bits = 6, maxBucketSize = 16)
      .select("probe_id", "cand_id").as[(Long, Long)].collect()
    assert(!cp.exists(p => p._1 == 1000L && p._2 < 64),
      "flooded family must be dropped from the capped search")
    assert(cp.contains((1001L, 500L)), "rare candidate lost to the cap")
  }

  test("semDedup hot-cell re-split bounds cell population; verdicts survive the split") {
    // a 2-bit cell layout packs ~75 DISSIMILAR vectors per cell (the
    // hub-cell shape: the O(m²) within-cell join is pure waste on
    // non-duplicates); the cap re-splits hot cells with fresh seeded
    // sign bits. Planted EXACT duplicates agree on every sign bit, so
    // they can never be split apart — their keep/drop verdicts are
    // identical with and without the cap.
    val rnd = new scala.util.Random(13)
    val baseVecs = (0 until 300).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 10).map(i => (1000L + i, baseVecs(i * 7)._2))
    val vecs = (baseVecs ++ dups).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, tau = 0.95, bits = 2, maxCellSize = 20)
      .as[(Long, String, Int)].collect()
    assert(out.length == 310, "one verdict row per vector")
    // every planted duplicate (higher id) must be dropped: its original
    // shares every split-plane sign, so they co-cell at every level
    dups.indices.foreach { i =>
      val row = out.find(_._1 == 1000L + i).get
      assert(row._3 == 0, s"duplicate ${1000 + i} not dropped after re-split")
    }
    // the split fired (hot cells carry '#'-extended keys) and bounded
    // every final cell at the cap (deterministic under the fixed seed)
    val cellPops = out.groupBy(_._2).map(_._2.length)
    assert(out.exists(_._2.contains("#")), "no cell was re-split")
    assert(cellPops.max <= 20, s"a final cell still exceeds the cap: ${cellPops.max}")
    // cap off: verdicts for the planted duplicates are the same
    val un = Similarity.semDedup(vecs, tau = 0.95, bits = 2)
      .selectExpr("vec_id", "cast(kept as int)").as[(Long, Int)].collect().toMap
    dups.indices.foreach(i => assert(un(1000L + i) == 0))
  }

  test("IVF top-k: nprobe=2 recall >= nprobe=1, both subsets of brute force") {
    // clustered vectors so cells are meaningful: 4 tight clusters of 30
    // around orthogonal-ish seeds + the k=8 seed region
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 120).map { i =>
      val c = i % 4
      val base = Array.tabulate(64)(j => if (j % 4 == c) 1.0f else 0.0f)
      (i.toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.15f))
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") % 17 === 0)
    val bf = Similarity.bruteForceTopK(probes, vecs, 3)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    def recall(np: Int): Double = {
      val got = Similarity.ivfTopK(probes, vecs, 3, kCentroids = 8, nprobe = np)
        .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
      bf.count(got.contains).toDouble / bf.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 $r1")
    assert(r2 >= 0.7, s"nprobe=2 recall too low: $r2")
  }

  test("CappedConcat buffer stays O(sizeLimit) on a 100k-row hot group, output unchanged") {
    val limit = 10000
    val agg = new Aggregators.CappedConcat(limit)
    val items = (0 until 100000).map(i => (i.toLong, f"item$i%06d text"))
    // stress the reduce path with out-of-order arrival + a merge of halves
    val (h1, h2) = new scala.util.Random(7).shuffle(items).splitAt(50000)
    val b1 = h1.foldLeft(agg.zero)(agg.reduce)
    val b2 = h2.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(b1, b2)
    // bounded: the kept prefix saturates at sizeLimit lower-bound chars
    // (+ the between-check slack), never the 100k-item group
    val chars = merged.map(_._2.length).sum
    assert(merged.length < 2500, s"buffer kept ${merged.length} items")
    assert(chars < limit + 199 * 300, s"buffer kept $chars chars")
    // semantics identical to the unbounded reference on the sorted bag
    val want = graft.functions.TextFunctions.cappedConcat(items.map(_._2), limit)
    assert(agg.finish(merged) == want)
  }

  test("CappedConcat buffer stays bounded on a hot group of EMPTY items") {
    // zero-length items contribute no chars — the separator accounting
    // (+1 per item) is what bounds the buffer in item COUNT
    val limit = 5000
    val agg = new Aggregators.CappedConcat(limit)
    val items = (0 until 200000).map(i => (i.toLong, ""))
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(buf.length <= limit + 300, s"buffer kept ${buf.length} empty items")
    assert(agg.finish(buf) ==
      graft.functions.TextFunctions.cappedConcat(items.map(_._2), limit))
  }

  test("iterative ops release their caches (persisted-RDD count does not grow per level)") {
    val sc = spark.sparkContext
    def settle(): Unit = { System.gc(); Thread.sleep(300) } // let ContextCleaner drain
    settle()
    // each distributed loop (threshold forced to 0) leaves at most ONE
    // persisted RDD behind — its own output — however many rounds it ran;
    // a driver twin's output is a parallelized frame, so none
    var before = sc.getPersistentRDDs.size
    def leavesAtMostItsOutput(op: String, outputs: Int = 1)(run: => Unit): Unit = {
      run
      val after = sc.getPersistentRDDs.size
      assert(after - before <= outputs, s"$op leaked ${after - before - outputs} persisted RDDs")
      before = after
    }
    // a 20-level chain
    val chain = (0 until 20).map(i => (s"c$i", s"c${i + 1}")).toDF("src", "dst")
    val closure = Redirects.transitiveClosure(chain, localThreshold = 0)
    leavesAtMostItsOutput("transitiveClosure")(closure.count())
    val edges = (0 until 30).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val cc = TopicGraph.connectedComponents(edges, localThreshold = 0)
    leavesAtMostItsOutput("connectedComponents")(cc.count())
    val doubled = Redirects.transitiveClosureDoubling(chain, localThreshold = 0)
    leavesAtMostItsOutput("transitiveClosureDoubling")(doubled.count())
    // a 30-node ring with chords: 4-regular, so its 3-core and 3-truss
    // are the whole graph and every peel round runs on real rows
    val ring = (0 until 30).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 30).toLong), (i.toLong, ((i + 2) % 30).toLong)))
      .toDF("src", "dst")
    val core = TopicGraph.kCore(ring, k = 3, localThreshold = 0)
    leavesAtMostItsOutput("kCore")(assert(core.count() == 30))
    val truss = TopicGraph.kTrussPeel(ring, k = 3, rounds = 4, localThreshold = 0)
    leavesAtMostItsOutput("kTrussPeel")(truss.count())
    // a functional graph: a 10-node tail into a 10-node cycle
    val rho = ((0 until 19).map(i => (i.toLong, (i + 1).toLong)) :+ (19L, 10L))
      .toDF("src", "dst")
    val cyc = Redirects.cycleMembers(rho, localThreshold = 0)
    leavesAtMostItsOutput("cycleMembers")(assert(cyc.count() == 10))
    val lpa = TopicGraph.labelPropagation(ring, iters = 3, localThreshold = 0)
    leavesAtMostItsOutput("labelPropagation")(lpa.count())
    val hb = TopicGraph.hyperBall(ring, 3)
    leavesAtMostItsOutput("hyperBall")(hb.count())
    leavesAtMostItsOutput("effectiveDiameter")(TopicGraph.effectiveDiameter(edges))
    // the same ops on their driver twins (default threshold): the one
    // gate frees the edge checkpoint it collected
    def onDriver(op: String)(out: => org.apache.spark.sql.DataFrame): Unit =
      leavesAtMostItsOutput(s"$op (driver)", outputs = 0)(out.count())
    val seeds = Seq(0L).toDF("node")
    onDriver("transitiveClosure")(Redirects.transitiveClosure(chain))
    onDriver("transitiveClosureDoubling")(Redirects.transitiveClosureDoubling(chain))
    onDriver("connectedComponents")(TopicGraph.connectedComponents(edges))
    onDriver("pageRank")(TopicGraph.pageRank(edges))
    onDriver("personalizedPageRank")(TopicGraph.personalizedPageRank(edges, seeds))
    onDriver("hopDistance")(TopicGraph.hopDistance(edges, seeds))
    onDriver("kCore")(TopicGraph.kCore(ring, k = 3))
    onDriver("labelPropagation")(TopicGraph.labelPropagation(ring, iters = 3))
    onDriver("kTrussPeel")(TopicGraph.kTrussPeel(ring, k = 3, rounds = 4))
    onDriver("hits")(TopicGraph.hits(ring))
    onDriver("cycleMembers")(Redirects.cycleMembers(rho))
  }

  test("simhash: near-identical texts have small hamming distance") {
    val a = Dedup.simhash64((1 to 100).map(i => s"w$i").mkString(" "))
    val b = Dedup.simhash64((1 to 100).map(i => if (i == 5) "x" else s"w$i").mkString(" "))
    val c = Dedup.simhash64((1 to 100).map(i => s"q$i").mkString(" "))
    assert(Dedup.hamming(a, b) < 12)
    assert(Dedup.hamming(a, c) > 16)
  }

  test("brute-force ANN: self-similar vector ranks first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, 2)
      .select("cand_id", "rank").as[(Long, Int)].collect().toMap
    assert(got(1L) == 1) // closest
    assert(got(2L) == 2)
  }

  test("NT triple materialization: null rows skipped, lines byte-exact") {
    val df = Seq(("A", "B"), (null, "C"), ("D", null))
      .toDF("subj", "obj")
    val lines = TripleMaterialize.uriUriLines(df, "http://p", "http://s/", "http://o/")
      .as[String].collect().toSet
    assert(lines == Set("<http://s/A> <http://p> <http://o/B> ."))
  }

  test("planted alias chains resolve in mention triples; cycles stay unresolved") {
    import graft.functions.TextFunctions
    // the first 16 generated files are the planted name-level alias
    // files (4 names x 4 langs); one handmade doc mentions all three
    // alias surfaces
    val aliasFiles = CorpusGen.generate(16).map(_.file)
    assert(aliasFiles.forall(_.content.startsWith("#ALIAS [[")))
    val doc = CodeFile("r", "d.scala", "c", "scala",
      "## h\noldapi uses midapi but cyclic stays here now ok")
    val files = spark.createDataset(aliasFiles :+ doc)
    val got = Triples.mentionTriples(files, CorpusGen.dictionary)
      .as[(String, String)].collect().toSet
    val subj = TextFunctions.nameToUri("r/d.scala", "scala")
    assert(got == Set(
      // oldapi (2 hops) and midapi (1 hop) both land on the real entity
      (subj, TextFunctions.nameToUri("HashJoin", "scala")),
      // cycle members never settle: the mention keeps its raw target
      (subj, TextFunctions.nameToUri("aliases/CycleA", "scala"))))
  }

  test("triple P/R vs the golden oracle is >= 0.95 (north-rule criterion)") {
    import graft.functions.TextFunctions
    val corpus = CorpusGen.generate(1024)
    val files = spark.createDataset(corpus.map(_.file))
    val got = Triples.mentionTriples(files, CorpusGen.dictionary)
    // golden triples straight from the planted ground truth; labels
    // pointing at planted alias names resolve through the name-level
    // oracle (chain follows, cycle members stay unresolved)
    val want = corpus.filter(_.aliasTarget.isEmpty).flatMap { g =>
      g.mentions.map { m =>
        (TextFunctions.nameToUri(s"${g.file.repo}/${g.file.path}", g.file.lang),
          TextFunctions.nameToUri(CorpusGen.resolveName(m.label), g.file.lang))
      }
    }.distinct.toDF("subj", "obj")
    val (p, r) = Triples.precisionRecall(got, want)
    // (recall can dip slightly below 1.0: a mention straddling a
    // sentence-window boundary is not sentence-contained, matching the
    // reference's containment semantics)
    assert(p >= 0.95, s"precision $p")
    assert(r >= 0.95, s"recall $r")
  }

  test("rolling fingerprints: shared windows survive edits outside them") {
    val stable = (1 to 60).map(i => s"w$i").mkString(" ") // ~200 chars
    val a = "x" * 20 + stable + "y" * 20
    val b = "EDITED PREFIX!" + "x" * 20 + stable + "z" * 20
    val fa = Dedup.rollingFingerprints(a).toSet
    val fb = Dedup.rollingFingerprints(b).toSet
    assert((fa intersect fb).nonEmpty, "stable region must share fingerprints")
    val c = "completely different text with nothing in common at all ok"
    assert((fa intersect Dedup.rollingFingerprints(c).toSet).isEmpty)
    // deterministic + short-text path
    assert(Dedup.rollingFingerprints("tiny") == Dedup.rollingFingerprints("tiny"))
    assert(Dedup.rollingFingerprints("tiny").size == 1)
  }

  test("HLL approx distinct stays within 5% of exact (scale path of q55)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val both = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("exact"),
        approx_count_distinct(col("tok"), 0.02).as("approx"))
      .collect().head
    val (exact, approx) = (both.getLong(0), both.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"exact=$exact approx=$approx")
  }

  test("as-of join: latest build row at or before probe time; nulls when none") {
    val build = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 50L, "z"))
      .toDF("user_id", "ts", "v")
    val probe = Seq((1L, 15L, 100L), (1L, 20L, 101L), (1L, 5L, 102L), (2L, 60L, 103L))
      .toDF("user_id", "ts", "pid")
    val got = Temporal.asofJoin(probe, build)
      .select("pid", "asof_ts", "asof_v")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(got == Set(
      (100L, Some(10L), Some("a")),  // latest build <= 15 is ts=10
      (101L, Some(20L), Some("b")),  // tie at equal ts: build included (<=)
      (102L, None, None),            // nothing at or before ts=5
      (103L, Some(50L), Some("z"))))
  }

  test("connected components on an arbitrary graph (branches, cycle, isolate-pair)") {
    // component A: 1-2-3-4 with a cycle 2-4 and branch 3-7
    // component B: 5-6; component C: 8-9 (string labels work too: min is lexicographic)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L), (3L, 7L),
      (6L, 5L), (8L, 9L)).toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L)
    // both the driver union-find path (default threshold) and the
    // distributed propagation loop (threshold 0)
    assert(TopicGraph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap == want)
    assert(TopicGraph.connectedComponents(edges, localThreshold = 0)
      .as[(Long, Long)].collect().toMap == want)
  }

  test("star contraction equals min-label propagation and union-find on chain + clique") {
    // the two topology extremes: a 40-link chain (diameter 40 — where
    // plain propagation needs the most rounds) and a 12-clique (densest
    // neighborhoods), plus a union of both and singleton-pair noise
    val chain = (0L until 40L).map(i => (i, i + 1))
    val clique = for (a <- 100L until 112L; b <- (a + 1) until 112L) yield (a, b)
    val pairs = Seq((500L, 501L), (601L, 600L))
    val edges = (chain ++ clique ++ pairs).toDF("src", "dst")
    val want = (0L to 40L).map(_ -> 0L) ++ (100L until 112L).map(_ -> 100L) ++
      Seq(500L -> 500L, 501L -> 500L, 600L -> 600L, 601L -> 600L)
    val contraction = TopicGraph.connectedComponents(edges, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    val minLabel = TopicGraph.connectedComponentsMinLabel(edges)
      .as[(Long, Long)].collect().toMap
    val local = TopicGraph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(contraction == want.toMap, "contraction path")
    assert(minLabel == want.toMap, "min-label path")
    assert(local == want.toMap, "driver union-find path")
    // self-loop-only nodes are their own components on EVERY path (the
    // star rounds erase self-loops; the node-universe anti-join restores
    // them), and exactly one row per node comes back
    val withLoops = (chain ++ Seq((900L, 900L), (901L, 901L))).toDF("src", "dst")
    val gotLoops = TopicGraph.connectedComponents(withLoops, localThreshold = 0)
      .as[(Long, Long)].collect()
    assert(gotLoops.length == gotLoops.map(_._1).distinct.length, "duplicate node rows")
    val loopMap = gotLoops.toMap
    assert(loopMap(900L) == 900L && loopMap(901L) == 901L)
    assert((0L to 40L).forall(loopMap(_) == 0L))
    // string node labels: min = lexicographic on every path (the
    // greatest/least orientation in the star rounds must agree with
    // the min-agg and the driver union-find's Comparable ordering)
    val sEdges = Seq(("b", "a"), ("c", "b"), ("z", "y"), ("m", "m"))
      .toDF("src", "dst")
    val wantS = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "y" -> "y", "z" -> "y", "m" -> "m")
    assert(TopicGraph.connectedComponents(sEdges, localThreshold = 0)
      .as[(String, String)].collect().toMap == wantS)
    assert(TopicGraph.connectedComponents(sEdges)
      .as[(String, String)].collect().toMap == wantS)
  }

  test("range join matches a naive theta join on bucket boundaries") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // intervals crossing bucket boundaries (bucket = 1800s) and probes
    // exactly at interval edges
    val intervals = Seq(
      (1L, 10L, t("2024-01-01 00:15:00"), t("2024-01-01 00:45:00")), // spans 2 buckets
      (1L, 11L, t("2024-01-01 01:00:00"), t("2024-01-01 01:00:00")), // zero-width
      (2L, 12L, t("2024-01-01 00:00:00"), t("2024-01-01 02:00:00"))) // spans 5 buckets
      .toDF("user_id", "iid", "start_ts", "end_ts")
    val probes = Seq(
      (1L, 100L, t("2024-01-01 00:15:00")), // at start edge
      (1L, 101L, t("2024-01-01 00:45:00")), // at end edge
      (1L, 102L, t("2024-01-01 00:46:00")), // just outside
      (1L, 103L, t("2024-01-01 01:00:00")), // zero-width hit
      (2L, 104L, t("2024-01-01 01:59:59")), // inside the long interval
      (2L, 105L, t("2024-01-01 00:45:00"))) // inside, other user's interval times
      .toDF("user_id", "pid", "ts")
    val got = Temporal.rangeJoin(probes, intervals)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = probes.as("p").join(intervals.as("i"),
        col("p.user_id") === col("i.user_id") &&
          col("p.ts") >= col("i.start_ts") && col("p.ts") <= col("i.end_ts"))
      .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
    assert(got == naive)
    assert(got == Set((100L, 10L), (101L, 10L), (103L, 11L), (104L, 12L), (105L, 12L)))
  }

  test("approx_percentile stays within 5% of exact (scale path of q60)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val row = docs.agg(
      expr("percentile(n_chars, 0.9)").as("exact"),
      expr("approx_percentile(n_chars, 0.9, 1000)").as("approx"))
      .collect().head
    val (exact, approx) = (row.getDouble(0), row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("connected components match union-find on random graphs (seeded)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = Vector.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      // driver-side union-find truth
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = nodes.groupBy(find)
      val want = nodes.map(v => v -> byRoot(find(v)).min).toMap
      // alternate paths across trials: distributed loop and local UF
      val got = TopicGraph.connectedComponents(edges.toDF("src", "dst"),
          localThreshold = if (trial % 2 == 0) 0L else 4000000L)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial")
      // the same graph on String ids, where "n10" < "n9": both paths
      // label a component with its smallest id in String order
      val named = edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
      val wantNamed = nodes.map(v => s"n$v" -> byRoot(find(v)).map(u => s"n$u").min).toMap
      for (t <- Seq(0L, 4000000L)) {
        val gotNamed = TopicGraph.connectedComponents(named, localThreshold = t)
          .as[(String, String)].collect().toMap
        assert(gotNamed == wantNamed, s"trial $trial String ids, localThreshold $t")
      }
    }
  }

  test("as-of join matches a naive per-probe scan on random events (seeded)") {
    val rnd = new scala.util.Random(11)
    // unique (key, ts) on the build side for deterministic ties
    val build = rnd.shuffle((0L until 40L).toVector).take(25)
      .map(t => (t % 4, t, s"v$t"))
    val probes = Vector.fill(30)((rnd.nextInt(4).toLong, rnd.nextInt(45).toLong, rnd.nextInt(1000).toLong))
    val want = probes.map { case (k, t, pid) =>
      val m = build.filter(b => b._1 == k && b._2 <= t).sortBy(_._2).lastOption
      (pid, m.map(_._2), m.map(_._3))
    }.toSet
    val got = Temporal.asofJoin(
        probes.toDF("user_id", "ts", "pid"),
        build.toDF("user_id", "ts", "v"))
      .select("pid", "asof_ts", "asof_v")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(got == want)
  }

  test("Misra-Gries sketch: no false negatives above n/(k+1), under heavy eviction") {
    import org.apache.spark.sql.functions.udaf
    val rnd = new scala.util.Random(13)
    // zipf-ish skewed stream over a vocabulary far larger than k:
    // forces constant eviction; plus two planted heavy keys
    val stream = Vector.fill(20000)(s"t${math.pow(rnd.nextDouble(), 3).*(5000).toInt}") ++
      Vector.fill(3000)("HOT_A") ++ Vector.fill(1500)("HOT_B")
    val n = stream.size
    val k = 16
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mustSurvive = exact.filter(_._2 > n.toLong / (k + 1)).keySet
    assert(mustSurvive.contains("HOT_A") && mustSurvive.contains("HOT_B"))
    val mg = udaf(new Aggregators.MisraGries(k))
    // shuffled across 8 partitions: exercises reduce AND merge
    val got = spark.createDataset(rnd.shuffle(stream)).repartition(8)
      .agg(mg(col("value")).as("c"))
      .as[Seq[String]].collect().head.toSet
    assert(got.size <= k, s"sketch kept ${got.size} > $k keys")
    assert(mustSurvive.subsetOf(got),
      s"missing guaranteed keys: ${mustSurvive -- got}")
  }

  test("driver contract: every query has an oracle (or is declared rows-only), no orphans") {
    assert(SparkEntry.queries.keySet ==
      SparkEntry.oracleSql.keySet ++ SparkEntry.rowsOnlyQueries,
      s"missing oracles: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
        SparkEntry.rowsOnlyQueries}; " +
        s"orphan oracles: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
    assert(SparkEntry.rowsOnlyQueries.intersect(SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("pageRank: mass conserved, dangling redistributed, both paths equal") {
    // star into a sink (dangling) + a 2-cycle + an isolate edge:
    // exercises in-degree aggregation, dangling teleport, and ties
    val edges = Seq(
      ("a", "s"), ("b", "s"), ("c", "s"),
      ("x", "y"), ("y", "x"), ("p", "q")).toDF("src", "dst")
    val local = TopicGraph.pageRank(edges, iters = 8)
      .as[(String, Double)].collect().toMap
    assert(math.abs(local.values.sum - 1.0) < 1e-9,
      s"rank mass ${local.values.sum} != 1")
    // the sink collects the star's rank: beats its sources and the
    // isolate edge's target (the 2-cycle legitimately retains more —
    // its mass recirculates instead of teleporting away)
    assert(local("s") > local("a") && local("s") > local("q"))
    // symmetric 2-cycle: equal ranks
    assert(math.abs(local("x") - local("y")) < 1e-12)
    val dist = TopicGraph.pageRank(edges, iters = 8, localThreshold = 0)
      .as[(String, Double)].collect().toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (n, r) =>
      assert(math.abs(r - local(n)) < 1e-9, s"node $n: dist $r vs local ${local(n)}")
    }
  }

  test("personalizedPageRank: mass conserved, locality, both paths equal, guard") {
    // chain into a hub + far 2-cycle: seed at the chain head should
    // rank chain nodes above the equally-connected far cycle
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "h"), ("d", "h"),
      ("x", "y"), ("y", "x")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val local = TopicGraph.personalizedPageRank(edges, seeds, iters = 8)
      .as[(String, Double)].collect().toMap
    // restart + dangling both go to seeds: total mass exactly 1
    assert(math.abs(local.values.sum - 1.0) < 1e-9,
      s"rank mass ${local.values.sum} != 1")
    // proximity to the seed, not global fame: b (1 hop from a) beats
    // the recirculating far cycle; the unreachable cycle gets ~0
    assert(local("b") > local("x") && local("b") > local("y"))
    assert(local("x") < 1e-12 && local("y") < 1e-12)
    // hand reference for iter 1 with m(a)=1: r0 = [a:1, rest 0]; the
    // only dangling node h carries r0(h)=0 so dang=0; r1(a) =
    // 0.15*1 + 0.85*(0+0) = 0.15, r1(b) = 0.85*(r0(a)/1) = 0.85
    val one = TopicGraph.personalizedPageRank(edges, seeds, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(math.abs(one("a") - 0.15) < 1e-12 && math.abs(one("b") - 0.85) < 1e-12)
    // distributed loop value-equal to the driver fast path
    val dist = TopicGraph.personalizedPageRank(edges, seeds, iters = 8,
      localThreshold = 0).as[(String, Double)].collect().toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (n, r) =>
      assert(math.abs(r - local(n)) < 1e-9, s"node $n: dist $r vs local ${local(n)}")
    }
    // multi-seed mass split + non-graph seed ignored
    val two = TopicGraph.personalizedPageRank(edges,
      Seq("a", "x", "ghost").toDF("node"), iters = 6)
      .as[(String, Double)].collect().toMap
    assert(math.abs(two.values.sum - 1.0) < 1e-9)
    assert(two("x") > 0 && two("a") > 0)
    // all seeds outside the graph: loud refusal, both paths
    val ex = intercept[IllegalArgumentException](
      TopicGraph.personalizedPageRank(edges, Seq("ghost").toDF("node"), iters = 2))
    assert(ex.getMessage.contains("seed"))
    val ex2 = intercept[IllegalArgumentException](
      TopicGraph.personalizedPageRank(edges, Seq("ghost").toDF("node"),
        iters = 2, localThreshold = 0))
    assert(ex2.getMessage.contains("seed"))
  }

  test("hopDistance: min-hop layers, cycle-safe, both paths equal") {
    // diamond with a shortcut (two paths to d: 2 hops beats 3), a
    // cycle (must terminate, each node once), an unreachable island,
    // and an edgeless seed (dist 0, nothing more)
    val edges = Seq(
      ("s", "a"), ("s", "b"), ("a", "c"), ("c", "d"), ("b", "d"),
      ("d", "s"), // cycle back
      ("i1", "i2")).toDF("src", "dst")
    val got = TopicGraph.hopDistance(edges, Seq("s", "lone").toDF("node"))
      .as[(String, Int)].collect().toMap
    assert(got == Map("s" -> 0, "lone" -> 0, "a" -> 1, "b" -> 1,
      "c" -> 2, "d" -> 2), s"got $got")
    val dist = TopicGraph.hopDistance(edges, Seq("s", "lone").toDF("node"),
      localThreshold = 0).as[(String, Int)].collect().toMap
    assert(dist == got, s"distributed $dist vs local $got")
    // randomized graphs vs an in-test reference BFS, both paths
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 25
      val es = (0 until 3 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val seeds = Seq(0L, 1L)
      val want = {
        val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val d = scala.collection.mutable.HashMap.empty[Long, Int]
        var f = seeds.distinct; f.foreach(s => d(s) = 0); var l = 0
        while (f.nonEmpty) {
          l += 1
          f = f.flatMap(x => adj.getOrElse(x, Nil))
            .distinct.filterNot(d.contains)
          f.foreach(x => d(x) = l)
        }
        d.toMap
      }
      val df = es.toDF("src", "dst")
      val g1 = TopicGraph.hopDistance(df, seeds.toDF("node"))
        .as[(Long, Int)].collect().toMap
      val g2 = TopicGraph.hopDistance(df, seeds.toDF("node"), localThreshold = 0)
        .as[(Long, Int)].collect().toMap
      assert(g1 == want, s"trial $trial local")
      assert(g2 == want, s"trial $trial distributed")
    }
  }

  test("randomWalks: replayable walks, edge-valid, terminal drop, branch diversity") {
    def md5score(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // branching graph with a terminal (9) and a cycle (1<->2)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 4L), (3L, 9L),
      (4L, 1L), (4L, 9L))
    val edges = es.toDF("src", "dst")
    val starts = Seq(1L, 2L, 3L, 4L).toDF("node")
    val got = TopicGraph.randomWalks(edges, starts, steps = 4)
      .as[(Long, Int, Long)].collect().toSet
    // independent replay of the walk rule
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val want = (for (s <- Seq(1L, 2L, 3L, 4L)) yield {
      var cur = s
      val rows = Seq.newBuilder[(Long, Int, Long)]
      rows += ((s, 0, s))
      var t = 1
      var alive = true
      while (t <= 4 && alive) {
        adj.get(cur) match {
          case Some(ns) =>
            cur = ns.minBy(d => (md5score(s"w:$s:$t:$d"), d))
            rows += ((s, t, cur)); t += 1
          case None => alive = false // terminal: walk drops out
        }
      }
      rows.result()
    }).flatten.toSet
    assert(got == want, s"missing ${want.diff(got)} spurious ${got.diff(want)}")
    // edge validity for every consecutive pair
    val byWalk = got.groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2)).toMap
    byWalk.foreach { case (_, steps) =>
      steps.sliding(2).foreach {
        case Seq((_, t1, a), (_, t2, b)) if t2 == t1 + 1 =>
          assert(es.contains((a, b)), s"non-edge step $a->$b")
        case _ =>
      }
    }
    // the (start, step) salt exercises BOTH branches somewhere: across
    // walks and steps, node 1 must not always pick the same neighbor
    val picksFrom1 = (for {
      (s, t, a) <- got; (s2, t2, b) <- got
      if s2 == s && t2 == t + 1 && a == 1L
    } yield b).toSet
    assert(picksFrom1.size > 1, s"node 1 always picked $picksFrom1 - salt inert?")
    // determinism: a second run is identical
    val again = TopicGraph.randomWalks(edges, starts, steps = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(again == got)
  }

  test("hyperBall: propagated registers EQUAL the exact reachable set's registers") {
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 2) {
      val n = 25 + trial * 20
      val es = (0 until 2 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val edges = es.toDF("src", "dst")
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val nodesAll = es.flatMap(e => Seq(e._1, e._2)).distinct
      def ball(v: Long, radius: Int): Set[Long] = {
        var cur = Set(v); var all = Set(v)
        for (_ <- 1 to radius) {
          cur = cur.flatMap(x => adj.getOrElse(x, Nil)).diff(all)
          all ++= cur
        }
        all
      }
      for (radius <- Seq(0, 1, 3)) {
        // lossless propagation: after r rounds the file IS the exact
        // r-ball's register file (HLL merge law) — no estimator
        // tolerance anywhere in this assert
        val members = nodesAll.flatMap(v => ball(v, radius).map(m => (v, m)))
          .toDF("node", "member")
        val want = Sketches.hllRegisters(members,
            col("member").cast("string"), Seq("node"))
          .as[(Long, Long, Int)].collect().toSet
        val got = TopicGraph.hyperBallRegisters(edges, radius)
          .as[(Long, Long, Int)].collect().toSet
        assert(got == want, s"trial $trial radius $radius register mismatch")
      }
      // estimates grow with the radius (registers are max-monotone)
      val e1 = TopicGraph.hyperBall(edges, 1)
        .select(col("node"), col("ball_est")).as[(Long, Double)].collect().toMap
      val e3 = TopicGraph.hyperBall(edges, 3)
        .select(col("node"), col("ball_est")).as[(Long, Double)].collect().toMap
      nodesAll.foreach { v =>
        assert(e3(v) >= e1(v) - 1e-9, s"node $v: est shrank ${e1(v)} -> ${e3(v)}")
      }
    }
  }

  test("packed HyperBall registers EQUAL the row-form twin (values, not estimates)") {
    // the packed loop (one array<int> row per node, 64 codegen MAX
    // aggregates) must produce bit-identical register VALUES to the
    // row-form twin the q109/q110 oracles restate — the max-merge law
    // makes the layouts interchangeable, this pins it
    val rnd = new scala.util.Random(31)
    val n = 40
    val es = (0 until 2 * n).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
    val edges = es.toDF("src", "dst")
    for (radius <- Seq(0, 1, 3)) {
      val row = TopicGraph.hyperBallRegisters(edges, radius)
        .as[(Long, Long, Int)].collect().toSet
      val packed = Sketches.packedToRegisterRows(
          TopicGraph.hyperBallPackedRegisters(edges, radius), Seq("node"))
        .as[(Long, Long, Int)].collect().toSet
      assert(packed == row, s"radius $radius: packed != row form")
    }
    // and the packed merge law on a plain grouped corpus: singleton
    // init + group max-merge == hllRegisters
    val docs = (0 until 300).map(i => (s"g${i % 3}", s"k$i")).toDF("g", "k")
    val viaPacked = Sketches.packedToRegisterRows(
        Sketches.hllPackedMerge(
          docs.select(col("g"), Sketches.hllPackedSingleton(col("k")).as("regs")),
          Seq("g")), Seq("g"))
      .as[(String, Long, Int)].collect().toSet
    val viaRows = Sketches.hllRegisters(docs, col("k"), Seq("g"))
      .as[(String, Long, Int)].collect().toSet
    assert(viaPacked == viaRows)
  }

  test("Ranks.withPrefixSum: two-phase distributed rank == single-partition window") {
    // the q134 tie-rank and the SGNS vocab rank ride this equivalence:
    // forcing the threshold to 0 exercises the range-partitioned
    // two-phase path (per-partition totals -> driver prefix offsets ->
    // per-partition window), which must equal the one-task window's
    // running sum exactly — on every row, for weights both constant
    // and varying
    val rnd = new scala.util.Random(53)
    val rows = (0 until 500).map(_ => rnd.nextLong() % 10000)
      .distinct.map(k => (k, (math.abs(k) % 7) + 1L))
    val df = rows.toDF("score", "w")
    val viaWindow = Ranks.withPrefixSum(df, "score", col("w"), "below",
        singlePartThreshold = Long.MaxValue)
      .select(col("score"), col("below"))
      .as[(Long, Long)].collect().toSet
    val viaTwoPhase = Ranks.withPrefixSum(df, "score", col("w"), "below",
        singlePartThreshold = 0L)
      .select(col("score"), col("below"))
      .as[(Long, Long)].collect().toSet
    assert(viaTwoPhase == viaWindow)
    // unit weight = the dense-rank form (rank = below + 1)
    val ranks = Ranks.withPrefixSum(df.select(col("score")), "score",
        lit(1L), "below", singlePartThreshold = 0L)
      .select(col("score"), (col("below") + 1L).as("rn"))
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(ranks.map(_._1).toSeq == rows.map(_._1).sorted)
    assert(ranks.map(_._2).toSeq == (1L to rows.length).toSeq)
  }

  test("hllEstimateFromPacked: shuffle-free read-off == the explode+regroup bridge") {
    // the packed read-off (one codegen aggregate per row) must equal the
    // row-form bridge (posexplode -> groupBy) on every column, including
    // n_zero_regs (empty registers contribute 2^55 either way) — the
    // HyperBall read-offs (q109/q110/q112) ride this equivalence
    val rnd = new scala.util.Random(47)
    val n = 40
    val es = (0 until 2 * n).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
    val edges = es.toDF("src", "dst")
    for (radius <- Seq(0, 2)) {
      val packedFile = TopicGraph.hyperBallPackedRegisters(edges, radius)
      val direct = Sketches.hllEstimateFromPacked(packedFile, Seq("node"))
        .as[(Long, Long, Long, Double)].collect().toSet
      val bridge = Sketches.hllEstimateFromRegisters(
          Sketches.packedToRegisterRows(packedFile, Seq("node")), Seq("node"))
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(direct == bridge, s"radius $radius: packed read-off != bridge")
    }
  }

  test("neighborhoodFunction: exact-integer N(r) table, fixpoint and ed flags") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val t = TopicGraph.neighborhoodFunction(chain, maxRadius = 6)
      .orderBy("r")
      .as[(Int, Long, String, Long, Boolean, Boolean)].collect()
    assert(t.length == 7)
    assert(t.forall(_._2 == 5L), "n_nodes constant = 5")
    // reg_sum_total strictly decreases until the closure (round 4 on a
    // 4-edge chain), then stays EXACTLY equal — the integer fixpoint test
    val totals = t.map(r => BigInt(r._3))
    for (i <- 1 to 4) assert(totals(i) < totals(i - 1), s"round $i not shrinking")
    for (i <- 5 to 6) assert(totals(i) == totals(4), s"round $i moved past fixpoint")
    assert(t.map(_._5).toSeq ==
      Seq(false, false, false, false, false, true, true), "is_fixpoint flags")
    // N(r) nondecreasing; ed_reached is an up-set ending at the horizon
    val ests = t.map(_._4)
    ests.sliding(2).foreach { case Array(a, b) => assert(b >= a) }
    val ed = t.map(_._6)
    assert(ed.last, "horizon always reaches itself")
    ed.sliding(2).foreach { case Array(a, b) => assert(!a || b, "ed_reached monotone") }
    // the integer read-off agrees with effectiveDiameter's float one
    val (_, _, eff) = TopicGraph.effectiveDiameter(chain)
    assert(t.indexWhere(_._6) == eff, "first ed_reached round == effective diameter")
    // empty graph refused loudly (the advice-item guard)
    intercept[IllegalArgumentException] {
      TopicGraph.neighborhoodFunction(Seq.empty[(Long, Long)].toDF("src", "dst"), 2)
    }
    intercept[IllegalArgumentException] {
      TopicGraph.effectiveDiameter(Seq.empty[(Long, Long)].toDF("src", "dst"))
    }
  }

  test("effectiveDiameter: fixpoint at the true eccentricity, N(r) consistent with hyperBall") {
    // directed chain 0->1->2->3->4: balls stop growing after exactly 4
    // rounds (the longest path), and N(r) must equal the sum of
    // hyperBall(r) estimates — the same registers, read off two ways
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val (rounds, ns, eff) = TopicGraph.effectiveDiameter(chain)
    assert(rounds == 4, s"chain fixpoint at $rounds rounds, want 4")
    assert(ns.length == rounds + 1)
    // monotone non-decreasing (registers only grow)
    ns.sliding(2).foreach { case Seq(a, b) => assert(b >= a - 1e-9) }
    for (r <- Seq(0, 2, 4)) {
      val viaHb = TopicGraph.hyperBall(chain, r)
        .agg(sum(col("ball_est"))).as[Double].head()
      assert(math.abs(viaHb - ns(r)) < 1e-6, s"N($r): $viaHb vs ${ns(r)}")
    }
    // eff is the smallest r reaching 90% of the fixpoint value
    val target = 0.9 * ns.last
    assert(eff == ns.indexWhere(_ >= target - 1e-9))
    assert(eff >= 0 && eff <= rounds)
    // a 3-cycle: every ball saturates after 2 rounds
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val (r2, ns2, _) = TopicGraph.effectiveDiameter(cyc)
    assert(r2 == 2, s"3-cycle fixpoint at $r2, want 2")
    assert(ns2.last > ns2.head, "balls grew on the cycle")
  }

  test("harmonicCentrality: telescoped read-off equals the per-round definition") {
    val rnd = new scala.util.Random(17)
    val n = 30
    val es = (0 until 2 * n).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      .filter { case (a, b) => a != b }
    val edges = es.toDF("src", "dst")
    val radius = 3
    val bigL = 6L // lcm(1..3)
    // independent reference: per-round 1e4-scaled ball estimates from
    // the ROW-form registers (the spec twin), then the DEFINITION
    // H_scaled = Σ_{r=1..R} (est_r − est_{r−1}) · (L/r) in BigInt
    val cNum = BigInt(Sketches.HllEstE4Num)
    def estsAt(r: Int): Map[Long, BigInt] =
      Sketches.hllEstimateFromRegisters(
          TopicGraph.hyperBallRegisters(edges, r), Seq("node"))
        .select(col("node"), col("reg_sum"))
        .as[(Long, Long)].collect()
        .map { case (v, rs) => v -> cNum / BigInt(rs) }.toMap
    val perRound = (0 to radius).map(estsAt)
    val want = perRound(0).keys.map { v =>
      v -> (1 to radius).map(r =>
        (perRound(r)(v) - perRound(r - 1)(v)) * (bigL / r)).sum
    }.toMap
    val got = TopicGraph.harmonicCentrality(edges, radius)
      .select(col("node"), col("h_scaled"), col("h_harmonic"))
      .as[(Long, Long, Double)].collect()
    assert(got.length == want.size)
    got.foreach { case (v, hs, hh) =>
      assert(BigInt(hs) == want(v), s"node $v: $hs vs ${want(v)}")
      assert(math.abs(hh - math.round(hs / (1e4 * bigL) * 1e6) / 1e6) < 1e-9)
      assert(hs >= 0L, "registers only grow - h_scaled is nonnegative")
    }
    // star: leaves reach nothing (H = 0 exactly); the center reaches
    // every leaf at distance 1 (H > 0)
    val star = (1L to 20L).map(l => (0L, l)).toDF("src", "dst")
    val hs = TopicGraph.harmonicCentrality(star, 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(hs(0L) > 0L, "center sees its ball grow")
    (1L to 20L).foreach(l => assert(hs(l) == 0L, s"leaf $l must be exactly 0"))
  }

  test("pageRank invariants on random graphs (seeded)") {
    // mass conserved, every rank >= teleport floor (1-d)/n, ranks
    // positive — on arbitrary graphs incl. dangling nodes and cycles
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to 3 * n)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("src", "dst")
      val r = TopicGraph.pageRank(edges, iters = 6).as[(Long, Double)].collect()
      val nNodes = r.length
      assert(math.abs(r.map(_._2).sum - 1.0) < 1e-9, s"seed $seed mass")
      val floor = 0.15 / nNodes
      assert(r.forall(_._2 >= floor - 1e-12), s"seed $seed below teleport floor")
    }
  }

  test("pageRank matches the closed form on a 2-node cycle") {
    // a<->b with damping d: stationary rank is exactly 0.5 each, and
    // the power iteration stays there from the uniform start
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = TopicGraph.pageRank(edges, iters = 3).as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
  }

  test("cooccurrence PMI: counts and sign match hand computation") {
    // 4 docs; (spark,join) together in 2 of 4, spark in 3, join in 2:
    // pmi = ln(2*4/(3*2)) = ln(4/3) > 0; (spark,scan) in 1, scan in 2:
    // pmi = ln(1*4/(3*2)) = ln(2/3) < 0
    val docs = Seq(
      (0L, "spark join x"), (1L, "join spark spark"),
      (2L, "spark scan"), (3L, "y scan w")).toDF("doc_id", "text")
    val got = TextAnalysis.cooccurrencePmi(docs, Seq("spark", "join", "scan"), 4L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("join", "spark"))._1 == 2L)
    assert(math.abs(got(("join", "spark"))._2 - math.log(4.0 / 3.0)) < 1e-12)
    assert(got(("scan", "spark"))._1 == 1L)
    assert(math.abs(got(("scan", "spark"))._2 - math.log(2.0 / 3.0)) < 1e-12)
    // per-doc duplicates counted once (doc 1 has two "spark" tokens)
    assert(got.size == 2)
  }

  test("semDedup: in-cell near-duplicate dropped, sub-threshold cell-mates kept") {
    // seeded-projection cells (4 bits over ProjSeed hyperplanes):
    // v0/v1: cos ~1, co-celled -> v1 dropped, v0 (min id) kept
    // v2: cos(v0,v2) = 89/91 ≈ 0.978 < tau -> kept though co-celled
    //     (the threshold, not the cell boundary, makes this call)
    // v3: near-orthogonal to v0 -> its own cell, kept
    val vecs = Seq(
      (0L, Array(1f, 2f, 3f, 4f, 5f, 6f)),
      (1L, Array(1.01f, 2f, 3f, 4f, 5f, 6f)),
      (2L, Array(-1f, 2f, 3f, 4f, 5f, 6f)),
      (3L, Array(5f, 4f, 1f, 1f, -9f, 2f))).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(vecs, tau = 0.99, bits = 4)
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L)._2 == 1 && got(1L)._2 == 0)
    assert(got(2L)._2 == 1 && got(3L)._2 == 1)
    assert(got(0L)._1 == got(1L)._1 && got(0L)._1 != got(3L)._1)
  }

  test("semDedup auto-bits: cells ≈ √n, clamped [4,16]; max cell population shrinks with bits") {
    // ceil(log4 n) closed form, exact powers of 4 included
    assert(Similarity.semDedupAutoBits(1) == 4)
    assert(Similarity.semDedupAutoBits(256) == 4)      // 4^4 exactly
    assert(Similarity.semDedupAutoBits(257) == 5)
    assert(Similarity.semDedupAutoBits(2000) == 6)     // q77 @ sf0.1
    assert(Similarity.semDedupAutoBits(1L << 20) == 10)
    assert(Similarity.semDedupAutoBits(Long.MaxValue / 2) == 16) // clamp
    // more bits -> finer cells on a sign-diverse corpus: the scale
    // guarantee the auto default buys (in-cell pairwise is O(max_pop)
    // per row). Exact populations are family-dependent (seeded random
    // projections, not axis slices), so assert the shrinkage itself.
    val vecs = (0 until 512).map { i =>
      (i.toLong, (0 until 12).map(j =>
        if (((i >> j) & 1) == 1) 1f else -1f).toArray)
    }.toDF("vec_id", "embedding")
    def maxPop(bits: Int): Long = vecs
      .groupBy(Similarity.signBucket(col("embedding"), bits).as("cell"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).as[Long].head()
    val (p4, p8) = (maxPop(4), maxPop(8))
    assert(p8 < p4, s"cell granularity must follow bits ($p4 -> $p8)")
    assert(p8 <= 64, s"8 projection bits left a $p8-vector cell on 512 sign-diverse vectors")
    // the auto default picks 5 bits for n=512 (2^5 = 32 >= sqrt(512))
    assert(Similarity.semDedupAutoBits(512) == 5 && maxPop(5) <= p4)
  }

  test("signLshAutoBits: ~8 vectors per bucket per band, clamped [4,16]") {
    assert(Similarity.signLshAutoBits(1) == 4)
    assert(Similarity.signLshAutoBits(500) == 6)
    assert(Similarity.signLshAutoBits(2000) == 8)     // q44/q53 @ sf0.1
    assert(Similarity.signLshAutoBits(2048) == 8)     // exact power of two
    assert(Similarity.signLshAutoBits(1L << 20) == 16) // 2^17 needed -> clamp
    assert(Similarity.signLshAutoBits(100) == 4)
  }

  test("incrementalCandidates: new-vs-corpus and new-vs-new found, corpus pairs excluded") {
    val base = (1 to 40).map(i => s"alpha beta gamma delta epsilon$i zeta eta theta").mkString(" ")
    // corpus: 3, 4 near-identical (a corpus-internal pair — must NOT appear);
    // new batch: 10 matches corpus doc 3; 20 and 21 match each other
    val corpusDocs = Seq(
      (3L, base + " tail3"), (4L, base + " tail3x"), (5L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, base + " tail3"), (20L, base + " other"), (21L, base + " otherz"),
      (30L, "completely different content again")).toDF("doc_id", "text")
    val got = Dedup.incrementalCandidates(newDocs, Dedup.minhashSignaturesOnePass(corpusDocs))
      .as[(Long, Long, Boolean, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((10L, 3L)) && !got((10L, 3L)), "new-vs-corpus pair missing/mistagged")
    assert(got.contains((20L, 21L)) && got((20L, 21L)), "new-vs-new pair missing/mistagged")
    // corpus-internal pair (3,4) must not be re-examined
    assert(!got.keySet.exists { case (a, b) => Set(a, b) == Set(3L, 4L) })
    // every pair has a new-batch doc on the left
    assert(got.keySet.forall(p => Set(10L, 20L, 21L, 30L)(p._1)))
  }

  test("incremental dedup against a FAST (xxhash64) index finds pairs with fast = true") {
    // Main's dedup stage signs the index with minhashSignaturesFast;
    // the increment must use the same family or every bucket misses
    val base = (1 to 30).map(k => s"tok$k").mkString(" ")
    val corpus = Seq((1L, base + " a"), (2L, "something else wholly")).toDF("doc_id", "text")
    val batch = Seq((10L, base + " ab")).toDF("doc_id", "text")
    val fastIdx = Dedup.minhashSignaturesFast(corpus)
    val hit = Dedup.incrementalCandidates(batch, fastIdx, fast = true)
      .as[(Long, Long, Boolean, Double)].collect()
    assert(hit.exists(r => r._1 == 10L && r._2 == 1L && !r._3),
      s"fast-family increment missed the planted pair: ${hit.toSeq}")
    // mixed families would silently return nothing — guard the guard
    val mixed = Dedup.incrementalCandidates(batch, fastIdx, fast = false)
      .as[(Long, Long, Boolean, Double)].collect()
    assert(!mixed.exists(r => r._2 == 1L),
      "md5 increment against an xxhash64 index cannot legitimately match")
  }

  test("fastSigFromShingles equals minhashSignaturesFast byte-exact (streaming family)") {
    val docs = Seq(
      (1L, (1 to 25).map(k => s"tok$k").mkString(" ")),
      (2L, "short"), (3L, "two words"), (4L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val agg = Dedup.minhashSignaturesFast(docs)
      .as[(Long, Seq[String])].collect().toMap
    val mapSide = docs
      .withColumn("_sh", Dedup.wordShingles(col("text"), 3))
      .select(col("doc_id"), Dedup.fastSigFromShingles(col("_sh")).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(mapSide == agg)
    assert(agg.values.forall(_.size == 16))
  }

  test("signBandKeys: hyperplanes are generated, so bits*bands may exceed dim") {
    // the pre-round-4 axis-aligned family sliced the embedding and had
    // to HARD-FAIL past the dimension (a short slice silently collapsed
    // buckets); the seeded family draws hyperplanes from ProjSeed, so
    // 8 bits x 2 bands over an 8-dim vector is simply 16 hyperplanes
    val vecs = Seq((1L, Array.fill(8)(1f)), (2L, Array.fill(8)(-1f)))
      .toDF("vec_id", "embedding")
    val keys = vecs.select(col("vec_id"),
        explode(Similarity.signBandKeys(col("embedding"), 8, 2)).as("k"))
      .as[(Long, String)].collect()
    assert(keys.length == 4) // 2 vectors x 2 bands
    assert(keys.forall { case (_, k) => k.matches("[01]\\|[01]{8}") })
    // deterministic: a second evaluation emits byte-identical keys
    val again = vecs.select(col("vec_id"),
        explode(Similarity.signBandKeys(col("embedding"), 8, 2)).as("k"))
      .as[(Long, String)].collect()
    assert(keys.sorted.sameElements(again.sorted))
    // the two (opposite) vectors do not share every band key: a
    // projection sum flips sign with the vector except at exact zero
    val byVec = keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byVec(1L) intersect byVec(2L)).size < 2)
    intercept[IllegalArgumentException] {
      Similarity.signBandKeys(col("embedding"), 0, 4)
    }
  }

  test("seeded family beats axis-aligned signs on ANISOTROPIC planted clusters") {
    // the round-3 axis-aligned stand-in keyed band b on raw dims
    // [b*bits, (b+1)*bits) — on real (correlated) embeddings those
    // leading dims may carry no cluster signal at all, and recall
    // silently collapses. Planted corpus: dims 0..31 are pure per-member
    // noise signs (exactly what axis bands 0..3 @ 8 bits read), the
    // cluster identity lives ONLY in dims 32..63.
    val rnd = new scala.util.Random(7)
    def member(center: Array[Float]): Array[Float] = {
      val v = new Array[Float](64)
      var d = 0
      while (d < 32) { v(d) = (if (rnd.nextBoolean()) 0.5f else -0.5f); d += 1 }
      while (d < 64) { v(d) = center(d - 32) + rnd.nextGaussian().toFloat * 0.3f; d += 1 }
      v
    }
    val clusters = (0 until 20).map { _ =>
      Array.fill(32)((if (rnd.nextBoolean()) 3f else -3f))
    }
    val vecs = clusters.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 10).map(m => ((ci * 10 + m).toLong, member(c)))
    }.toDF("vec_id", "embedding")
    val wanted = (0 until 20).flatMap { ci =>
      val ids = (0 until 10).map(m => (ci * 10 + m).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val seeded = Similarity.signLshPairs(vecs, bits = 8, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the axis-aligned baseline, banded exactly as the old family was
    val axisKeyed = vecs.select(col("vec_id"), explode(array((0 until 4).map(b =>
        concat_ws("|", lit(b.toString),
          Similarity.axisSignBucket(col("embedding"), 8, first = b * 8))): _*)).as("bucket"))
    val axis = axisKeyed.as("a").join(axisKeyed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id")).distinct()
      .as[(Long, Long)].collect().toSet
    val rSeeded = wanted.count(seeded.contains).toDouble / wanted.size
    val rAxis = wanted.count(axis.contains).toDouble / wanted.size
    assert(rSeeded >= 0.85, f"seeded recall $rSeeded%.3f < 0.85")
    assert(rAxis <= 0.3, f"axis family unexpectedly strong ($rAxis%.3f) — test corpus broken")
    assert(rSeeded - rAxis >= 0.4,
      f"seeded $rSeeded%.3f vs axis $rAxis%.3f: gap not demonstrated")
  }

  test("semDedupKMeans: data-adapted cells co-cell more within-tau pairs than sign cells") {
    // tight planted clusters. At EQUAL cell count (16 sign cells =
    // 4 bits vs k = 16 sampled centroids), Voronoi cells of sampled
    // seeds keep near-identical mates together (the uniform id-sample
    // lands ~one seed per dense cluster, and mates only separate
    // across a Voronoi boundary), while 4 angular projection signs at
    // cos≈0.97 disagree on ≥1 bit for ~25% of mate pairs.
    val rnd = new scala.util.Random(11)
    def member(center: Array[Float]): Array[Float] =
      center.map(c => c + rnd.nextGaussian().toFloat * 0.35f)
    val clusters = (0 until 16).map(_ => Array.fill(64)((if (rnd.nextBoolean()) 2f else -2f)))
    val rows = clusters.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 8).map(m => ((ci * 8 + m).toLong, member(c)))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val tau = 0.9
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val byId = rows.toMap
    val truePairs = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      if cos(byId(a), byId(b)) >= tau
    } yield (a, b)).toSet
    assert(truePairs.size >= 100, s"corpus too sparse: ${truePairs.size} true pairs")
    def coCelled(cells: Map[Long, String]): Double =
      truePairs.count { case (a, b) => cells(a) == cells(b) }.toDouble / truePairs.size
    val signCells = vecs.select(col("vec_id"),
        Similarity.signBucket(col("embedding"), 4).as("cell"))
      .as[(Long, String)].collect().toMap
    // k-means cells read off the semDedupKMeans output (cell column)
    val kmCells = Similarity.semDedupKMeans(vecs, tau = tau, k = 16)
      .select(col("vec_id"), col("cell").cast("string"))
      .as[(Long, String)].collect().toMap
    val (rSign, rKm) = (coCelled(signCells), coCelled(kmCells))
    assert(rKm > rSign,
      f"k-means cells $rKm%.3f must beat sign cells $rSign%.3f at equal cell count")
    assert(rKm >= 0.8, f"k-means co-cell recall too low: $rKm%.3f")
    // and the dedup verdict itself: kmeans drops at least as many
    // true duplicates' worth of rows as the sign-cell form
    val keptSign = Similarity.semDedup(vecs, tau = tau, bits = 4)
      .filter(col("kept") === 0).count()
    val keptKm = Similarity.semDedupKMeans(vecs, tau = tau, k = 16)
      .filter(col("kept") === 0).count()
    assert(keptKm >= keptSign)
    // opt-in Lloyd refinement: still a valid partition (one verdict row
    // per vector) and co-cell recall no worse than the raw seed cells
    val lloyd = Similarity.semDedupKMeans(vecs, tau = tau, k = 16, iters = 1)
      .select(col("vec_id"), col("cell").cast("string"), col("kept"))
      .as[(Long, String, Int)].collect()
    assert(lloyd.length == rows.length)
    assert(lloyd.map(_._1).distinct.length == rows.length)
    val lloydCells = lloyd.map(r => r._1 -> r._2).toMap
    assert(coCelled(lloydCells) >= rKm - 1e-9)
  }

  test("incremental dedup over two batches equals the one-shot full-corpus search") {
    // day-1 index + day-2 increment must surface EXACTLY the pairs the
    // full-corpus batch search finds (as unordered id pairs)
    val mk = (i: Int, tail: String) =>
      (i.toLong, (1 to 30).map(k => s"w$k").mkString(" ") + " " + tail)
    val day1 = Seq(mk(1, "a"), mk(2, "ax"), (3L, "different doc entirely here")).toDF("doc_id", "text")
    val day2 = Seq(mk(10, "a"), mk(11, "ay"), (12L, "another unrelated one")).toDF("doc_id", "text")
    val all = day1.unionByName(day2)
    val full = Dedup.minhashCandidates(all)
      .as[(Long, Long, Double)].collect()
      .map(r => Set(r._1, r._2)).toSet
    val sigs1 = Dedup.minhashSignaturesOnePass(day1)
    val within1 = Dedup.candidatesFromSigs(sigs1)
      .as[(Long, Long, Double)].collect().map(r => Set(r._1, r._2)).toSet
    val inc = Dedup.incrementalCandidates(day2, sigs1)
      .as[(Long, Long, Boolean, Double)].collect().map(r => Set(r._1, r._2)).toSet
    assert((within1 ++ inc) == full,
      s"within1=$within1 inc=$inc full=$full")
    assert(full.nonEmpty)
  }

  test("triangles: K4, a triangle-free square, duplicates/direction ignored") {
    // K4 on 1-4 (4 triangles, each node in 3) + square 5-6-7-8-5 (none)
    // + pendant 4-9 (none); edges given in mixed direction with dups
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 2L), (3L, 4L),
      (5L, 6L), (6L, 7L), (8L, 7L), (8L, 5L),
      (4L, 9L)).toDF("src", "dst")
    val got = TopicGraph.triangles(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: degree-ordered counts equal a brute-force reference on random graphs") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val es = (1 to 4 * n)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
      val ref = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      for {
        i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
        (a, b, c) = (nodes(i), nodes(j), nodes(k))
        if und((a, b)) && und((b, c)) && und((a, c))
      } { ref(a) += 1; ref(b) += 1; ref(c) += 1 }
      val got = TopicGraph.triangles(es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == ref.toMap, s"seed $seed")
    }
  }

  test("disambiguate: prior x context-overlap argmax, deterministic tie-break") {
    // surface s: entity A labeled in d1w0/d1w1, B in d2w0/d3w0 (counts
    // tie at 2) -> the CONTEXT decides; surface u: full tie -> lexical
    val winToks = Seq(
      (1L, 0, "a1"), (1L, 0, "a2"), (1L, 0, "s"),
      (1L, 1, "a1"), (1L, 1, "a3"), (1L, 1, "s"),
      (2L, 0, "b1"), (2L, 0, "b2"), (2L, 0, "s"),
      (3L, 0, "b1"), (3L, 0, "b2"), (3L, 0, "b3"), (3L, 0, "s"),
      (5L, 0, "u"), (5L, 0, "c1"),
      (6L, 0, "u"), (6L, 0, "c1")).toDF("doc_id", "w", "token")
    val mentions = Seq(
      (1L, 0, "s", "A"), (1L, 1, "s", "A"),
      (2L, 0, "s", "B"), (3L, 0, "s", "B"),
      (5L, 0, "u", "X"), (6L, 0, "u", "Y")).toDF("doc_id", "w", "surface", "entity")
    val got = NerCorpus.disambiguate(mentions, winToks)
      .as[(Long, Int, String, String, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    // profiles: A = {a1,a2,a3,s}, B = {b1,b2,b3,s}; n(s,A)=n(s,B)=2
    assert(got((1L, 0, "s")) == ("A", 6L)) // 2 * |{a1,a2,s}|
    assert(got((1L, 1, "s")) == ("A", 6L))
    assert(got((2L, 0, "s")) == ("B", 6L)) // context beats the count tie
    assert(got((3L, 0, "s")) == ("B", 8L)) // 2 * |{b1,b2,b3,s}|
    // u: X and Y tie exactly (1 * 2 each) -> lexicographically-first X
    assert(got((5L, 0, "u")) == ("X", 2L))
    assert(got((6L, 0, "u")) == ("X", 2L))
    assert(got.size == 6)
  }

  test("commonnessPrior: per-surface distribution sums to 1, rank by count then name") {
    val se = Seq(("a", "E1"), ("a", "E1"), ("a", "E2"), ("b", "E3"))
      .toDF("surface", "entity")
    val got = NerCorpus.commonnessPrior(se)
      .as[(String, String, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got(("a", "E1")) == ((2L, 2.0 / 3.0, 1)))
    assert(got(("a", "E2")) == ((1L, 1.0 / 3.0, 2)))
    assert(got(("b", "E3")) == ((1L, 1.0, 1)))
  }

  test("qualityScore: logistic over rounded features matches hand computation") {
    // "the the a x": n=4, dr=.75, sr=.75, mtl=2 -> z=-3+.5ln4+2.25+3-.4
    // "zzzz": n=1, dr=1, sr=0, mtl=4 -> z=-3+0+3-0.8=-0.8 -> drop
    val docs = Seq((0L, "the the a x"), (1L, "zzzz")).toDF("doc_id", "text")
    val got = TextAnalysis.qualityScore(docs)
      .as[(Long, Double, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val z0 = -3.0 + 0.5 * math.log(4.0) + 3.0 * 0.75 + 4.0 * 0.75 - 0.2 * 2.0
    assert(math.abs(got(0L)._1 - 1.0 / (1.0 + math.exp(-z0))) < 1e-12)
    assert(got(0L)._2 == 1)
    val z1 = -0.8
    assert(math.abs(got(1L)._1 - 1.0 / (1.0 + math.exp(-z1))) < 1e-12)
    assert(got(1L)._2 == 0)
  }

  test("unigramLogprob: mean ln P(token) under the corpus's own LM") {
    // LM: x->3, y->1, total 4
    val docs = Seq((0L, "x x"), (1L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogprob(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L)._1 == 2L)
    assert(math.abs(got(0L)._2 - math.log(0.75)) < 1e-12)
    assert(math.abs(got(1L)._2 - (math.log(0.75) + math.log(0.25)) / 2) < 1e-12)
  }

  test("bigramLogprob: mean ln P(w2|w1) under the corpus's own bigram LM") {
    // LM: c(a,b)=2, c(b,a)=1, c(a,c)=1; contexts: a·=3, b·=1
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogprob(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == 3)
    assert(math.abs(got(1L)._2 - (2 * math.log(2.0 / 3)) / 3) < 1e-12)
    assert(got(2L) == ((1L, math.log(1.0 / 3))))
    assert(!got.contains(3L), "single-token doc has no bigrams, no row")
  }

  test("sourceStats: dup rate counts corpus-wide copies per source") {
    // "mirror" repeats a doc that also appears under "origin":
    // corpus-wide copies > 1 for both occurrences
    val docs = Seq(
      (0L, "origin", "a b c"), (1L, "mirror", "a b c"),
      (2L, "mirror", "a b c"), (3L, "mirror", "x y z w"),
      (4L, "clean", "u v")).toDF("doc_id", "source", "text")
    val got = Curation.sourceStats(docs)
      .as[(String, Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("origin")._5 == 1L && got("origin")._6 == 1.0)
    assert(got("mirror")._2 == 3L && got("mirror")._5 == 2L)
    assert(math.abs(got("mirror")._6 - 0.666667) < 1e-9)
    assert(got("mirror")._3 == 10L) // 3+3+4 tokens
    assert(got("clean")._5 == 0L && got("clean")._6 == 0.0)
  }

  test("HLL sketch: register merge law, rho bounds, estimate accuracy") {
    val docs = (0L until 3000L)
      .map(i => (i, if (i % 2 == 0) "java" else "scala",
        s"content body ${i % 1100}")) // 550 distinct per lang
      .toDF("doc_id", "lang", "text")
    val regs = Sketches.hllRegisters(docs, col("text"), Seq("lang"))
      .as[(String, Long, Int)].collect()
    assert(regs.forall(r => r._3 >= 1 && r._3 <= 55), "rho in [1, 55]")
    assert(regs.forall(r => r._2 >= 0 && r._2 < 64), "bucket in [0, 64)")
    // merge law: registers of the union == per-half registers merged by
    // MAX (the property that makes the sketch incremental/streamable)
    val half1 = docs.filter(col("doc_id") < 1500L)
    val half2 = docs.filter(col("doc_id") >= 1500L)
    val merged = Sketches.hllRegisters(half1, col("text"), Seq("lang"))
      .unionByName(Sketches.hllRegisters(half2, col("text"), Seq("lang")))
      .groupBy(col("lang"), col("bucket")).agg(max(col("rho")).as("rho"))
      .as[(String, Long, Int)].collect().toSet
    assert(merged == regs.toSet, "union registers == max-merged half registers")
    // estimate within the m=64 error envelope (~13% standard error;
    // assert 3 sigma) of the exact per-lang distinct count
    val est = Sketches.hllEstimate(docs, col("text"), Seq("lang"))
      .as[(String, Long, Long, Double)].collect()
    est.foreach { case (lang, _, _, e) =>
      val exact = 550.0
      assert(math.abs(e - exact) / exact < 0.4, s"$lang est $e vs $exact")
    }
  }

  test("Bloom sketch: no false negatives, OR-merge law, bounded fp rate") {
    val keys = (0 until 200).map(i => s"blocked key $i").toDF("k")
    val bits = Sketches.bloomBuild(keys, col("k"))
    // no false negatives: every built key tests positive
    val neg = keys.filter(!Sketches.bloomMightContain(col("k"), bits)).count()
    assert(neg == 0L, s"$neg false negatives")
    // merge law: filter(A ∪ B) == filter(A) | filter(B) long-for-long
    val (a, b) = (keys.filter(expr("k like '%1'")), keys.filter(expr("not k like '%1'")))
    val merged = Sketches.bloomBuild(a, col("k"))
      .zip(Sketches.bloomBuild(b, col("k"))).map { case (x, y) => x | y }
    assert(merged.toSeq == bits.toSeq, "union filter == OR of part filters")
    // fp rate on disjoint probes near the analytic (1 - e^(-kn/m))^k
    // ~ 0.4% at n=200, m=4096, k=3; assert an order-of-magnitude bound
    val probes = (0 until 2000).map(i => s"clean probe $i").toDF("k")
    val fp = probes.filter(Sketches.bloomMightContain(col("k"), bits)).count()
    assert(fp <= 80, s"fp count $fp out of 2000 (expected ~8)")
  }

  test("log-histogram sketch: SUM merge law, quantile bracket guarantee") {
    // skewed lengths: lang-dependent geometric-ish spread plus outliers
    val docs = (0L until 4000L)
      .map(i => (i, if (i % 3 == 0) "java" else "scala",
        1L + (i % 97) * (i % 97) + (if (i % 500 == 0) 100000L else 0L)))
      .toDF("doc_id", "lang", "len")
    val regs = Sketches.logHistRegisters(docs, col("len"), Seq("lang"))
      .as[(String, Int, Long)].collect()
    assert(regs.forall(r => r._2 >= 1 && r._2 <= 63), "bin = bitlength in [1,63]")
    assert(regs.length <= 2 * 64, "at most 64 registers per group")
    // merge law: registers of the union == per-half registers merged by
    // SUM (what makes per-shard manifests combinable without re-reading)
    val (h1, h2) = (docs.filter(col("doc_id") < 2000L), docs.filter(col("doc_id") >= 2000L))
    val merged = Sketches.logHistRegisters(h1, col("len"), Seq("lang"))
      .unionByName(Sketches.logHistRegisters(h2, col("len"), Seq("lang")))
      .groupBy(col("lang"), col("bin")).agg(sum(col("cnt")).as("cnt"))
      .as[(String, Int, Long)].collect().toSet
    assert(merged == regs.toSet, "union registers == sum-merged half registers")
    // bracket guarantee: the EXACT lower quantile (smallest v with
    // rank >= ceil(p*n)) lies inside [lo, hi] for every (lang, p)
    val qs = Seq(0.5, 0.9, 0.99)
    val got = Sketches.logHistQuantiles(docs, col("len"), Seq("lang"), qs)
      .as[(String, Double, Long, Long, Long)].collect()
    assert(got.length == 2 * qs.length, "one row per (lang, p)")
    val byLang = docs.as[(Long, String, Long)].collect()
      .groupBy(_._2).map { case (l, rows) => l -> rows.map(_._3).sorted }
    got.foreach { case (lang, p, bin, lo, hi) =>
      val vs = byLang(lang)
      val exact = vs(math.ceil(p * vs.length).toLong.toInt - 1)
      assert(exact >= lo && exact <= hi,
        s"$lang p=$p: exact $exact outside [$lo, $hi] (bin $bin)")
      assert(hi < 2 * lo + 2, "power-of-2 bin width: hi = 2*lo - 1")
    }
  }

  test("Count-Min sketch: never underestimates, SUM merge law, bounded registers") {
    val docs = (0L until 3000L)
      .map(i => (i, s"doc body ${i % 700}")) // 700 keys, skewed 4-5 copies
      .toDF("doc_id", "text")
    val regs = Sketches.cmsRegisters(docs, col("text"))
    assert(regs.count() <= Sketches.CmsDepth.toLong * Sketches.CmsWidth,
      "at most depth*width occupied counters")
    // one-sided error: est >= exact for EVERY key (each occurrence
    // incremented all of its depth counters, min can't drop below)
    val probes = docs.select(col("text")).distinct()
    val est = Sketches.cmsEstimate(probes, col("text"), regs)
    val exact = docs.groupBy(col("text")).agg(count(lit(1)).as("n_exact"))
    val under = est.join(exact, Seq("text"))
      .filter(col("n_est") < col("n_exact")).count()
    assert(under == 0L, s"$under underestimates (must be impossible)")
    // CM bound sanity: overestimate stays near e*N/width (~8 at N=3000,
    // w=1024); assert a loose 3x envelope on the max overshoot
    val overshoot = est.join(exact, Seq("text"))
      .agg(max(col("n_est") - col("n_exact"))).as[Long].head()
    assert(overshoot <= 24, s"max overshoot $overshoot > 24 (expected ~<=8)")
    // merge law: registers of the union == per-half registers merged by
    // SUM over (row, pos, geometry) — the property that makes per-shard
    // manifests combinable
    val (h1, h2) = (docs.filter(col("doc_id") < 1500L), docs.filter(col("doc_id") >= 1500L))
    val merged = Sketches.cmsRegisters(h1, col("text"))
      .unionByName(Sketches.cmsRegisters(h2, col("text")))
      .groupBy(col("row"), col("pos"), col("_depth"), col("_width"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("row"), col("pos"), col("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == regs.select(col("row"), col("pos"), col("cnt"))
      .as[(Int, Long, Long)].collect().toSet,
      "union registers == sum-merged half registers")
    // an absent key reads only colliding counters: small, never negative
    val ghost = Seq("never seen anywhere").toDF("text")
    val g = Sketches.cmsEstimate(ghost, col("text"), regs).as[(String, Long)].head()
    assert(g._2 >= 0L && g._2 <= 50L, s"ghost estimate ${g._2} out of envelope")
    // the register file carries its geometry: probing a foreign- or
    // mixed-geometry file is refused loudly (a silent mismatch would
    // read absent counters as 0 — an underestimate, the one failure
    // the sketch contract forbids)
    val foreign = Sketches.cmsRegisters(docs, col("text"), width = 512)
    val estF = Sketches.cmsEstimate(probes, col("text"), foreign)
    assert(estF.join(exact, Seq("text"))
      .filter(col("n_est") < col("n_exact")).count() == 0L,
      "geometry read from the file: foreign-width probe stays one-sided")
    val mixed = regs.unionByName(foreign)
    val ex = intercept[IllegalArgumentException](
      Sketches.cmsEstimate(probes, col("text"), mixed))
    assert(ex.getMessage.contains("mixed-geometry"))
    // nulls are not keys: excluded from registers, probe estimates 0
    val withNulls = docs.unionByName(
      Seq((9001L, null.asInstanceOf[String]), (9002L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val regsN = Sketches.cmsRegisters(withNulls, col("text"))
    assert(regsN.select(col("row"), col("pos"), col("cnt"))
      .as[(Int, Long, Long)].collect().toSet ==
      regs.select(col("row"), col("pos"), col("cnt"))
        .as[(Int, Long, Long)].collect().toSet,
      "null keys leave the register file untouched")
    val gN = Sketches.cmsEstimate(
      Seq(null.asInstanceOf[String]).toDF("text"), col("text"), regs)
      .as[(Option[String], Long)].head()
    assert(gN._2 == 0L, "null probe estimates 0")
  }

  /** Classic unit-cost Levenshtein, the test's independent reference. */
  private def levRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("editDistancePairs: blocking join equals brute-force distance-1 pairs") {
    // hand set covering substitution, insertion/deletion, equal-char
    // runs (delete_i == delete_j dedup), duplicates, empties, len-1
    val names = Seq("kitten", "kittens", "mitten", "sitting", "kitten",
      "", "aab", "ab", "a", "b").toDF("n")
    val got = Dedup.editDistancePairs(names, col("n"))
      .as[(String, String)].collect().toSet
    val distinct = Seq("kitten", "kittens", "mitten", "sitting", "aab", "ab", "a", "b")
    val want = (for {
      x <- distinct; y <- distinct
      if x < y && levRef(x, y) <= 1
    } yield (x, y)).toSet
    assert(got == want, s"got $got want $want")
    assert(!got.exists(p => p._1.isEmpty || p._2.isEmpty), "empties excluded")
    // randomized: short strings over a 3-letter alphabet (dense
    // distance-1 neighborhoods) vs the brute-force definition
    val rnd = new scala.util.Random(42)
    val pool = (0 until 120).map(_ =>
      (0 until (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val got2 = Dedup.editDistancePairs(pool.toDF("n"), col("n"))
      .as[(String, String)].collect().toSet
    val dp = pool.distinct
    val want2 = (for {
      x <- dp; y <- dp
      if x < y && levRef(x, y) <= 1
    } yield (x, y)).toSet
    assert(got2 == want2, s"random pool mismatch: ${got2.diff(want2)} / ${want2.diff(got2)}")
  }

  test("jaccardJoinExact: prefix-filter join equals the brute-force definition") {
    def jacRef(a: String, b: String): (Int, Int) = {
      val (sa, sb) = (a.split(" ").filter(_.nonEmpty).toSet,
        b.split(" ").filter(_.nonEmpty).toSet)
      (sa.intersect(sb).size, sa.union(sb).size)
    }
    def bruteForce(rows: Seq[(Long, String)], num: Int, den: Int): Set[(Long, Long)] = {
      val nonEmpty = rows.filter(_._2.split(" ").exists(_.nonEmpty))
      (for {
        (ia, ta) <- nonEmpty; (ib, tb) <- nonEmpty
        if ia < ib
        (c, u) = jacRef(ta, tb)
        if den.toLong * c >= num.toLong * u
      } yield (ia, ib)).toSet
    }
    // hand set: exact dup (jac 1), boundary pair at exactly 2/3 with
    // tau = 2/3 (integer filter must KEEP it), just-below pair, empty
    // text and double-space tokenization
    val hand = Seq(
      (1L, "a b c"), (2L, "a b c"),         // jac 1
      (3L, "a b c d"), (4L, "a  b c"),      // 3/4 vs doc1; double space
      (5L, "a b x"),                        // 2/4 vs doc1
      (6L, ""), (7L, " "))                  // empty: excluded entirely
    val handDf = hand.toDF("doc_id", "text")
    val got = Dedup.jaccardJoinExact(handDf, col("doc_id"), col("text"), 2, 3)
      .as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == bruteForce(hand, 2, 3))
    // the boundary pair (1,3): c=3, u=4, 3*3 >= 2*4 — kept, jac exact
    val b13 = got.find(r => r._1 == 1L && r._2 == 3L).get
    assert(b13._3 == 0.75)
    assert(!got.exists(r => r._1 >= 6L || r._2 >= 6L), "empty docs excluded")
    // randomized dense pools (small vocab => high overlap, the worst
    // case for blocking selectivity but the best for edge coverage) at
    // two thresholds, vs brute force
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'h').map(_.toString)
    val pool = (0L until 150L).map { i =>
      val n = 2 + rnd.nextInt(6)
      (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val poolDf = pool.toDF("doc_id", "text")
    for ((num, den) <- Seq((1, 2), (9, 10))) {
      val g = Dedup.jaccardJoinExact(poolDf, col("doc_id"), col("text"), num, den)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
      val w = bruteForce(pool, num, den)
      assert(g == w, s"tau=$num/$den: missing ${w.diff(g)} spurious ${g.diff(w)}")
    }
  }

  test("editDistancePairs: hashed join keys; verify absorbs ANY collision rate") {
    // the production join key is xxhash64(deletion key) — 8 bytes on
    // the wire instead of the ~name-length key string. A collision can
    // only ADD candidates (the Levenshtein verify removes them), so
    // even a deliberately CRUSHED 2-bit key space must yield the exact
    // answer; string keys and 64-bit hashes must agree too
    val rnd = new scala.util.Random(7)
    val pool = (0 until 100).map(_ =>
      (0 until (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val names = pool.toDF("n")
    val viaString = Dedup.editDistancePairsKeyed(names, col("n"), k => k)
      .as[(String, String)].collect().toSet
    val viaHash = Dedup.editDistancePairs(names, col("n"))
      .as[(String, String)].collect().toSet
    val viaCrushed = Dedup.editDistancePairsKeyed(names, col("n"),
        k => pmod(xxhash64(k), lit(4)))
      .as[(String, String)].collect().toSet
    assert(viaHash == viaString, "64-bit hash keys changed the answer")
    assert(viaCrushed == viaString, "2-bit keys (maximal collisions) changed the answer")
  }

  test("jaccardJoinExact: signature filter completeness and >=2x residual cut") {
    // adversarial low-entropy corpus (the synthetic documents regime):
    // every doc draws ~2/3 of a 31-word vocabulary, so rarest-first
    // prefixes concentrate on the same few tokens and the raw prefix
    // join is output-dense — exactly where the 64-bit token-set
    // signature bound must prune the residual BEFORE the distinct
    // exchange
    val vocab = (0 until 31).map(i => s"w$i")
    val rnd = new scala.util.Random(13)
    val docs = (0L until 600L).map { i =>
      (i, vocab.filter(_ => rnd.nextDouble() < 0.65).mkString(" "))
    }
    val docsDf = docs.toDF("doc_id", "text")
    val (num, den) = (19, 20)
    val (_, withSig) = Dedup.jaccardCandidateMeets(
      docsDf, col("doc_id"), col("text"), num, den)
    val (_, noSig) = Dedup.jaccardCandidateMeets(
      docsDf, col("doc_id"), col("text"), num, den, sigFilter = false)
    val (nSig, nNoSig) = (withSig.count(), noSig.count())
    assert(nNoSig >= 2 * nSig,
      s"signature filter cut only $nNoSig -> $nSig (< 2x)")
    // completeness against the brute-force definition (the filter may
    // only shrink the CANDIDATE set, never the answer)
    val got = Dedup.jaccardJoinExact(docsDf, col("doc_id"), col("text"), num, den)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val sets = docs.map { case (i, t) =>
      i -> t.split(" ").filter(_.nonEmpty).toSet
    }.filter(_._2.nonEmpty)
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib
      c = sa.intersect(sb).size; u = sa.union(sb).size
      if den.toLong * c >= num.toLong * u
    } yield (ia, ib)).toSet
    assert(got == want, s"missing ${want.diff(got).take(5)} spurious ${got.diff(want).take(5)}")
  }

  test("cycleMembers: tails excluded, cycles exact, functional guard") {
    // rho: tail 5->4->1 into cycle 1->2->3->1, plus a dead-end chain
    // 10->11->12 and a self-loop 7->7
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 4L),
      (10L, 11L), (11L, 12L), (7L, 7L)).toDF("src", "dst")
    val got = Redirects.cycleMembers(edges).as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 7L), s"got $got")
    // distributed pointer-doubling loop value-equal to the driver walk
    val gotDist = Redirects.cycleMembers(edges, localThreshold = 0)
      .as[Long].collect().toSet
    assert(gotDist == got, s"distributed $gotDist vs local $got")
    // Hamiltonian chain, the strict-bound edge case the scaladoc calls
    // out: at span == |srcs| the terminal still survives; only the
    // strict span > |srcs| exit may report empty
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Redirects.cycleMembers(chain).count() == 0L, "chain has no cycle")
    // non-functional input refused loudly
    val multi = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException](Redirects.cycleMembers(multi))
    assert(ex.getMessage.contains("functional"))
    // randomized functional graphs vs a walk-back reference
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 30
      val f = (0L until n.toLong).map(v => v -> rnd.nextLong(n.toLong)).toMap
      // drop ~1/4 of the nodes' out-edges so some walks exit the domain
      val dom = f.filter { case (v, _) => v % 4 != 1 }
      val df = dom.toSeq.toDF("src", "dst")
      val want = dom.keys.filter { v =>
        var cur = v; var steps = 0; var onCycle = false
        while (steps < 2 * n && !onCycle && dom.contains(cur)) {
          cur = dom(cur); steps += 1
          if (cur == v) onCycle = true
        }
        onCycle
      }.toSet
      val gotR = Redirects.cycleMembers(df).as[Long].collect().toSet
      assert(gotR == want, s"trial $trial: got $gotR want $want")
      val gotD = Redirects.cycleMembers(df, localThreshold = 0)
        .as[Long].collect().toSet
      assert(gotD == want, s"trial $trial distributed: got $gotD want $want")
    }
  }

  /** Reference peel for the k-core tests: iterate "drop every node of
    * current degree < k" to the fixpoint. */
  private def peelRef(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, ns) if ns.size < k => n }.toSet
      changed = drop.nonEmpty
      drop.foreach(adj.remove)
      adj.values.foreach(_ --= drop)
    }
    adj.map { case (n, ns) => n -> ns.size.toLong }.toMap
  }

  test("k-core peel: clique survives, tendrils peel, both paths agree") {
    // 5-clique (4-regular) + a chain hanging off it + a pendant pair:
    // the 3-core is exactly the clique; the chain peels over several
    // cascading rounds (each removal exposes the next)
    val clique = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val edges = (clique ++ chain ++ Seq((20L, 21L))).toDF("src", "dst")
    val want = (0L until 5L).map(_ -> 4L).toMap
    assert(TopicGraph.kCore(edges, k = 3).as[(Long, Long)].collect().toMap == want,
      "driver peel path")
    assert(TopicGraph.kCore(edges, k = 3, localThreshold = 0)
      .as[(Long, Long)].collect().toMap == want, "distributed peel path")
    // k above the max degree: empty core on both paths
    assert(TopicGraph.kCore(edges, k = 10).count() == 0L)
    assert(TopicGraph.kCore(edges, k = 10, localThreshold = 0).count() == 0L)
    // self-loops never contribute degree (a lone (n, n) node has no core
    // membership at k >= 1)
    val loops = (clique ++ Seq((50L, 50L))).toDF("src", "dst")
    val gotLoops = TopicGraph.kCore(loops, k = 3, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(gotLoops == want && !gotLoops.contains(50L))
  }

  test("k-core matches the reference peel on random graphs (both paths)") {
    val rnd = new scala.util.Random(97)
    for (trial <- 0 until 4) {
      val n = 50
      val edges = Vector.fill(110)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val k = 2 + trial % 3
      val want = peelRef(edges, k)
      val got = TopicGraph.kCore(edges.toDF("src", "dst"), k,
          localThreshold = if (trial % 2 == 0) 0L else 4000000L)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial k=$k")
    }
  }

  test("label propagation separates bridge-linked communities, both paths agree") {
    // two triangles joined by one bridge edge: CC (single linkage)
    // merges them into one component; 3 rounds of LPA keep them apart
    val triA = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val triB = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val edges = (triA ++ triB ++ Seq((2L, 10L))).toDF("src", "dst")
    val dist = TopicGraph.labelPropagation(edges, iters = 3, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    val local = TopicGraph.labelPropagation(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(dist == local, "distributed == driver")
    assert(Set(dist(0L), dist(1L), dist(2L)).size == 1, "triangle A pooled")
    assert(Set(dist(10L), dist(11L), dist(12L)).size == 1, "triangle B pooled")
    assert(dist(0L) != dist(10L), "communities stay distinct across the bridge")
    // CC on the same graph: one blob (the contrast LPA exists for)
    assert(TopicGraph.connectedComponents(edges).select(col("label"))
      .distinct().count() == 1L)
  }

  test("label propagation: distributed equals driver twin on random graphs") {
    // the synchronous + (count DESC, label ASC) tiebreak algorithm is
    // fully deterministic, so the two paths must agree EXACTLY
    val rnd = new scala.util.Random(98)
    for (trial <- 0 until 3) {
      val n = 40
      val edges = Vector.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val df = edges.toDF("src", "dst")
      val iters = 1 + trial
      val dist = TopicGraph.labelPropagation(df, iters, localThreshold = 0)
        .as[(Long, Long)].collect().toMap
      val local = TopicGraph.labelPropagation(df, iters)
        .as[(Long, Long)].collect().toMap
      assert(dist == local, s"trial $trial iters=$iters")
      // String ids, where "n10" < "n9": the smallest-label tie-break
      // follows String order on both paths
      val named = edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
      val distNamed = TopicGraph.labelPropagation(named, iters, localThreshold = 0)
        .as[(String, String)].collect().toMap
      val localNamed = TopicGraph.labelPropagation(named, iters)
        .as[(String, String)].collect().toMap
      assert(distNamed == localNamed, s"trial $trial iters=$iters String ids")
    }
  }

  test("k-center selection matches a naive driver-side Gonzalez reference") {
    val rnd = new scala.util.Random(71)
    val corpus = (0 until 60).map { i =>
      val c = i % 6
      val base = Array.tabulate(16)(j => if (j % 6 == c) 1.0f else 0.0f)
      (i.toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.05f))
    }
    val got = Similarity.kCenterSelect(corpus.toDF("vec_id", "embedding"), k = 6)
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)

    // naive reference with the same double arithmetic
    def distD(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (j <- a.indices) {
        dp += a(j).toDouble * b(j); na += a(j).toDouble * a(j)
        nb += b(j).toDouble * b(j)
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0) 1.0 else 1.0 - dp / nn
    }
    var sel = Vector((1, 0L, 0.0))
    var d = corpus.filter(_._1 != 0L)
      .map { case (id, v) => id -> distD(v, corpus(0)._2) }.toMap
    for (i <- 2 to 6) {
      val (id, dd) = d.toSeq.minBy { case (id, dd) => (-dd, id) }
      sel :+= ((i, id, dd))
      val cv = corpus(id.toInt)._2
      d = (d - id).map { case (x, dx) =>
        x -> math.min(dx, distD(corpus(x.toInt)._2, cv)) }
    }
    val want = sel.map { case (r, id, dd) =>
      (r, id, BigDecimal(dd).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0) }
    assert(got == want)
    // coverage radius is non-increasing after the seed, 6 distinct centers
    assert(got.drop(1).map(_._3) == got.drop(1).map(_._3).sorted.reverse)
    assert(got.map(_._2).distinct.size == 6)
    // the greedy picks one center per planted cluster (6 clusters)
    assert(got.map(_._2 % 6).toSet.size == 6)
  }

  test("source KL: fixed-point reference equality, zero at parity, shift positivity") {
    def lnfp(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    def ref(corpus: Seq[(String, Seq[String])]): Map[String, Double] = {
      val byGrp = corpus.groupBy(_._1).view
        .mapValues(_.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap)
        .toMap
      val global = byGrp.values.flatten
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val tt = global.values.sum
      byGrp.map { case (g, cs) =>
        val ts = cs.values.sum
        val s = cs.map { case (t, c) => c * (lnfp(c) - lnfp(global(t))) }.sum
        val kl = (s.toDouble / ts.toDouble - lnfp(ts).toDouble + lnfp(tt).toDouble) / 1e6
        g -> (BigDecimal(kl).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0)
      }
    }
    val corpus = Seq(
      ("s1", "a a b c"), ("s2", "a a b c"), ("s3", "z z z z z z"))
    val docs = corpus.zipWithIndex
      .map { case ((src, t), i) => (i.toLong, t, src) }
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceKl(docs, "source")
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    val want = ref(corpus.map { case (s0, t) => (s0, t.split(" ").toSeq) })
    assert(got == want)
    // the disjoint-vocab source diverges hardest; matching sources sit
    // at ln 2-ish (half the corpus mass shifted to z by s3)
    assert(got("s3") > got("s1") && got("s3") > 0.5)
    // parity corpus (global == each source's distribution): KL ~ 0 up
    // to the 1e-6 log grid
    val par = Seq((1L, "a a b", "p1"), (2L, "a a b", "p2"))
      .toDF("doc_id", "text", "source")
    TextAnalysis.sourceKl(par, "source")
      .as[(String, Long, Double)].collect()
      .foreach { case (g, n, kl) =>
        assert(n == 3 && math.abs(kl) < 1e-4, s"$g kl=$kl")
      }
  }

  test("zipf slope: ~-1 on an exact 1/r law, reference equality, degenerate exclusion") {
    // frequencies follow 840/r exactly for ranks 1..8
    val freqs = Seq("a" -> 840, "b" -> 420, "c" -> 280, "d" -> 210,
      "e" -> 168, "f" -> 140, "g" -> 120, "h" -> 105)
    val text = freqs.flatMap { case (t, n) => Seq.fill(n)(t) }.mkString(" ")
    val docs = Seq((1L, text, "en"), (2L, "x y", "tiny"))
      .toDF("doc_id", "text", "lang")
    val rows = TextAnalysis.zipfSlope(docs, "lang", topK = 8)
      .as[(String, Long, Double)].collect().toSeq
    // the 2-term group is excluded (degenerate denominator)
    assert(rows.map(_._1) == Seq("en"))
    val (_, n, slope) = rows.head
    assert(n == 8 && math.abs(slope + 1.0) < 1e-3, s"slope $slope")
    // exact fixed-point reference
    val xy = freqs.zipWithIndex.map { case ((_, c), i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e6).toLong,
        math.floor(math.log(c.toDouble) * 1e6).toLong)
    }
    val nn = xy.size.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxy, sxx) = (xy.map(p => p._1 * p._2).sum, xy.map(p => p._1 * p._1).sum)
    val ref = BigDecimal((nn * sxy - sx * sy).toDouble / (nn * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(slope == ref)
    // flat distribution (all equal counts): slope 0 exactly
    val flat = Seq((1L, Seq.fill(5)("p q r s").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val fs = TextAnalysis.zipfSlope(flat, "lang", topK = 8)
      .as[(String, Long, Double)].collect().head
    assert(fs._2 == 4 && fs._3 == 0.0, fs)
    intercept[IllegalArgumentException] {
      TextAnalysis.zipfSlope(docs, "lang", topK = 2)
    }
  }

  test("k-truss invariants on random graphs: nesting, self-consistency (seeded)") {
    val rnd = new scala.util.Random(97)
    for (trial <- 0 until 3) {
      val edges = Seq.fill(120)(
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2).toDF("src", "dst")
      // rounds high enough to converge on 25 nodes
      val t3 = TopicGraph.kTrussPeel(edges, k = 3, rounds = 30)
        .as[(Long, Long)].collect().toSet
      val t4 = TopicGraph.kTrussPeel(edges, k = 4, rounds = 30)
        .as[(Long, Long)].collect().toSet
      // nesting: the (k+1)-truss is a subgraph of the k-truss
      assert(t4.subsetOf(t3), s"trial $trial: 4-truss not within 3-truss")
      // self-consistency: every surviving k=4 edge has >= 2 common
      // neighbors INSIDE the surviving subgraph (converged fixpoint)
      val adj = t4.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      t4.foreach { case (u, v) =>
        val c = adj(u).count(adj.getOrElse(v, Set.empty).toSet)
        assert(c >= 2, s"trial $trial: edge ($u,$v) support $c")
      }
    }
  }

  test("hits: duplicating the edge multiset leaves normalized scores unchanged") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val once = TopicGraph.hits(edges, iters = 5)
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    val twice = TopicGraph.hits(edges.unionByName(edges), iters = 5)
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(once.map(_._1) == twice.map(_._1))
    once.zip(twice).foreach { case ((n, h1, a1), (_, h2, a2)) =>
      // doubled sums normalize away (up to summation-order ulps)
      assert(math.abs(h1 - h2) < 1e-12 && math.abs(a1 - a2) < 1e-12, n)
    }
  }

  test("adamic-adar: naive reference equality, rare beats hub, existing edges excluded") {
    val edgeSeq = Seq(
      (1L, 10L), (2L, 10L), (8L, 10L), // rare-ish center 10 (deg 3)
      (3L, 20L), (4L, 20L), (5L, 20L), (6L, 20L), (7L, 20L), // hub 20
      (1L, 2L)) // 1-2 adjacent: must NOT be predicted
    val edges = edgeSeq.toDF("src", "dst")
    val got = TopicGraph.adamicAdar(edges, k = 50)
      .as[(Long, Long, Double)].collect().toSet
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(es: Seq[(Long, Long)], k: Int): Set[(Long, Long, Double)] = {
      val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => p._1 != p._2).distinct
      val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val undSet = und.toSet
      val nodes = adj.keys.toSeq.sorted
      val scored = for {
        u <- nodes; v <- nodes; if u < v && !undSet((u, v))
        c = adj(u).intersect(adj(v)); if c.nonEmpty
      } yield (u, v, c.toSeq.map(w =>
        math.floor(1e9 / math.log(adj(w).size.toDouble)).toLong).sum)
      scored.sortBy { case (u, v, s) => (-s, u, v) }.take(k)
        .map { case (u, v, s) => (u, v, r6(s.toDouble / 1e9)) }.toSet
    }
    assert(got == ref(edgeSeq, 50))
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(!m.contains((1L, 2L))) // adjacent pair excluded
    // a rare-neighbor-mediated pair (center deg 3) outscores a
    // hub-mediated one (center deg 5)
    assert(m((1L, 8L)) > m((3L, 4L)))
    assert(m((1L, 8L)) == r6(math.floor(1e9 / math.log(3.0)) / 1e9))
    assert(m((3L, 4L)) == r6(math.floor(1e9 / math.log(5.0)) / 1e9))
    // k truncation on a larger seeded graph + reference equality
    val rnd = new scala.util.Random(23)
    val big = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val gotBig = TopicGraph.adamicAdar(big.toDF("src", "dst"), k = 20)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotBig == ref(big, 20) && gotBig.size == 20)
    intercept[IllegalArgumentException] {
      TopicGraph.adamicAdar(edges, k = 0)
    }
  }

  test("adamic-adar maxDeg: capped == exact under the cap; planted hub bounds wedges") {
    // capped == exact whenever every degree <= cap: the seeded top-f
    // sample keeps the whole adjacency, so nothing can differ
    val rnd = new scala.util.Random(29)
    val small = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val exact = TopicGraph.adamicAdar(small, k = 30)
      .as[(Long, Long, Double)].collect().toSet
    val capped = TopicGraph.adamicAdar(small, k = 30, maxDeg = Some(64))
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == exact)
    // the evaluation scores through the same wedge: exact under the cap too
    def auc(es: org.apache.spark.sql.DataFrame, cap: Option[Int]) =
      TopicGraph.linkPredictionAuc(es, maxDeg = cap)
        .as[(Long, Long, Option[Double])].collect().head
    val aucExact = auc(small, None)
    assert(aucExact._1 > 0 && aucExact._2 > 0 && auc(small, Some(64)) == aucExact)
    // planted star hub: center 0 with degree D = 60 plus a disjoint
    // rare wedge. Exact AA emits C(60,2) = 1770 hub-mediated pairs;
    // with cap f = 5 only the f sampled spokes can pair through the
    // hub -> <= C(5,2) = 10 hub wedges survive (deg^2 -> f^2 bound),
    // while the rare wedge (degrees <= 2) is untouched and still
    // carries its EXACT 1/ln(true deg) weight.
    val d = 60
    val hub = ((1 to d).map(i => (0L, 1000L + i)) ++
      Seq((5000L, 6000L), (5000L, 7000L))).toDF("src", "dst")
    val gotHub = TopicGraph.adamicAdar(hub, k = 5000)
      .as[(Long, Long, Double)].collect()
    val gotCap = TopicGraph.adamicAdar(hub, k = 5000, maxDeg = Some(5))
      .as[(Long, Long, Double)].collect()
    assert(gotHub.length == d * (d - 1) / 2 + 1)
    val hubPairsCap = gotCap.filter(r => r._1 >= 1000L && r._2 >= 1000L
      && r._2 < 5000L)
    assert(hubPairsCap.length == 5 * 4 / 2) // exactly C(f,2), not C(D,2)
    // hub-mediated scores still use the TRUE degree D, not the cap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wHub = r6(math.floor(1e9 / math.log(d.toDouble)) / 1e9)
    assert(hubPairsCap.forall(_._3 == wHub))
    // the low-degree wedge survives the cap bit-for-bit
    val rare = gotCap.filter(r => r._1 == 6000L && r._2 == 7000L)
    assert(rare.length == 1 &&
      rare.head._3 == r6(math.floor(1e9 / math.log(2.0)) / 1e9))
    // determinism: the seeded sample is a pure function of (w, x)
    val again = TopicGraph.adamicAdar(hub, k = 5000, maxDeg = Some(5))
      .as[(Long, Long, Double)].collect().toSet
    assert(again == gotCap.toSet)
    // the evaluation's candidates through the hub shrink to C(f,2) too
    // (plus the rare pair; held-out spokes leave the hub's train degree
    // at most D)
    assert(auc(hub, None)._2 > 5 * 4 / 2 + 1 && auc(hub, Some(5))._2 <= 5 * 4 / 2 + 1)
    intercept[IllegalArgumentException] {
      TopicGraph.adamicAdar(hub, k = 5, maxDeg = Some(1))
    }
    intercept[IllegalArgumentException] {
      TopicGraph.linkPredictionAuc(hub, maxDeg = Some(1))
    }
  }

  test("node2vec: p=q=1 equals first-order walks; exact reference equality; guards") {
    val n = 30L
    val edges = ((0L until n).map(i => (i, (i + 1) % n)) ++
      (0L until n).map(i => (i, (i * 2 + 1) % n))).toDF("src", "dst")
    val starts = edges.select(col("src").as("node")).distinct()
    // degenerate bias (p = q = 1) collapses to the first-order walk
    val a = TopicGraph.node2vecWalks(edges, starts, steps = 4,
      p = 1, q = 1, seed = "w").as[(Long, Int, Long)].collect().toSet
    val b = TopicGraph.randomWalks(edges, starts, steps = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(a == b)
    // full-output equality with a plain-Scala reference (exact integer
    // key * class arithmetic)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(x => f"$x%02x").mkString
    def key(st: Long, t: Int, d: Long): Long =
      java.lang.Long.parseLong(md5hex(s"n2v:$st:$t:$d").take(15), 16)
    val adj = (0L until n)
      .map(i => i -> Seq((i + 1) % n, (i * 2 + 1) % n).distinct).toMap
    val adjSet = adj.toSeq.flatMap { case (s0, ds) => ds.map((s0, _)) }.toSet
    def ref(start: Long, steps: Int, p: Long, q: Long): Seq[(Long, Int, Long)] = {
      var prev = -1L
      var cur = start
      (0 to steps).map { t =>
        if (t == 0) (start, 0, cur)
        else {
          val pick = adj(cur).minBy { x =>
            val w = if (t == 1) 1L
              else if (x == prev) p
              else if (adjSet.contains((prev, x))) 1L else q
            (key(start, t, x) * w, x)
          }
          prev = cur; cur = pick
          (start, t, cur)
        }
      }
    }
    val got = TopicGraph.node2vecWalks(edges, starts, steps = 4, p = 4, q = 2)
      .as[(Long, Int, Long)].collect().toSet
    val want = (0L until n).flatMap(s0 => ref(s0, 4, 4L, 2L)).toSet
    assert(got == want)
    // the bias changes SOME step-(>=2) choice vs the unbiased walk
    val unb = TopicGraph.node2vecWalks(edges, starts, steps = 4,
      p = 1, q = 1).as[(Long, Int, Long)].collect().toSet
    assert(got != unb)
    intercept[IllegalArgumentException] {
      TopicGraph.node2vecWalks(edges, starts, 2, p = 0)
    }
    intercept[IllegalArgumentException] {
      TopicGraph.node2vecWalks(edges, starts, 2, q = 9)
    }
  }

  test("containment join: finds quotes Jaccard misses; all-pairs reference; asymmetry") {
    val body = (1 to 120).map(i => s"w$i").mkString(" ")
    val quote = (40 to 60).map(i => s"w$i").mkString(" ") // verbatim 21-token run
    val other = (200 to 320).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, body), (2L, quote), (3L, other))
      .toDF("doc_id", "text")
    val out = Dedup.containmentJoinExact(docs, tauNum = 4, tauDen = 5)
      .as[(Long, Long, Double)].collect().toSeq
    // the quote is contained in the body at 1.0 — ORDERED pair (2, 1)
    // only; the body is nowhere near contained in the quote
    assert(out.map(r => (r._1, r._2)) == Seq((2L, 1L)) && out.head._3 == 1.0)
    // the symmetric Jaccard join at the same threshold cannot see it
    assert(Dedup.jaccardJoinExact(docs, col("doc_id"), col("text"), 4, 5)
      .collect().isEmpty)
    // completeness: engine == naive all-pairs reference on a seeded
    // corpus with planted quotes
    val rnd = new scala.util.Random(41)
    val bases = Vector.fill(40)(
      Seq.fill(30)("t" + rnd.nextInt(50)).mkString(" "))
    val corpus = (0 until 40).map { i =>
      val t = if (i % 7 == 0) bases((i + 3) % 40).split(" ").slice(5, 20)
        .mkString(" ") else bases(i)
      (i.toLong, t)
    }
    def shingles(t: String): Set[String] = {
      val tk = t.split(" ")
      if (tk.length < 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus; if ia != ib
      sa = shingles(ta); c = sa.intersect(shingles(tb)).size
      if 5L * c >= 4L * sa.size
    } yield (ia, ib, r6(c.toDouble / sa.size))).toSet
    val got = Dedup.containmentJoinExact(corpus.toDF("doc_id", "text"),
        tauNum = 4, tauDen = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty) // the planted quotes actually exercise it
    intercept[IllegalArgumentException] {
      Dedup.containmentJoinExact(docs, tauNum = 6, tauDen = 5)
    }
  }

  test("sgns: exact equality with a plain-Scala reference; planted-cluster recall; guards") {
    import graft.pipeline.Embeddings
    // ---- plain-Scala reference restating the exact integer SGNS ----
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    def h60(parts: Seq[String]): Long =
      java.lang.Long.parseLong(md5hex(parts.mkString(":")).take(15), 16)
    def fdivB(a: BigInt, b: Long): BigInt = (a - (((a % b) + b) % b)) / b
    def ref(walks: Seq[(Long, Int, Long)], dim: Int, window: Int,
        negatives: Int, epochs: Int, lrNum: Long, lrDen: Long,
        seed: String): Map[(Long, Int), Long] = {
      val nodes = walks.map(_._3).distinct.sorted
      val byRank = nodes.zipWithIndex.map { case (nd, i) => (i + 1L, nd) }.toMap
      val n = nodes.size
      val pos = scala.collection.mutable.Map[(Long, Long), Long]()
      for ((s1, t1, n1) <- walks; (s2, t2, n2) <- walks
           if s1 == s2 && t1 != t2 && math.abs(t1 - t2) <= window && n1 != n2)
        pos((n1, n2)) = pos.getOrElse((n1, n2), 0L) + 1
      val tri = scala.collection.mutable.Map[(Long, Long, Long), Long]()
      for (((c, x), m) <- pos) {
        tri((c, x, 1000000L)) = tri.getOrElse((c, x, 1000000L), 0L) + m
        for (j <- 1 to negatives) {
          val rn = h60(Seq(seed, "neg", c.toString, x.toString,
            j.toString)) % n + 1
          val xn = byRank(rn)
          tri((c, xn, 0L)) = tri.getOrElse((c, xn, 0L), 0L) + m
        }
      }
      def init(which: String) = nodes.flatMap(nd => (0 until dim).map(k =>
        (nd, k) -> (h60(Seq(seed, "init", which, nd.toString,
          k.toString)) % 200001L - 100000L))).toMap
      var eIn = init("i"); var eOut = init("o")
      for (_ <- 1 to epochs) {
        val gIn = scala.collection.mutable.Map[(Long, Int), BigInt]()
          .withDefaultValue(BigInt(0))
        val gOut = scala.collection.mutable.Map[(Long, Int), BigInt]()
          .withDefaultValue(BigInt(0))
        for (((c, x, label), m) <- tri) {
          val dot12 = (0 until dim).map(k =>
            BigInt(eIn((c, k))) * eOut((x, k))).sum
          val hs = (fdivB(fdivB(dot12, 1000000L), 4L) + 500000L)
            .max(0).min(1000000L)
          val gm = BigInt(m) * (BigInt(label) - hs)
          for (k <- 0 until dim) {
            gIn((c, k)) += gm * eOut((x, k))
            gOut((x, k)) += gm * eIn((c, k))
          }
        }
        def upd(e: Map[(Long, Int), Long],
            gr: scala.collection.mutable.Map[(Long, Int), BigInt]) =
          e.map { case (key, v) =>
            key -> (v + fdivB(gr(key) * lrNum, lrDen * 1000000L).toLong)
              .max(-2000000L).min(2000000L)
          }
        eIn = upd(eIn, gIn); eOut = upd(eOut, gOut)
      }
      eIn
    }
    // exact equality on a seeded walk corpus
    val rnd = new scala.util.Random(53)
    val walkSeq = for (s <- 0L until 8L; t <- 0 to 4)
      yield (s, t, rnd.nextInt(12).toLong)
    val got = Embeddings.sgnsTrain(walkSeq.toDF("start", "step", "node"),
        dim = 3, window = 2, negatives = 2, epochs = 2)
      .as[(Long, Int, Long)].collect()
      .map { case (nd, k, v) => (nd, k) -> v }.toMap
    val want = ref(walkSeq, dim = 3, window = 2, negatives = 2,
      epochs = 2, lrNum = 1, lrDen = 20, seed = "sgns")
    assert(got == want)
    // planted-cluster recall: walks confined to two disjoint cliques —
    // within-cluster cosine must beat cross-cluster after training
    val cliqueWalks =
      (for (s <- 0 until 20; t <- 0 to 4)
        yield ((s + 100).toLong, t, (1 + (s + t) % 5).toLong)) ++
      (for (s <- 0 until 20; t <- 0 to 4)
        yield ((s + 200).toLong, t, (11 + (s + t) % 5).toLong))
    val emb = Embeddings.sgnsTrain(cliqueWalks.toDF("start", "step", "node"),
        dim = 4, window = 2, negatives = 2, epochs = 4)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb == 0) 0.0 else d / (na * nb)
    }
    val ca = (1L to 5L).map(emb); val cb = (11L to 15L).map(emb)
    def pairs(xs: Seq[Seq[Double]]) =
      for (i <- xs.indices; j <- xs.indices if i < j) yield cos(xs(i), xs(j))
    val within = (pairs(ca.map(_.toSeq)) ++ pairs(cb.map(_.toSeq)))
    val cross = for (a <- ca; b <- cb) yield cos(a.toSeq, b.toSeq)
    assert(within.sum / within.size > cross.sum / cross.size,
      s"within ${within.sum / within.size} vs cross ${cross.sum / cross.size}")
    // guards
    intercept[IllegalArgumentException] {
      Embeddings.sgnsTrain(walkSeq.toDF("start", "step", "node"), dim = 0)
    }
    intercept[IllegalArgumentException] {
      Embeddings.sgnsTrain(walkSeq.toDF("start", "step", "node"), epochs = 0)
    }
    intercept[IllegalArgumentException] { // empty corpus refused loudly
      Embeddings.sgnsTrain(walkSeq.toDF("start", "step", "node").limit(0))
    }
    // end-to-end handoff: walks -> train -> asVectors -> ANN. The
    // trained vectors feed bruteForceTopK directly, and every cluster
    // node's nearest neighbor is a member of its own clique
    val vecs = Embeddings.asVectors(
      Embeddings.sgnsTrain(cliqueWalks.toDF("start", "step", "node"),
        dim = 4, window = 2, negatives = 2, epochs = 4))
    assert(vecs.schema("embedding").dataType.simpleString == "array<float>")
    // full ranking through the ANN operator: mean cosine of in-cluster
    // pairs must beat cross-cluster pairs AS SCORED BY the Similarity
    // tier — the same separation the raw-vector assertion above pins,
    // now measured end to end through the handoff
    val ranked = graft.pipeline.Similarity.bruteForceTopK(vecs, vecs, k = 9)
      .select(col("probe_id"), col("cand_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
    assert(ranked.length == 10 * 9)
    val (sameCl, diffCl) = ranked.partition { case (p, c, _) =>
      (p <= 5L) == (c <= 5L) }
    val mw = sameCl.map(_._3).sum / sameCl.length
    val mc = diffCl.map(_._3).sum / diffCl.length
    assert(mw > mc, s"ANN-path separation lost: within $mw vs cross $mc")
  }

  test("distGraphQueries: every distributed twin equals its official row at sf0.001") {
    // the bench's graph_dist leg times these twins — each must be
    // VALUE-equal to the official query (same pipeline, only
    // localThreshold = 0 forcing the distributed loop). hits compares
    // after the r8 rounding its own slot exports (double sums agree to
    // ulps, see TopicGraph.hits scaladoc); everything else is exact.
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    // the deep AQE plans of the forced-distributed loops OOM the test
    // JVM through INFO-level plan-string logging (StringConcat grows
    // with the exponentially nested cached lineage) — cap the plan
    // string and silence logs for this test only
    val prevLen = spark.conf.get("spark.sql.maxPlanStringLength")
    spark.conf.set("spark.sql.maxPlanStringLength", "65536")
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.distGraphQueries.foreach { case (name, fn) =>
      val official = SparkEntry.queries(name)(spark, d)
      val dist = fn(spark, d)
      assert(official.columns.toSeq == dist.columns.toSeq, name)
      // integral columns compare exactly; DOUBLE columns (the r8-
      // rounded pageRank/HITS scores) compare to 1e-7 — distributed
      // double sums are shuffle-order-dependent to ulps, and an exact
      // match on a rounded near-boundary value would be run-to-run
      // flaky (see TopicGraph.hits scaladoc)
      def key(r: org.apache.spark.sql.Row): Seq[Any] =
        r.toSeq.filterNot(_.isInstanceOf[Double])
      val a = official.collect().map(r => key(r) -> r.toSeq).toMap
      val b = dist.collect().map(r => key(r) -> r.toSeq).toMap
      assert(a.keySet == b.keySet,
        s"$name: distributed twin row keys diverge")
      a.foreach { case (k, va) =>
        val vb = b(k)
        va.zip(vb).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-7, s"$name $k: $x vs $y")
          case (x, y) => assert(x == y, s"$name $k: $x vs $y")
        }
      }
      spark.catalog.clearCache()
    } finally {
      spark.conf.set("spark.sql.maxPlanStringLength", prevLen)
      spark.sparkContext.setLogLevel("WARN")
    }
  }

  test("link-prediction AUC: plain-Scala reference equality, ranker sanity, degenerate NULL") {
    import graft.pipeline.TopicGraph
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    def h60(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def ref(es: Seq[(Long, Long)], testMod: Int): (Long, Long, Option[Double]) = {
      val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => p._1 != p._2).distinct
      val (test, train) = und.partition { case (u, v) =>
        h60(s"lp:$u:$v") % testMod == 0 }
      val adj = (train ++ train.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val cands = (for {
        w <- adj.keys.toSeq; if adj(w).size >= 2
        t = math.floor(1e9 / math.log(adj(w).size.toDouble)).toLong
        x <- adj(w); y <- adj(w); if x < y
      } yield ((x, y), t))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        .filterNot { case (p, _) => train.contains(p) }
      val testSet = test.toSet
      val scored = cands.toSeq.map { case (p, s) => (s, testSet.contains(p)) }
      val p = scored.count(_._2).toLong
      val n = scored.size - p
      if (p == 0 || n == 0) (p, n, None)
      else {
        // tie-aware doubled average ranks, ascending
        val byScore = scored.groupBy(_._1).toSeq.sortBy(_._1)
        var below = 0L; var s2 = BigInt(0)
        byScore.foreach { case (_, grp) =>
          val cnt = grp.size.toLong
          val pos = grp.count(_._2).toLong
          s2 += BigInt(pos) * (2 * (below + 1) + cnt - 1)
          below += cnt
        }
        val auc = (s2 - BigInt(p) * (p + 1)).toDouble / (2.0 * p * n)
        (p, n, Some(BigDecimal(auc)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }
    // seeded dense-ish graph: engine == reference exactly
    val rnd = new scala.util.Random(61)
    val es = Seq.fill(300)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val got = TopicGraph.linkPredictionAuc(es.toDF("src", "dst"), testMod = 5)
      .as[(Long, Long, Option[Double])].collect().head
    val want = ref(es, 5)
    assert((got._1, got._2, got._3) == want, s"got $got want $want")
    assert(want._1 > 0 && want._2 > 0 && want._3.isDefined) // non-degenerate
    // ranker sanity: AA on a community graph separates held-out edges
    // from non-edges well above chance
    assert(want._3.get > 0.5)
    // degenerate split (no candidate positives) reports NULL, loudly
    // typed, never a guessed number: a path graph has no triangles,
    // so held-out edges are never at train distance 2... use a tiny
    // star (all wedge pairs are non-edges; holdout edges can't be
    // candidates unless hashed out of train — either way p or n = 0)
    val star = (1L to 6L).map(i => (0L, i))
    val deg = TopicGraph.linkPredictionAuc(star.toDF("src", "dst"))
      .as[(Long, Long, Option[Double])].collect().head
    assert(deg._3.isEmpty)
    intercept[IllegalArgumentException] {
      TopicGraph.linkPredictionAuc(es.toDF("src", "dst"), testMod = 1)
    }
  }

  test("containment join maxDf: boilerplate flood pruned, rare quotes kept, cap==exact when cold") {
    // boilerplate flood: 30 docs that are the SAME license header (every
    // shingle df = 30) -> without the cap that is 30*29 = 870 ordered
    // pairs, each candidate joining a df-30 posting list; with
    // maxDf = 5 the hot shingles leave BOTH index sides, so the flood
    // produces zero candidates — the documented MOSS recall trade
    val header = (1 to 40).map(i => s"lic$i").mkString(" ")
    val flood = (0 until 30).map(i => (i.toLong, header))
    // plus one genuine rare-shingle quote pair, which must survive
    val rareBody = (100 to 220).map(i => s"rb$i").mkString(" ")
    val rareQuote = (140 to 170).map(i => s"rb$i").mkString(" ")
    val docs = (flood ++ Seq((100L, rareBody), (101L, rareQuote)))
      .toDF("doc_id", "text")
    val uncapped = Dedup.containmentJoinExact(docs, tauNum = 4, tauDen = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.count(r => r._1 < 30L) == 30 * 29) // the flood, all pairs
    assert(uncapped.contains((101L, 100L, 1.0)))
    val capped = Dedup.containmentJoinExact(docs, tauNum = 4, tauDen = 5,
      maxDf = Some(5)).as[(Long, Long, Double)].collect().toSet
    // flood gone (bounded candidates), rare quote intact with its
    // EXACT containment value (verify is over the full arrays)
    assert(capped == Set((101L, 100L, 1.0)))
    // when no shingle exceeds the cap, capped == exact bit-for-bit
    val rnd = new scala.util.Random(47)
    val cold = (0 until 25).map { i =>
      val t = if (i % 6 == 0)
        ((i * 30) to (i * 30 + 25)).map(j => s"c$j") ++
          (500 to 515).map(j => s"q$j")
      else ((i * 30) to (i * 30 + 40)).map(j => s"c$j")
      (i.toLong, t.mkString(" "))
    }.toDF("doc_id", "text")
    val a = Dedup.containmentJoinExact(cold, tauNum = 1, tauDen = 3)
      .as[(Long, Long, Double)].collect().toSet
    val b = Dedup.containmentJoinExact(cold, tauNum = 1, tauDen = 3,
      maxDf = Some(25)).as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
    intercept[IllegalArgumentException] {
      Dedup.containmentJoinExact(docs, maxDf = Some(1))
    }
  }

  test("winnowing: driver-reference equality, no-miss guarantee, common-code elimination") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    def ref(text: String, k: Int, w: Int): Set[(Long, Long)] = {
      val t = text.split(" ").toSeq
      if (t.size < k + w - 1) Set.empty
      else {
        val hs = (0 to t.size - k).map(i => java.lang.Long.parseLong(
          md5hex(t.slice(i, i + k).mkString(" ")).take(15), 16))
        (0 to hs.size - w).map { s =>
          val m = (s until s + w).map(j => (hs(j), -j)).min
          ((-m._2).toLong, m._1)
        }.toSet
      }
    }
    val texts = Seq(
      1L -> "a b c d e f g h i j k l",
      2L -> "x y z a b c d e f g h q",  // shares the 9-token run a..h? (7+)
      3L -> "m m m m m m m m m m",      // all-equal grams: rightmost-tie rule
      4L -> "p q r s t u",              // too short (< k+w-1): no fingerprints
      5L -> "a b c d e f g h i j k l") // exact dup of 1
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.winnowingFingerprints(docs, k = 4, w = 4)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    texts.foreach { case (id, t) =>
      assert(got.getOrElse(id, Set.empty) == ref(t, 4, 4), s"doc $id")
    }
    // no-miss: docs 1 and 2 share a >= 7-token run -> >= 1 shared hash
    val h1 = got(1L).map(_._2); val h2 = got(2L).map(_._2)
    assert(h1.intersect(h2).nonEmpty)
    // exact dup shares ALL fingerprints
    assert(got(5L).map(_._2) == h1)
    // pairs: dup pair dominates; the shared-run pair appears
    val pairs = Dedup.winnowingPairs(docs, k = 4, w = 4, maxDf = 5)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 5L)) == h1.size.toLong)
    assert(pairs.contains((1L, 2L)))
    // common-code elimination: a gram in MORE than maxDf docs stops
    // matching — with maxDf = 2 the triple-shared hashes (docs 1, 2, 5)
    // are idiom, so the (1,2) pair dies while (1,5) keeps its
    // exclusive duplicates
    val strict = Dedup.winnowingPairs(docs, k = 4, w = 4, maxDf = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(!strict.contains((1L, 2L)) && strict.contains((1L, 5L)))
    // deterministic under repartition
    val again = Dedup.winnowingPairs(docs.repartition(5), k = 4, w = 4,
      maxDf = 5).as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(again == pairs)
    intercept[IllegalArgumentException] {
      Dedup.winnowingPairs(docs, maxDf = 1)
    }
  }

  test("neighbor sampling: fanout bound, real-edge subset, frontier consistency, seeds") {
    // hub with 10 out-neighbors; each neighbor has 3 second-layer edges
    val edges = ((1L to 10L).map(i => (0L, i)) ++
      (1L to 10L).flatMap(i =>
        Seq((i, 100L + i), (i, 200L + i), (i, 300L + i)))).toDF("src", "dst")
    val out = TopicGraph.sampleNeighbors(edges, Seq(3, 2))
      .as[(Long, Int, Long, Long)].collect().toSeq
    val es = edges.as[(Long, Long)].collect().toSet
    assert(out.forall { case (_, _, u, v) => es.contains((u, v)) })
    out.groupBy(r => (r._1, r._2, r._3)).foreach { case ((_, hop, _), g) =>
      assert(g.size <= (if (hop == 1) 3 else 2), s"fanout exceeded: $g")
    }
    // the hub keeps exactly 3 of its 10 hop-1 neighbors
    assert(out.count(r => r._1 == 0L && r._2 == 1) == 3)
    // every hop-2 src is a hop-1 dst OF THE SAME ROOT
    val h1 = out.filter(_._2 == 1).map(r => (r._1, r._4)).toSet
    assert(out.filter(_._2 == 2).forall(r => h1.contains((r._1, r._3))))
    // deg-3 frontier nodes get exactly 2 hop-2 edges
    assert(out.count(r => r._1 == 0L && r._2 == 2) == 6)
    // deterministic under repartition
    val again = TopicGraph.sampleNeighbors(edges.repartition(7), Seq(3, 2))
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(again.toSet == out.toSet && again.size == out.size)
    // a different seed draws a different hub sample
    val mine = out.filter(r => r._1 == 0L && r._2 == 1).map(_._4).toSet
    val other = TopicGraph.sampleNeighbors(edges, Seq(3, 2), seed = "other:")
      .as[(Long, Int, Long, Long)].collect()
      .filter(r => r._1 == 0L && r._2 == 1).map(_._4).toSet
    assert(other != mine)
    intercept[IllegalArgumentException] {
      TopicGraph.sampleNeighbors(edges, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TopicGraph.sampleNeighbors(edges, Seq(2, 0))
    }
  }

  test("incremental components equal a full recompute; merges and new nodes handled") {
    // base: {1,2,3} chain + {10,11}; labels committed
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val committed = TopicGraph.connectedComponents(base)
    // delta: merge the two committed components via a NEW node 20,
    // plus a fresh isolated pair {30,31}
    val delta = Seq((3L, 20L), (20L, 10L), (30L, 31L)).toDF("src", "dst")
    val got = TopicGraph.incrementalComponents(committed, delta)
      .as[(Long, Long)].collect().toMap
    val want = TopicGraph.connectedComponents(base.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got(11L) == 1L && got(20L) == 1L && got(31L) == 30L)
    // seeded random graph pairs: incremental == full recompute
    val rnd = new scala.util.Random(59)
    for (trial <- 0 until 3) {
      val b = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2).toDF("src", "dst")
      val dl = Seq.fill(25)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2).toDF("src", "dst")
      val inc = TopicGraph.incrementalComponents(
          TopicGraph.connectedComponents(b), dl)
        .as[(Long, Long)].collect().toMap
      val full = TopicGraph.connectedComponents(b.unionByName(dl))
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"trial $trial")
    }
    // distributed contraction path under the hood agrees
    val incD = TopicGraph.incrementalComponents(committed, delta,
      localThreshold = 0).as[(Long, Long)].collect().toMap
    assert(incD == got)
    intercept[IllegalArgumentException] {
      TopicGraph.incrementalComponents(committed,
        Seq(("a", "b")).toDF("src", "dst"))
    }
  }

  test("bm25 retrieval: exact driver-reference match, length norm, top-k, guards") {
    val corpus = Seq(
      (1L, "hash join hash"),
      (2L, "hash join x x x x x x x"),
      (3L, "hash hash hash hash"),
      (4L, "join"),
      (5L, "x y z"),
      (6L, "hash join hash p p p p p"))
    val docs = corpus.toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, Seq(1 -> Seq("hash", "join")), k = 6)
      .as[(Int, Long, Double, Int)].collect().toSeq.sortBy(_._4)
    // independent plain-Scala reference with the same formula
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / corpus.size
    def tf(id: Long, t: String) = toks(id).count(_ == t).toDouble
    def df(t: String) = toks.values.count(_.contains(t)).toDouble
    def idf(t: String) = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
    def score(id: Long): Double = Seq("hash", "join").map { t =>
      idf(t) * (tf(id, t) * (1.2 + 1.0)) /
        (tf(id, t) + 1.2 * ((1.0 - 0.75) + 0.75 * toks(id).size / avgdl))
    }.reduceLeft(_ + _)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = corpus.map(_._1).map(id => (id, r6(score(id))))
      .sortBy { case (id, sc) => (-sc, id) }.zipWithIndex
      .map { case ((id, sc), i) => (1, id, sc, i + 1) }
    assert(got == want)
    val rank = got.map(r => r._2 -> r._4).toMap
    // doc 1 (both terms, tf_hash=2, short) beats everything
    assert(rank(1L) == 1)
    // length normalization: same tf as doc 1, padded doc ranks lower
    assert(rank(1L) < rank(6L))
    // no-term doc scores 0 and comes last
    assert(rank(5L) == 6 && got.find(_._2 == 5L).get._3 == 0.0)
    // k truncates; multi-query output carries each query_id
    val multi = TextAnalysis.bm25TopK(docs,
      Seq(1 -> Seq("hash"), 2 -> Seq("join")), k = 2)
      .as[(Int, Long, Double, Int)].collect()
    assert(multi.length == 4 && multi.map(_._1).toSet == Set(1, 2))
    // partitioning-independent
    val again = TextAnalysis.bm25TopK(docs.repartition(7),
      Seq(1 -> Seq("hash", "join")), k = 6)
      .as[(Int, Long, Double, Int)].collect().toSeq.sortBy(_._4)
    assert(again == got)
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, Seq(1 -> Seq.empty), k = 2)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, Seq(1 -> Seq("hash")), k = 0)
    }
  }

  test("k-truss peel: cores survive, bridges/pendants peel, cascade, both paths equal") {
    // two K4 cliques + a bridge edge + a pendant triangle: the 4-truss
    // is exactly the two K4s (every K4 edge has 2 mutual neighbors;
    // the bridge has 0, the pendant-triangle edges at most 1)
    val k4a = for { i <- 0 to 3; j <- (i + 1) to 3 } yield (s"a$i", s"a$j")
    val k4b = for { i <- 0 to 3; j <- (i + 1) to 3 } yield (s"b$i", s"b$j")
    val noise = Seq(("a0", "b0"), ("a0", "p1"), ("a1", "p1"))
    val edges = (k4a ++ k4b ++ noise).toDF("src", "dst")
    val out = TopicGraph.kTrussPeel(edges, k = 4, rounds = 3)
      .as[(String, String)].collect().toSet
    assert(out == (k4a ++ k4b).toSet)
    val dist = TopicGraph.kTrussPeel(edges, k = 4, rounds = 3,
      localThreshold = 0).as[(String, String)].collect().toSet
    assert(dist == out)
    // k-core contrast: the whole pendant triangle survives a 2-core
    // but not the 3-truss... and a 3-truss keeps any triangle — the
    // bridge edge alone distinguishes: in NO triangle, gone at k=3
    val t3 = TopicGraph.kTrussPeel(edges, k = 3, rounds = 1)
      .as[(String, String)].collect().toSet
    assert(!t3.contains(("a0", "b0")) && t3.contains(("a0", "p1")))
    // triangle strip: peeling CASCADES — boundary triangles unravel
    // one layer per round until nothing is left
    val strip = (0 to 3).flatMap(i =>
      Seq((s"v$i", s"v${i + 1}"), (s"v${i + 1}", s"v${i + 2}"),
        (s"v$i", s"v${i + 2}"))).distinct.toDF("src", "dst")
    val r1 = TopicGraph.kTrussPeel(strip, k = 4, rounds = 1).count()
    val r9 = TopicGraph.kTrussPeel(strip, k = 4, rounds = 9).count()
    assert(r1 > 0 && r9 == 0, s"strip: r1=$r1 r9=$r9")
    val r1d = TopicGraph.kTrussPeel(strip, k = 4, rounds = 1,
      localThreshold = 0).count()
    assert(r1d == r1)
    // long ids work; canonicalization dedups direction + self-loops
    val lk4 = (for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j))
    val lEdges = (lk4 ++ lk4.map(_.swap) ++ Seq((2L, 2L))).toDF("src", "dst")
    assert(TopicGraph.kTrussPeel(lEdges, k = 4, rounds = 2)
      .as[(Long, Long)].collect().toSet == lk4.toSet)
    intercept[IllegalArgumentException] {
      TopicGraph.kTrussPeel(edges, k = 2, rounds = 1)
    }
    intercept[IllegalArgumentException] {
      TopicGraph.kTrussPeel(edges, k = 4, rounds = 0)
    }
  }

  test("sq8 reconstruct: half-step error bound, constant dims exact, search recall") {
    val rnd = new scala.util.Random(83)
    val corpus = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      // planted clusters + a CONSTANT dim (idx 8) + a wide-range dim
      val v = Array.tabulate(10) { j =>
        if (j == 8) 2.5f
        else if (j == 9) (i.toFloat - 100f) // range ~[-100, 100)
        else if (j % 4 == c) 1.0f + rnd.nextGaussian().toFloat * 0.05f
        else rnd.nextGaussian().toFloat * 0.05f
      }
      (i, v)
    }
    val df = corpus.toDF("vec_id", "embedding")
    val rec = Similarity.sq8Reconstruct(df)
      .as[(Long, Array[Double])].collect().toMap
    // per-dim error <= half a quantization step; constant dim exact
    val byDim = Array.tabulate(10)(j => corpus.map(_._2(j).toDouble))
    for (j <- 0 until 10) {
      val (mn, mx) = (byDim(j).min, byDim(j).max)
      val step = if (mx == mn) 0.0 else (mx - mn) / 255.0
      corpus.foreach { case (id, v) =>
        val err = math.abs(rec(id)(j) - v(j))
        assert(err <= step / 2 + 1e-12, s"dim $j id $id err $err step $step")
      }
    }
    assert(corpus.forall { case (id, _) => rec(id)(8) == 2.5 })
    // quantized top-1 matches the exact float top-1 on separated
    // clusters for every probe (the quantizer must not break recall)
    val recDf = Similarity.sq8Reconstruct(df)
    val probes = recDf.filter(col("vec_id") % 40 === 0)
    val top1q = Similarity.bruteForceTopK(probes, recDf, 1)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    val top1e = Similarity.bruteForceTopK(
        df.filter(col("vec_id") % 40 === 0), df, 1)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toMap
    assert(top1q.keySet == top1e.keySet)
    val agree = top1q.count { case (p, c) => top1e(p) == c }
    assert(agree >= top1q.size - 1, s"top-1 agreement $agree/${top1q.size}")
    // partitioning-independent (stats pass is a global aggregate)
    val rec2 = Similarity.sq8Reconstruct(df.repartition(7))
      .as[(Long, Array[Double])].collect().toMap
    assert(corpus.forall { case (id, _) => rec(id).sameElements(rec2(id)) })
    intercept[IllegalArgumentException] {
      Similarity.sq8Reconstruct(
        Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"))
    }
  }

  test("hits: hub/authority split, L1 mass, both paths equal, guards") {
    // two hubs into a shared authority + a chain edge: h1,h2 point at
    // s (authority); s points at t so it is also a (weak) hub
    val edges = Seq(
      ("h1", "s"), ("h2", "s"), ("h1", "x"), ("s", "t")).toDF("src", "dst")
    val local = TopicGraph.hits(edges, iters = 6)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // both score vectors are L1-normalized
    assert(math.abs(local.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(local.values.map(_._2).sum - 1.0) < 1e-9)
    // s is the top authority; h1 (2 out-edges into authorities) is the
    // top hub; pure sinks have hub 0, pure sources authority 0
    assert(local("s")._2 > local("x")._2 && local("s")._2 > local("t")._2)
    assert(local("h1")._1 > local("h2")._1 && local("h1")._1 > local("s")._1)
    assert(local("t")._1 == 0.0 && local("h1")._2 == 0.0)
    val dist = TopicGraph.hits(edges, iters = 6, localThreshold = 0)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (n, (h, a)) =>
      assert(math.abs(h - local(n)._1) < 1e-9, s"node $n hub")
      assert(math.abs(a - local(n)._2) < 1e-9, s"node $n auth")
    }
    intercept[IllegalArgumentException] {
      TopicGraph.hits(Seq.empty[(String, String)].toDF("src", "dst"))
    }
    intercept[IllegalArgumentException] {
      TopicGraph.hits(edges, iters = 0)
    }
  }

  test("hits: symmetric complete bipartite graph gives uniform scores per side") {
    val edges = (for { s <- Seq(1L, 2L, 3L); d <- Seq(10L, 11L) }
      yield (s, d)).toDF("src", "dst")
    val r = TopicGraph.hits(edges, iters = 4)
      .as[(Long, Double, Double)].collect()
    val (src, dst) = r.partition(_._1 < 10L)
    assert(src.map(_._2).distinct.length == 1) // equal hubs
    assert(dst.map(_._3).distinct.length == 1) // equal auths
    assert(math.abs(src.head._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(dst.head._3 - 1.0 / 2) < 1e-12)
    assert(src.forall(_._3 == 0.0) && dst.forall(_._2 == 0.0))
  }

  test("k-center selection: k beyond corpus size exhausts gracefully") {
    val rows = Seq(
      (1L, Array.tabulate(4)(j => if (j == 0) 1.0f else 0.0f)),
      (2L, Array.tabulate(4)(j => if (j == 1) 1.0f else 0.0f)),
      (3L, Array.tabulate(4)(j => if (j == 2) 1.0f else 0.0f)))
    val out = Similarity.kCenterSelect(rows.toDF("vec_id", "embedding"), k = 10)
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    // every point becomes a center; ranks stay dense 1..3
    assert(out.map(_._1) == Seq(1, 2, 3))
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      graft.pipeline.TextAnalysis.bm25TopK(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        Seq(1 -> Seq("x")), k = 1)
    }
  }

  test("k-center selection: zero vectors sit at distance 1; partitioning-independent") {
    val rows = Seq(
      (1L, Array.fill(8)(0.0f)), (2L, Array.tabulate(8)(j => if (j == 0) 1.0f else 0.0f)),
      (3L, Array.tabulate(8)(j => if (j == 1) 1.0f else 0.0f)),
      (4L, Array.tabulate(8)(j => if (j == 0) 1.0f else 0.0f)))
    val a = Similarity.kCenterSelect(rows.toDF("vec_id", "embedding"), k = 3)
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    val b = Similarity.kCenterSelect(
      rows.toDF("vec_id", "embedding").repartition(5), k = 3)
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(a == b)
    // seed = zero vector (min id) at radius 0; everything else is at
    // distance 1 from it, ties by id -> vec 2; then the orthogonal 3
    assert(a.map(x => (x._1, x._2)) == Seq((1, 1L), (2, 2L), (3, 3L)))
    assert(a(1)._3 == 1.0)
  }
}
