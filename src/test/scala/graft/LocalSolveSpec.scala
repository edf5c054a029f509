package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Round-19 optimization: the below-threshold one-task solvers
  * (graph/LocalSolve.scala) must return BIT-IDENTICAL results to the
  * distributed fixpoint loops they shortcut. Every algorithm runs twice
  * on the same graph — once with the local path enabled (tiny test
  * graphs are always under the default threshold) and once with
  * `spark.graft.graph.localSolveEdges = 0` (distributed loops) — and
  * the outputs are compared as sets of rows.
  */
class LocalSolveSpec extends SparkSpec {

  import spark.implicits._

  private def bothPaths(fn: => DataFrame): (Set[String], Set[String]) = {
    val key = "spark.graft.graph.localSolveEdges"
    spark.conf.unset(key) // default: local path on
    val local = fn.collect().map(_.toString).toSet
    spark.conf.set(key, "0")
    try {
      val dist = fn.collect().map(_.toString).toSet
      (local, dist)
    } finally spark.conf.unset(key)
  }

  // a directed graph with a nested SCC structure, dangling periphery,
  // parallel shortcuts and an isolated node — exercises every branch
  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle SCC
    (3L, 4L), (4L, 5L), (5L, 4L), // 2-cycle SCC reached from the first
    (5L, 6L), (6L, 7L), // tail
    (8L, 1L), // feeder into the cycle
    (9L, 10L), (10L, 9L), // separate 2-cycle
    (2L, 6L) // shortcut
  ).toDF("src", "dst")

  private def nodes = (1L to 11L).toDF("id") // 11 is isolated

  test("connectedComponents: local == distributed") {
    val (l, d) = bothPaths(
      graft.graph.Graph.connectedComponents(nodes, edges))
    assert(l == d && l.nonEmpty)
  }

  test("stronglyConnectedComponents: local == distributed") {
    val (l, d) = bothPaths(
      graft.graph.Graph.stronglyConnectedComponents(nodes, edges))
    assert(l == d && l.nonEmpty)
  }

  test("reachability: local == distributed") {
    val (l, d) = bothPaths(
      graft.graph.Graph.reachability(Seq(3L, 9L).toDF("id"), edges))
    assert(l == d && l.nonEmpty)
  }

  test("hopDistance: local == distributed (cap respected)") {
    val (l, d) = bothPaths(
      graft.graph.Graph.hopDistance(Seq(1L, 9L).toDF("id"), edges, maxHops = 2))
    assert(l == d && l.nonEmpty)
  }

  test("shortestPaths: local == distributed (round cap respected)") {
    val w = edges.select($"src", $"dst",
      (($"src" * 7 + $"dst") % 5 + 1).as("w"))
    val (l, d) = bothPaths(
      graft.graph.Graph.shortestPaths(Seq(1L).toDF("id"), w, maxRounds = 3))
    assert(l == d && l.nonEmpty)
  }

  test("shortestPaths: local == distributed when maxRounds stops before convergence") {
    val rnd = new scala.util.Random(7)
    val w = Seq.fill(600)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .toDF("src", "dst")
      .select($"src", $"dst", (($"src" * 7 + $"dst") % 5 + 1).as("w"))
    val seeds = Seq(1L, 2L, 3L).toDF("id")
    val (l, d) = bothPaths(graft.graph.Graph.shortestPaths(seeds, w, maxRounds = 4))
    assert(l == d && l.nonEmpty)
    // the cap really cuts: more rounds still lower some distances
    val converged = graft.graph.Graph.shortestPaths(seeds, w, maxRounds = 50)
      .collect().map(_.toString).toSet
    assert(converged != l)
  }

  // ------------------------------------------ randomized cut-budget parity

  /** Seeded random directed graphs: non-contiguous and negative ids, and
    * always a self-loop and a duplicated edge; `density` multiplies the
    * edge count. */
  private def randomEdges(seed: Int, density: Int = 1): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = Seq.fill(5 + rnd.nextInt(4))(rnd.nextInt(41).toLong * 7 - 140).distinct
    def pick() = ids(rnd.nextInt(ids.size))
    val es = Seq.fill(density * (ids.size + rnd.nextInt(ids.size + 1)))((pick(), pick()))
    es :+ ((ids.head, ids.head)) :+ es.head
  }

  private val graphSeeds = 1 to 20

  /** Rows of `fn`, or the message of the IllegalStateException it throws. */
  private def outcome(fn: => DataFrame): Either[String, Set[String]] =
    try Right(fn.collect().map(_.toString).toSet)
    catch { case e: IllegalStateException => Left(e.getMessage) }

  /** Cuts `fn`'s budget from 1 up to convergence − 1 and asserts both
    * paths agree at each cut. The local path alone finds convergence: the
    * first budget whose outcome equals the one at `maxBudget`. Returns the
    * number of budgets compared. */
  private def cutBudgets(what: String, maxBudget: Int)(
      fn: Int => DataFrame): Int = {
    val key = "spark.graft.graph.localSolveEdges"
    spark.conf.unset(key)
    val settled = outcome(fn(maxBudget))
    val cuts = (1 until maxBudget).iterator
      .map(b => b -> outcome(fn(b))).takeWhile(_._2 != settled).toSeq
    cuts.foreach { case (b, local) =>
      spark.conf.set(key, "0")
      val dist = try outcome(fn(b)) finally spark.conf.unset(key)
      assert(local == dist, s"$what, budget $b: local $local != distributed $dist")
    }
    cuts.size
  }

  /** Every seeded graph through `check`, which returns each algorithm's
    * [[cutBudgets]] count; every algorithm must be cut below convergence
    * on some graph, or the property tests nothing the fixtures did not. */
  private def overGraphs(check: (Int, Seq[(Long, Long)]) => Seq[Int]): Unit = {
    val cuts = graphSeeds.map(seed => check(seed, randomEdges(seed))).transpose
    assert(cuts.forall(_.sum > 0), s"an algorithm was never cut: $cuts")
  }

  test("random graphs: connectedComponents and reachability agree at every cut budget") {
    overGraphs { (seed, es) =>
      val e = es.toDF("src", "dst")
      val nodes = (es.flatMap(p => Seq(p._1, p._2)) :+ 999L).distinct.toDF("id")
      val seeds = Seq(es.head._1).toDF("id")
      Seq(
        cutBudgets(s"cc seed $seed", 12)(b =>
          graft.graph.Graph.connectedComponents(nodes, e, maxIter = b)),
        cutBudgets(s"reach seed $seed", 12)(b =>
          graft.graph.Graph.reachability(seeds, e, maxRounds = b)))
    }
  }

  test("random graphs: hopDistance and shortestPaths agree at every cut budget (tied weights)") {
    overGraphs { (seed, es) =>
      val e = es.toDF("src", "dst")
      val w = e.select($"src", $"dst", (($"src" - $"dst").cast("long") % 2 + 2).as("w"))
      val seeds = Seq(es.head._1, es.last._2).toDF("id")
      Seq(
        cutBudgets(s"hops seed $seed", 12)(b =>
          graft.graph.Graph.hopDistance(seeds, e, maxHops = b)),
        cutBudgets(s"sssp seed $seed", 12)(b =>
          graft.graph.Graph.shortestPaths(seeds, w, maxRounds = b)))
    }
  }

  test("random graphs: kCore and kTruss peels agree at every cut budget") {
    overGraphs { (seed, es) =>
      val e = es.toDF("src", "dst")
      // a 3-truss peel always settles in one round (dropping triangle-free
      // edges breaks no triangle), so the truss runs at k = 4 on a denser
      // graph, where peels take several rounds
      val dense = randomEdges(seed, density = 2).toDF("src", "dst")
      Seq(
        cutBudgets(s"kcore seed $seed", 12)(b =>
          graft.graph.Graph.kCore(e, k = 2, maxIter = b)),
        cutBudgets(s"ktruss seed $seed", 12)(b =>
          graft.graph.Graph.kTruss(dense, k = 4, maxIter = b)))
    }
  }

  test("random graphs: hits, louvain and harmonicCentrality agree at every cut budget") {
    overGraphs { (seed, es) =>
      val e = es.toDF("src", "dst")
      val und = graft.graph.Graph.undirected(e)
      val nodes = (es.flatMap(p => Seq(p._1, p._2)) :+ 999L).distinct.toDF("id")
      Seq(
        cutBudgets(s"hits seed $seed", 2)(b =>
          graft.graph.Graph.hits(nodes, e, iters = b)),
        cutBudgets(s"louvain seed $seed", 3)(b =>
          graft.graph.Graph.louvain(und, rounds = b)),
        cutBudgets(s"harmonic seed $seed", 6)(b =>
          graft.graph.Graph.harmonicCentrality(und, maxHops = b)))
    }
  }

  test("kCore: local == distributed") {
    // undirected clique + pendant chain
    val und = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))).toDF("src", "dst")
    val (l, d) = bothPaths(graft.graph.Graph.kCore(und, k = 3))
    assert(l == d && l.nonEmpty)
  }

  test("kTruss: local == distributed (supports included)") {
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val (l, d) = bothPaths(graft.graph.Graph.kTruss(und, k = 4))
    assert(l == d && l.nonEmpty)
  }

  test("densestSubgraphTrace: local == distributed (trace rows)") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val (l, d) = bothPaths(graft.graph.Graph.densestSubgraphTrace(und))
    assert(l == d && l.nonEmpty)
  }

  test("hits: local == distributed (fixed point, node universe)") {
    val (l, d) = bothPaths(graft.graph.Graph.hits(nodes, edges, iters = 3))
    assert(l == d && l.nonEmpty)
  }

  test("lubyMis: local == distributed (md5 priorities)") {
    val (l, d) = bothPaths(
      graft.graph.Graph.lubyMis(nodes, edges, maxRounds = 16))
    assert(l == d && l.nonEmpty)
  }

  test("louvain: local == distributed (integer scores)") {
    val und = graft.graph.Graph.undirected(edges)
    val (l, d) = bothPaths(graft.graph.Graph.louvain(und, rounds = 2))
    assert(l == d && l.nonEmpty)
  }

  test("harmonicCentrality: local == distributed (exact longs)") {
    val (l, d) = bothPaths(
      graft.graph.Graph.harmonicCentrality(
        graft.graph.Graph.undirected(edges), maxHops = 3))
    assert(l == d && l.nonEmpty)
  }

  test("incrementalComponents: local == distributed (condensation fold)") {
    val lab = graft.graph.Graph.connectedComponents(nodes, edges)
    val (l, d) = bothPaths(
      graft.graph.Graph.incrementalComponents(
        lab, Seq(12L).toDF("id"), Seq((7L, 9L), (12L, 11L)).toDF("src", "dst")))
    assert(l == d && l.nonEmpty)
  }

  test("randomWalks: local == distributed (md5 picks, dead-end stop)") {
    // include a dead end (7 has no out-edge in `edges`) so the stop
    // semantics are exercised
    val starts = Seq((1L, 1L), (2L, 9L), (3L, 6L)).toDF("walk_id", "node")
    val (l, d) = bothPaths(
      graft.graph.Graph.randomWalks(edges, starts, steps = 4))
    assert(l == d && l.nonEmpty)
  }

  test("node2vecWalks: local == distributed (inverse-CDF picks)") {
    val und = graft.graph.Graph.undirected(edges)
    val starts = Seq((1L, 1L), (2L, 9L), (3L, 5L)).toDF("walk_id", "node")
    val (l, d) = bothPaths(
      graft.graph.Graph.node2vecWalks(und, starts, steps = 4,
        p = 4.0, q = 0.25))
    assert(l == d && l.nonEmpty)
  }

  test("harmonicCentralityHyperBall: local == distributed (registers)") {
    val und = graft.graph.Graph.undirected(edges)
    val (l, d) = bothPaths(
      graft.graph.Graph.harmonicCentralityHyperBall(und, maxHops = 12))
    assert(l == d && l.nonEmpty)
  }

  test("triangles: local == distributed (once-per-triangle bag)") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (5L, 7L)).toDF("src", "dst")
    val (l, d) = bothPaths(graft.graph.Graph.triangles(und))
    assert(l == d && l.nonEmpty)
  }

  test("clusteringCoefficient: local == distributed (coef doubles)") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (5L, 7L)).toDF("src", "dst")
    val (l, d) = bothPaths(graft.graph.Graph.clusteringCoefficient(und))
    assert(l == d && l.nonEmpty)
  }

  test("sortedNeighborhood candidatePairs: local == distributed (utf8 order)") {
    // non-ASCII keys: UTF8String binary order ≠ Java UTF-16 order for
    // supplementary chars — the kernel must sort by UTF-8 bytes
    val docs = Seq((1L, "alpha"), (2L, "Beta"), (3L, "beta"), (4L, "béta"),
      (5L, "😀 emoji"), (6L, "� repl"), (7L, "alpha"),
      (8L, "zz")).toDF("k", "key")
    val (l, d) = bothPaths(
      graft.dedup.SortedNeighborhood.candidatePairs(docs, "k", Seq("key"),
        window = 3))
    assert(l == d && l.nonEmpty)
  }

  test("nnDescent: local == distributed (seed, ring, rounds, topk)") {
    val vecs = (1L to 20L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 17 + j * 5) + 0.05 * j))
    }.toDF("id", "v")
    def run() = graft.sim.Ann.nnDescent(vecs, "id", "v",
      k = 3, rounds = 2, nlist = 4)
      .zipWithIndex.map { case (g, r) =>
        g.withColumn("round", org.apache.spark.sql.functions.lit(r.toLong))
      }.reduce(_ unionByName _)
    val (l, d) = bothPaths(run())
    assert(l == d && l.nonEmpty)
    // and the auto-sized (nlist = 0) path
    def runAuto() = graft.sim.Ann.nnDescent(vecs, "id", "v",
      k = 3, rounds = 1, nlist = 0).last
    val (la, da) = bothPaths(runAuto())
    assert(la == da && la.nonEmpty)
  }

  test("mmrRerank: local == distributed (greedy argmax, ties)") {
    val pool = (1L to 9L).map { i =>
      (i, Array.tabulate(6)(j => math.sin(i * 3 + j)), 1.0 / i)
    }.toDF("id", "vec", "rel")
    val (l, d) = bothPaths(
      graft.sim.Ann.mmrRerank(pool, "id", "vec", "rel", k = 4,
        lam = 0.7, mu = 0.3))
    assert(l == d && l.nonEmpty)
  }

  test("prefixFilterJoin: local == distributed (lossless prefix, exact J)") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w"),
      (4L, "x y z w v"), (5L, "q r s"), (6L, "a b c d e f"),
      (7L, "  a   b  "), (8L, "")).toDF("doc_id", "text")
    val (l, d) = bothPaths(
      graft.dedup.Dedup.prefixFilterJoin(docs, "doc_id", "text", 0.5))
    assert(l == d && l.nonEmpty)
  }

  test("knnJoinExact: NaN cosines (zero vector) and duplicate probe ids") {
    // a zero vector makes every cosine against it NaN: TopKByScore's total
    // order retains NaN as the greatest score and displays it last;
    // duplicate probe rows merge into ONE top-k group
    val corpus = ((1L to 6L).map { i =>
      (i, Array.tabulate(4)(j => math.cos(i * 7 + j)))
    } :+ (9L, Array.fill(4)(0.0))).toDF("id", "v")
    val probes = Seq(
      (1L, Array.tabulate(4)(j => math.cos(7 + j))),
      (1L, Array.tabulate(4)(j => math.cos(14 + j))), // duplicate id
      (9L, Array.fill(4)(0.0))) // zero-vector probe: all-NaN scores
      .toDF("id", "v")
    val got = graft.sim.Ann.knnJoinExact(probes, corpus, "id", "v", 3)
      .as[(Long, Long, Double, Long)].collect().map(_.toString).sorted.toSeq
    // probe 1's group holds both rows' candidates: the two NaN pairs with
    // corpus 9 outrank every real cosine and are shown after the one that
    // is kept (corpus 2, the second row's own vector); probe 9's all-NaN
    // ties break to the smaller ids; self-pairs are excluded
    assert(got == Seq(
      "(1,2,1.0,1)", "(1,9,NaN,2)", "(1,9,NaN,3)",
      "(9,1,NaN,1)", "(9,2,NaN,2)", "(9,3,NaN,3)"), got)
  }

  test("sageMeanLayer: local == distributed (fixed-point + norm fold)") {
    val vecs = (1L to 8L).map { i =>
      (i, Array.tabulate(6)(j => math.cos(i * 13 + j) * 0.8))
    }.toDF("id", "v")
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L),
      (6L, 1L)).toDF("src", "dst")
    val (l, d) = bothPaths(
      graft.sim.Gnn.sageMeanLayer(vecs, es, "id", "v"))
    assert(l == d && l.nonEmpty)
  }

  test("dbscan: local == distributed (roles, clusters, noise)") {
    // two dense blobs + stragglers; eps/coords exact in binary
    val pts = (Seq((1L, 0.0, 0.0), (2L, 0.25, 0.0), (3L, 0.0, 0.25),
      (4L, 0.25, 0.25), (5L, 0.5, 0.0), (6L, 10.0, 10.0), (7L, 10.25, 10.0),
      (8L, 10.0, 10.25), (9L, 10.25, 10.25), (10L, 10.5, 10.5),
      (11L, 50.0, 50.0), (12L, 0.75, 0.75)))
      .toDF("id", "x", "y")
    val (l, d) = bothPaths(
      graft.sim.Density.dbscan(pts, "id", "x", "y", eps = 0.75, minPts = 4))
    assert(l == d && l.nonEmpty)
  }

  test("globalSuffixRanks: local == distributed (ties, shared prefixes, cap)") {
    // repeated texts tie until (id, pos); runs and shared prefixes make
    // the distributed prefix doubling take several rounds; cap = 7 cuts
    // the longest docs so their truncated tails tie with shorter docs
    val docs = Seq(
      (1L, "banana"), (2L, "ana"), (3L, "banana"), (4L, "bananas"),
      (5L, "aaaaaaaaa"), (6L, "aa"), (7L, "abababab"), (8L, "abab"),
      (9L, "nanana"), (10L, "ab ba"), (11L, "ümlaut"), (12L, "b")
    ).toDF("id", "t")
    val (l, d) = bothPaths(
      graft.ops.SuffixArrays.globalSuffixRanks(docs, "id", "t", cap = 7))
    assert(l == d && l.size == docs.collect().map(r => math.min(r.getString(1).length, 7)).sum)
  }

  test("gates read the checkpoint's count: connectedComponents and globalSuffixRanks job counts") {
    spark.conf.unset("spark.graft.graph.localSolveEdges")
    // file-backed inputs read BEFORE the counted block: a toDF fixture is a
    // LocalRelation, and a parquet read inside the block would add its
    // schema-inference job
    val dir = Files.createTempDirectory("graft_gate_jobs").toString
    (2L to 3000L).map(i => (i, i / 2)).toDF("src", "dst").write.parquet(s"$dir/tree")
    (1L to 3000L).toDF("id").write.parquet(s"$dir/nodes")
    (1 to 200).map(i => (i.toLong, s"doc${i % 17} ab${"c" * (i % 5)}ab")).toDF("id", "t")
      .write.parquet(s"$dir/docs")
    val nodes = spark.read.parquet(s"$dir/nodes")
    val tree = spark.read.parquet(s"$dir/tree")
    val docs = spark.read.parquet(s"$dir/docs")
    // a tree is one component: the min id labels every node
    val (plain, plainJobs) = JobCount(spark)(graft.graph.Graph.connectedComponents(nodes, tree))
    val (_, distinctJobs) =
      JobCount(spark)(graft.graph.Graph.connectedComponents(nodes, tree.distinct()))
    val (ranks, suffixJobs) =
      JobCount(spark)(graft.ops.SuffixArrays.globalSuffixRanks(docs, "id", "t", 64))
    // edge checkpoint + node checkpoint + kernel; distinct() adds its shuffle
    assert(plainJobs == 3, s"connectedComponents ran $plainJobs Spark jobs")
    assert(distinctJobs == 4, s"connectedComponents over distinct() edges ran $distinctJobs Spark jobs")
    // char checkpoint + alphabet (2, its distinct shuffles) + kernel
    assert(suffixJobs == 4, s"globalSuffixRanks ran $suffixJobs Spark jobs")
    assert(plain.select("component").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(ranks.count() == docs.collect().map(_.getString(1).length.toLong).sum)
  }

  test("hyperBall truncation contract throws on the local path too") {
    spark.conf.unset("spark.graft.graph.localSolveEdges")
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      graft.graph.Graph.harmonicCentralityHyperBall(path, maxHops = 2)
    }
  }

  test("budget contracts still throw at call time on the local path") {
    spark.conf.unset("spark.graft.graph.localSolveEdges")
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      graft.graph.Graph.connectedComponents((1L to 7L).toDF("id"), path,
        maxIter = 2)
    }
    intercept[IllegalStateException] {
      graft.graph.Graph.reachability(Seq(1L).toDF("id"), path, maxRounds = 1)
    }
    intercept[IllegalArgumentException] {
      graft.graph.Graph.lubyMis((1L to 3L).toDF("id"),
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), maxRounds = 0)
    }
  }
}
