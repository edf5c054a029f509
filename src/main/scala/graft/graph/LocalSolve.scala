package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.LongType

import scala.collection.mutable

/** One-task local solvers for the iterative fixpoints in [[Graph]]
  * (round-19 optimization pass).
  *
  * Why this exists (optimization guide §1.2 "the distributed algorithm",
  * §2.2 "shuffles get relatively slower as you scale out"): every
  * fixpoint loop in [[Graph]] pays per ROUND one or more shuffles, a
  * localCheckpoint materialization and a job-scheduling round trip —
  * measured 0.2–0.4 s per round at local sandbox scale REGARDLESS of
  * data size (the q_bowtie SCC refinement spent 5.2 s on a 1 000-node /
  * 4 373-edge graph: 10 inner rounds × fixed round overhead, zero bytes
  * of real work). When the edge relation is small enough to fit one
  * task's working set, the exact same fixpoint is a sub-millisecond
  * in-memory computation — so each loop gates on the edge count its
  * checkpoint already observed and, below the threshold, runs its
  * fixpoint inside ONE `mapPartitions` task on an
  * executor instead of N synchronized rounds. This is the standard
  * hybrid of production graph engines, and it is NOT a local-mode-only
  * trick: at cluster scale the FW-BW open remainder, the CC
  * condensation, and the k-core/k-truss peel tail all shrink
  * monotonically — the threshold is exactly the point where paying
  * another synchronization round costs more than finishing the tail in
  * one task (the straggler/tail argument of guide §2.6).
  *
  * Contract parity: every kernel replicates its distributed loop's
  * semantics EXACTLY — same round structure, same round budgets and
  * [[IllegalStateException]] non-convergence contracts, same integer
  * arithmetic (the fixpoints were already designed integer-exact for
  * oracle parity, so bit-identical results are provable). LocalSolveSpec
  * checks every kernel against its distributed path on a fixture, and
  * the round-budgeted ones over 20 seeded random graphs with each budget
  * cut below convergence. Nothing is driver-sized: the kernel runs inside
  * an executor task (`coalesce(1).mapPartitions`), and the output flows
  * back as a DataFrame into the same downstream joins.
  *
  * A kernel is kept only where a measurement says it pays: ≥ 1.3× with
  * the tier on vs off, at sf0.1 or at sf1. PageRank, personalized
  * PageRank, label propagation, the exact kNN join and link prediction
  * have no kernel: theirs measured 0.74–1.01× at sf0.1 and did not engage
  * or did not win at sf1, so those operators run distributed only.
  *
  * Gating: one threshold for every kernel of the tier (graph fixpoints
  * and listings, text pairs, vector search, density, suffix arrays),
  * `spark.graft.graph.localSolveEdges` (default
  * 4 194 304 ≈ one task's comfortable working set of (long, long) pairs;
  * 0 disables the tier — the distributed paths are untouched and remain
  * the ≥-threshold route). Each gate is the job-free predicate [[fits]]
  * over the row count (or size sum) its caller's [[graft.ops.Materialize]]
  * checkpoint observed; super-linear kernels pass a tighter constant cap.
  * Graph gates engage only when every graph column is LongType (all graft
  * callers; anything else takes the distributed path). [[fitsBounded]]
  * is the one counting probe, for inputs nobody pins (a corpus must not
  * be materialized just to be sized).
  */
private[graft] object LocalSolve {

  private def threshold(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.localSolveEdges")
      .map(_.toLong).getOrElse(1L << 22)

  /** The gate: true when the tier is on and `rows` (a row count, or the
    * work units of a kernel whose work is not its row count) ≤
    * min(threshold, `cap`). Runs no job. */
  def fits(rows: Long, cap: Long = Long.MaxValue): Boolean = {
    val thr = threshold(SparkSession.active)
    thr > 0L && rows <= math.min(thr, cap)
  }

  def allLong(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType == LongType)

  /** Portable 60-bit md5 lane — conv(substring(md5(s), 1, 15), 16, 10)
    * verbatim (the repo-wide choice-hash convention): first 15 hex chars
    * of the md5 parsed as a base-16 long. */
  private def md5_60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    // first 15 hex chars = 7.5 bytes: build the 60-bit value directly
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Run `fn` over the whole dataset in ONE executor task (coalesce —
    * no exchange; the single task reads the checkpointed blocks). */
  private def oneTask[T, U: org.apache.spark.sql.Encoder](
      ds: Dataset[T])(fn: Iterator[T] => Iterator[U]): Dataset[U] =
    ds.coalesce(1).mapPartitions(fn)

  /** Eagerly materialize a kernel's output (one job; downstream
    * consumers then read the checkpointed blocks instead of re-running
    * the kernel — the distributed loops' per-round-checkpoint parity),
    * and surface the kernel's round-budget contract exceptions at CALL
    * time with their original type, unwrapped from Spark's task-failure
    * wrapper — the distributed loops throw eagerly too. */
  private def eager(df: DataFrame): DataFrame =
    try df.localCheckpoint(true)
    catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          c match {
            case i: IllegalStateException =>
              throw new IllegalStateException(i.getMessage)
            case i: IllegalArgumentException =>
              throw new IllegalArgumentException(i.getMessage)
            case _ => ()
          }
          c = c.getCause
        }
        throw e
    }

  // ---------------------------------------------------------------- CC

  /** Synchronous min-label propagation over a DOUBLED edge list — the
    * [[Graph.connectedComponents]] round semantics verbatim: labels
    * live on the NODE universe only (an edge endpoint outside `nodes`
    * neither carries nor relays a label — exactly the distributed
    * join-on-labels restriction), and the converging round must fit the
    * maxIter budget. Input: tagged rows — (0, src, dst) doubled edges,
    * (2, id, 0) nodes. Output: (id, component) for every node. */
  def minLabelComponents(tagged: DataFrame, maxIter: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val rows = it.toArray
      val lbl = new mutable.LongMap[Long]()
      rows.foreach { case (t, i2, _) => if (t == 2) lbl(i2) = i2 }
      val edges = rows.collect {
        case (0, s, d) if lbl.contains(s) && lbl.contains(d) => (s, d)
      }
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // neighborMin: the distributed round joins edges on dst against
        // labels and aggregates min by src. Synchronous: read old
        // labels, write new.
        val nmin = new mutable.LongMap[Long]()
        edges.foreach { case (s, d) =>
          val l = lbl(d)
          val cur = nmin.getOrElse(s, Long.MaxValue)
          if (l < cur) nmin(s) = l
        }
        var changed = 0L
        nmin.foreachEntry { (id, m) =>
          if (m < lbl(id)) { lbl(id) = m; changed += 1 }
        }
        converged = changed == 0L
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "raise maxIter (rounds needed = component diameter)")
      lbl.iterator.map { case (id, c) => (id, c) }
    }.toDF("id", "component").transform(eager)
  }

  // --------------------------------------------------------------- SCC

  /** Iterative Tarjan SCC; output (id, component) with component = min
    * member id — the exact [[Graph.stronglyConnectedComponents]]
    * fixpoint (which refines until F = B = class min). Input edges need
    * not be deduped (Tarjan is insensitive); self-loops are fine. */
  def tarjanComponents(edges: DataFrame): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    oneTask(edges.select("src", "dst").as[(Long, Long)]) { it =>
      val es = it.toArray
      // index nodes
      val idx = new mutable.LongMap[Int]()
      val ids = new mutable.ArrayBuffer[Long]()
      def ix(x: Long): Int = idx.getOrElse(x, {
        val i = ids.length; idx(x) = i; ids += x; i
      })
      es.foreach { case (s, d) => ix(s); ix(d) }
      val n = ids.length
      // CSR adjacency
      val deg = new Array[Int](n)
      es.foreach { case (s, _) => deg(idx(s)) += 1 }
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
      val pos = java.util.Arrays.copyOf(off, n)
      val adj = new Array[Int](es.length)
      es.foreach { case (s, d) =>
        val si = idx(s); adj(pos(si)) = idx(d); pos(si) += 1
      }
      // iterative Tarjan
      val UNSEEN = -1
      val index = Array.fill(n)(UNSEEN)
      val low = new Array[Int](n)
      val onStk = new Array[Boolean](n)
      val stk = new mutable.ArrayBuffer[Int]()
      val comp = new Array[Int](n)
      var nextIndex = 0
      var nComp = 0
      val callV = new mutable.ArrayBuffer[Int]()
      val callE = new mutable.ArrayBuffer[Int]()
      var v0 = 0
      while (v0 < n) {
        if (index(v0) == UNSEEN) {
          callV += v0; callE += off(v0)
          index(v0) = nextIndex; low(v0) = nextIndex; nextIndex += 1
          stk += v0; onStk(v0) = true
          while (callV.nonEmpty) {
            val v = callV.last
            var e = callE.last
            var descended = false
            while (!descended && e < off(v + 1)) {
              val w = adj(e)
              if (index(w) == UNSEEN) {
                callE(callE.length - 1) = e + 1
                callV += w; callE += off(w)
                index(w) = nextIndex; low(w) = nextIndex; nextIndex += 1
                stk += w; onStk(w) = true
                descended = true
              } else {
                if (onStk(w) && low(w) < low(v)) low(v) = low(w)
                e += 1
              }
            }
            if (!descended) {
              callE(callE.length - 1) = e
              callV.remove(callV.length - 1)
              callE.remove(callE.length - 1)
              if (callV.nonEmpty) {
                val p = callV.last
                if (low(v) < low(p)) low(p) = low(v)
              }
              if (low(v) == index(v)) {
                var done = false
                while (!done) {
                  val w = stk.remove(stk.length - 1)
                  onStk(w) = false
                  comp(w) = nComp
                  done = w == v
                }
                nComp += 1
              }
            }
          }
        }
        v0 += 1
      }
      // component representative = min member id
      val minId = Array.fill(nComp)(Long.MaxValue)
      i = 0
      while (i < n) {
        if (ids(i) < minId(comp(i))) minId(comp(i)) = ids(i)
        i += 1
      }
      (0 until n).iterator.map(j => (ids(j), minId(comp(j))))
    }.toDF("id", "component").transform(eager)
  }

  // ------------------------------------------------------ reachability

  /** Both-direction BFS with the [[Graph.reachability]] round budget:
    * rounds run while the previous round set a new flag; if round
    * `maxRounds` still made progress the fixpoint is uncertified and
    * the same IllegalStateException is thrown. Input: tagged rows —
    * (0, src, dst) edges, (1, id, 0) seeds. Output (id, f, b) for
    * seeds ∪ reached. */
  def reachabilityFlags(tagged: DataFrame, maxRounds: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val rows = it.toArray
      val edges = rows.collect { case (0, s, d) => (s, d) }
      val seeds = rows.collect { case (1, s, _) => s }.distinct
      // adjacency maps
      val fwd = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      val bwd = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      edges.foreach { case (s, d) =>
        fwd.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d
        bwd.getOrElseUpdate(d, new mutable.ArrayBuffer[Long]()) += s
      }
      val f = new mutable.LongMap[Boolean]()
      val b = new mutable.LongMap[Boolean]()
      seeds.foreach { s => f(s) = true; b(s) = true }
      var frontF = seeds.toSeq
      var frontB = seeds.toSeq
      var r = 0
      var done = false
      while (!done && r < maxRounds) {
        r += 1
        val nf = new mutable.ArrayBuffer[Long]()
        val nb = new mutable.ArrayBuffer[Long]()
        frontF.foreach { u =>
          fwd.get(u).foreach(_.foreach { v =>
            if (!f.getOrElse(v, false)) { f(v) = true; nf += v }
          })
        }
        frontB.foreach { u =>
          bwd.get(u).foreach(_.foreach { v =>
            if (!b.getOrElse(v, false)) { b(v) = true; nb += v }
          })
        }
        frontF = nf.toSeq
        frontB = nb.toSeq
        done = nf.isEmpty && nb.isEmpty
      }
      if (!done) throw new IllegalStateException(
        s"reachability frontier still growing after $maxRounds rounds")
      val out = mutable.LongMap[Unit]()
      f.keysIterator.foreach(out(_) = ())
      b.keysIterator.foreach(out(_) = ())
      out.keysIterator.map(id =>
        (id, f.getOrElse(id, false), b.getOrElse(id, false)))
    }.toDF("id", "f", "b").transform(eager)
  }

  // ------------------------------------------------------- hopDistance

  /** Multi-source BFS capped at maxHops — [[Graph.hopDistance]]
    * verbatim (output = seeds ∪ reached within the cap, min hops).
    * Input: (0, src, dst) edges, (1, id, 0) seeds. */
  def hopBfs(tagged: DataFrame, maxHops: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val rows = it.toArray
      val fwd = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      rows.foreach {
        case (0, s, d) =>
          fwd.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d
        case _ => ()
      }
      val dist = new mutable.LongMap[Long]()
      var frontier = new mutable.ArrayBuffer[Long]()
      rows.foreach {
        case (1, s, _) =>
          if (!dist.contains(s)) { dist(s) = 0L; frontier += s }
        case _ => ()
      }
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        val next = new mutable.ArrayBuffer[Long]()
        frontier.foreach { u =>
          fwd.get(u).foreach(_.foreach { v =>
            if (!dist.contains(v)) { dist(v) = h.toLong; next += v }
          })
        }
        frontier = next
        h += 1
      }
      dist.iterator.map { case (id, d) => (id, d) }
    }.toDF("id", "hops").transform(eager)
  }

  // ----------------------------------------------------- shortestPaths

  /** Round-synchronous Bellman–Ford with frontier pruning —
    * [[Graph.shortestPaths]] verbatim including the maxRounds cap (the
    * capped result is "min over paths with ≤ maxRounds edges", exactly
    * the distributed loop's documented semantics). Each round relaxes
    * from the frontier's distances as they stood when the round began,
    * as the distributed join does; reading `dist` live would let one
    * round follow a chain of edges. Input: (0, src, dst, w) edges,
    * (1, id, 0, 0) seeds. */
  def bellmanFord(tagged: DataFrame, maxRounds: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long, Long)]) { it =>
      val rows = it.toArray
      val adj = new mutable.LongMap[mutable.ArrayBuffer[(Long, Long)]]()
      rows.foreach {
        case (0, s, d, w) =>
          adj.getOrElseUpdate(s, new mutable.ArrayBuffer[(Long, Long)]()) += ((d, w))
        case _ => ()
      }
      val dist = new mutable.LongMap[Long]()
      var frontier = new mutable.ArrayBuffer[Long]()
      rows.foreach {
        case (1, s, _, _) =>
          if (!dist.contains(s)) { dist(s) = 0L; frontier += s }
        case _ => ()
      }
      var r = 0
      while (r < maxRounds && frontier.nonEmpty) {
        r += 1
        val improved = new mutable.LongMap[Unit]()
        frontier.map(u => (u, dist(u))).foreach { case (u, du) =>
          adj.get(u).foreach(_.foreach { case (v, w) =>
            val cand = du + w
            if (!dist.contains(v) || cand < dist(v)) {
              dist(v) = cand; improved(v) = ()
            }
          })
        }
        frontier = new mutable.ArrayBuffer[Long]()
        improved.keysIterator.foreach(frontier += _)
      }
      dist.iterator.map { case (id, d) => (id, d) }
    }.toDF("id", "dist").transform(eager)
  }

  // ------------------------------------------------------------ k-core

  /** Synchronous k-core peel — [[Graph.kCore]] verbatim (canonical
    * edges in, (id, core_degree) out, maxIter budget + throw). */
  def kCorePeel(canonicalEdges: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val sp = canonicalEdges.sparkSession
    import sp.implicits._
    oneTask(canonicalEdges.select("a", "b").as[(Long, Long)]) { it =>
      var edges = it.toArray
      val live = new mutable.LongMap[Unit]()
      edges.foreach { case (a, b) => live(a) = (); live(b) = () }
      var liveCount = live.size.toLong
      var deg: mutable.LongMap[Long] = null
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val kept = edges.filter { case (a, b) =>
          live.contains(a) && live.contains(b)
        }
        deg = new mutable.LongMap[Long]()
        kept.foreach { case (a, b) =>
          deg(a) = deg.getOrElse(a, 0L) + 1L
          deg(b) = deg.getOrElse(b, 0L) + 1L
        }
        live.clear()
        deg.foreachEntry { (n, d) => if (d >= k) live(n) = () }
        val nextCount = live.size.toLong
        converged = nextCount == liveCount
        liveCount = nextCount
        edges = kept
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"k-core peel did not reach fixpoint in $maxIter rounds")
      deg.iterator.collect {
        case (n, d) if live.contains(n) => (n, d)
      }
    }.toDF("id", "core_degree").transform(eager)
  }

  // ----------------------------------------------------------- k-truss

  /** Synchronous k-truss peel — [[Graph.kTruss]] semantics verbatim:
    * support = triangle count within the current edge set, edges in
    * zero triangles vanish the round they occur, removed = support
    * below k−2, loop admits rounds 1..maxIter and throws beyond.
    * Input canonical (a < b) edges; output (a, b, support). */
  def kTrussPeel(canonicalEdges: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val sp = canonicalEdges.sparkSession
    import sp.implicits._
    val thr = (k - 2).toLong
    oneTask(canonicalEdges.select("a", "b").as[(Long, Long)]) { it =>
      var edges = it.toArray
      // supports within the CURRENT edge set; edges in zero triangles
      // are dropped (they are absent from the map)
      def supports(es: Array[(Long, Long)]): mutable.HashMap[(Long, Long), Long] = {
        val nbr = new mutable.LongMap[mutable.TreeSet[Long]]()
        es.foreach { case (a, b) =>
          nbr.getOrElseUpdate(a, mutable.TreeSet.empty[Long]) += b
          nbr.getOrElseUpdate(b, mutable.TreeSet.empty[Long]) += a
        }
        val sup = new mutable.HashMap[(Long, Long), Long]()
        es.foreach { case (a, b) =>
          val (sm, lg) =
            if (nbr(a).size <= nbr(b).size) (nbr(a), nbr(b)) else (nbr(b), nbr(a))
          var s = 0L
          sm.foreach { c => if (c != a && c != b && lg.contains(c)) s += 1L }
          if (s > 0L) sup((a, b)) = s
        }
        sup
      }
      var live = supports(edges)
      var removedCount = live.valuesIterator.count(_ < thr).toLong
      var iter = 1
      while (removedCount > 0 && iter <= maxIter) {
        edges = live.iterator.collect {
          case ((a, b), s) if s >= thr => (a, b)
        }.toArray
        live = supports(edges)
        removedCount = live.valuesIterator.count(_ < thr).toLong
        iter += 1
      }
      if (removedCount > 0) throw new IllegalStateException(
        s"k-truss peel did not reach fixpoint in $maxIter rounds")
      live.iterator.map { case ((a, b), s) => (a, b, s) }
    }.toDF("a", "b", "support").transform(eager)
  }

  // ----------------------------------------------------------- densest

  /** Densest-subgraph peel trace — [[Graph.densestSubgraphTrace]]
    * verbatim: per round (round, n, m, m/n as double), survivors iff
    * d·n > 4·m, at most maxRounds rounds. Input canonical edges. */
  def densestTrace(canonicalEdges: DataFrame, maxRounds: Int): DataFrame = {
    val sp = canonicalEdges.sparkSession
    import sp.implicits._
    oneTask(canonicalEdges.select("a", "b").as[(Long, Long)]) { it =>
      var edges = it.toArray
      val out = new mutable.ArrayBuffer[(Long, Long, Long, Double)]()
      var r = 0L
      var live = true
      while (live && r < maxRounds) {
        val deg = new mutable.LongMap[Long]()
        edges.foreach { case (a, b) =>
          deg(a) = deg.getOrElse(a, 0L) + 1L
          deg(b) = deg.getOrElse(b, 0L) + 1L
        }
        val n = deg.size.toLong
        val m = edges.length.toLong
        if (n == 0) live = false
        else {
          out += ((r, n, m, m.toDouble / n.toDouble))
          edges = edges.filter { case (a, b) =>
            deg(a) * n > 4L * m && deg(b) * n > 4L * m
          }
          r += 1
        }
      }
      out.iterator
    }.toDF("round", "n_nodes", "n_edges", "density").transform(eager)
  }

  // -------------------------------------------------------------- HITS

  /** Fixed-point-integer HITS — [[Graph.hits]] verbatim (1e-6 fixed
    * point, max-norm with half-up integer rounding, Gauss–Seidel
    * order). Scores live on the NODE universe only (an edge endpoint
    * outside `nodes` neither carries nor relays score — exactly the
    * distributed ids-join restriction). Input: tagged rows — (0, src,
    * dst) cleaned edges, (2, id, 0) nodes. Output (id, a, h) for every
    * node. */
  def hitsScores(tagged: DataFrame, iters: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    val scale = 1000000L
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val rows = it.toArray
      val nodes = new mutable.LongMap[Unit]()
      rows.foreach { case (t, i2, _) => if (t == 2) nodes(i2) = () }
      val es = rows.collect {
        case (0, s, d) if nodes.contains(s) && nodes.contains(d) => (s, d)
      }
      val a = new mutable.LongMap[Long]()
      val h = new mutable.LongMap[Long]()
      nodes.keysIterator.foreach { n => a(n) = scale; h(n) = scale }
      def halfStep(read: mutable.LongMap[Long], alongSrc: Boolean)
          : mutable.LongMap[Long] = {
        val raw = new mutable.LongMap[Long]()
        es.foreach { case (s, d) =>
          if (alongSrc) raw(d) = raw.getOrElse(d, 0L) + read.getOrElse(s, 0L)
          else raw(s) = raw.getOrElse(s, 0L) + read.getOrElse(d, 0L)
        }
        var m = 0L
        nodes.keysIterator.foreach { n =>
          val r = raw.getOrElse(n, 0L)
          if (r > m) m = r
        }
        val out = new mutable.LongMap[Long]()
        nodes.keysIterator.foreach { n =>
          val r = raw.getOrElse(n, 0L)
          out(n) = if (r == 0L) 0L else (r * scale + m / 2L) / m
        }
        out
      }
      var ai = a
      var hi = h
      var i = 0
      while (i < iters) {
        ai = halfStep(hi, alongSrc = true)
        hi = halfStep(ai, alongSrc = false)
        i += 1
      }
      nodes.keysIterator.map(n => (n, ai(n), hi(n)))
    }.toDF("id", "a", "h").transform(eager)
  }

  // ---------------------------------------------------------- Luby MIS

  /** Luby MIS — [[Graph.lubyMis]] verbatim: per round the md5 priority
    * conv(substring(md5("mis:" + id + ":" + r), 1, 15), 16, 10), win iff
    * (p, id) beats every active neighbor's (p, id), winners + their
    * neighborhoods deactivate; throws past maxRounds. Input: (0, src,
    * dst) UNDIRECTED (already doubled) edges, (2, id, 0) nodes.
    * Output (id, in_mis, sel_round; −1 non-members). */
  def lubyMisLocal(tagged: DataFrame, maxRounds: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val rows = it.toArray
      val adj = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      rows.foreach {
        case (0, s, d) =>
          adj.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d
        case _ => ()
      }
      val all = rows.collect { case (2, i2, _) => i2 }.distinct
      val md = java.security.MessageDigest.getInstance("MD5")
      def prio(id: Long, r: Int): Long = {
        md.reset()
        val hex = md.digest(s"mis:$id:$r".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      val active = new mutable.LongMap[Unit]()
      all.foreach(active(_) = ())
      val sel = new mutable.LongMap[Long]()
      var r = 1
      var done = active.isEmpty
      while (r <= maxRounds && !done) {
        val p = new mutable.LongMap[Long]()
        active.keysIterator.foreach(id => p(id) = prio(id, r))
        val win = new mutable.ArrayBuffer[Long]()
        active.keysIterator.foreach { id =>
          val pi = p(id)
          var beaten = false
          adj.get(id).foreach(_.foreach { nb =>
            if (!beaten && active.contains(nb)) {
              val pn = p(nb)
              // struct(p, id) > struct(pn, nb) must hold for EVERY
              // active neighbor; max-struct in the distributed form
              if (pn > pi || (pn == pi && nb > id)) beaten = true
            }
          })
          if (!beaten) win += id
        }
        win.foreach { id =>
          sel(id) = r.toLong
          active.remove(id)
          adj.get(id).foreach(_.foreach(active.remove))
        }
        done = active.isEmpty
        r += 1
      }
      require(done,
        s"lubyMis did not converge within $maxRounds rounds — raise maxRounds")
      all.iterator.map { id =>
        val s = sel.get(id)
        (id, s.isDefined, s.getOrElse(-1L))
      }
    }.toDF("id", "in_mis", "sel_round").transform(eager)
  }

  // ----------------------------------------------------------- Louvain

  /** Synchronous Louvain local-move sweeps — [[Graph.louvain]] /
    * louvainSweep verbatim: candidates = neighbor communities + own,
    * exact integer score S = 2m·k_vc − tot'(C)·k_v, argmax with
    * smallest-cid tiebreak (min struct(−s, cid)). Input edge list as
    * given (the caller's doubling convention defines k); m passed in.
    * Output (node, cid) for every node with an out-edge. */
  def louvainSweeps(edges: DataFrame, m: Long, rounds: Int): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    oneTask(edges.select("src", "dst").as[(Long, Long)]) { it =>
      val es = it.toArray
      val k = new mutable.LongMap[Long]()
      es.foreach { case (s, _) => k(s) = k.getOrElse(s, 0L) + 1L }
      var cid = new mutable.LongMap[Long]()
      k.keysIterator.foreach(n => cid(n) = n)
      var round = 0
      while (round < rounds) {
        val tot = new mutable.LongMap[Long]()
        cid.foreachEntry { (n, c) => tot(c) = tot.getOrElse(c, 0L) + k(n) }
        // k_vc: src → (neighbor community → edge count); own community
        // is always a candidate with base 0
        val kvc = new mutable.LongMap[mutable.LongMap[Long]]()
        es.foreach { case (s, d) =>
          cid.get(d).foreach { c =>
            val m2 = kvc.getOrElseUpdate(s, new mutable.LongMap[Long]())
            m2(c) = m2.getOrElse(c, 0L) + 1L
          }
        }
        val next = new mutable.LongMap[Long]()
        cid.foreachEntry { (n, own) =>
          val kv = k(n)
          val cands = kvc.getOrElse(n, new mutable.LongMap[Long]())
          if (!cands.contains(own)) cands(own) = cands.getOrElse(own, 0L)
          var bestS = Long.MinValue
          var bestC = Long.MaxValue
          cands.foreachEntry { (c, kvcN) =>
            val totP = tot.getOrElse(c, 0L) - (if (c == own) kv else 0L)
            val s = 2L * m * kvcN - totP * kv
            if (s > bestS || (s == bestS && c < bestC)) {
              bestS = s; bestC = c
            }
          }
          next(n) = bestC
        }
        cid = next
        round += 1
      }
      cid.iterator.map { case (n, c) => (n, c) }
    }.toDF("node", "cid").transform(eager)
  }

  // ---------------------------------------------------- harmonic (exact)

  /** Hop-bounded exact harmonic centrality — [[Graph.harmonicCentrality]]
    * verbatim: BFS from every node with ≥1 out-edge, per reached node
    * accumulate count and Σ (lcm/d as exact long); final division by
    * lcm at the caller. Output (id, reached, hsum). */
  def harmonicSums(edges: DataFrame, maxHops: Int, lcm: Long): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    oneTask(edges.select("src", "dst").as[(Long, Long)]) { it =>
      val es = it.toArray
      val fwd = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      es.foreach { case (s, d) =>
        fwd.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d
      }
      val reached = new mutable.LongMap[Long]()
      val hsum = new mutable.LongMap[Long]()
      val dist = new mutable.LongMap[Int]()
      fwd.keysIterator.foreach { s =>
        dist.clear()
        dist(s) = 0
        var frontier = List(s)
        var h = 1
        while (h <= maxHops && frontier.nonEmpty) {
          val next = new mutable.ArrayBuffer[Long]()
          frontier.foreach { u =>
            fwd.get(u).foreach(_.foreach { v =>
              if (!dist.contains(v)) { dist(v) = h; next += v }
            })
          }
          // credit v with 1/h from source s (exact long: h divides lcm)
          next.foreach { v =>
            reached(v) = reached.getOrElse(v, 0L) + 1L
            hsum(v) = hsum.getOrElse(v, 0L) + (lcm.toDouble / h).toLong
          }
          frontier = next.toList
          h += 1
        }
      }
      reached.keysIterator.map(v => (v, reached(v), hsum(v)))
    }.toDF("id", "reached", "hsum").transform(eager)
  }

  // ------------------------------------------------------- randomWalks

  /** Deterministic DeepWalk walks — [[Graph.randomWalks]] verbatim: at
    * step s the walk at node v picks dst-sorted neighbor rank
    * 1 + md5₆₀(walk:s:v) mod deg(v); a walk at a node with no out-edge
    * stops (the inner degree join). Input: (0, src, dst) deduplicated
    * edges, (1, walk_id, node) starts (multiplicity preserved). Output
    * (walk_id, step, node), step 0 = the start row. */
  def randomWalksLocal(tagged: DataFrame, steps: Int): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val csr = Csr.build(it, keepTag = 1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new mutable.ArrayBuffer[(Long, Long, Long)]()
      var frontier = csr.extra.toSeq
      frontier.foreach { case (w, v) => out += ((w, 0L, v)) }
      var s = 1
      while (s <= steps && frontier.nonEmpty) {
        val next = new mutable.ArrayBuffer[(Long, Long)]()
        frontier.foreach { case (w, v) =>
          val j = csr.idx.getOrElse(v, -1)
          if (j >= 0) {
            val off = csr.off(j)
            val deg = csr.off(j + 1) - off
            val pick = md5_60(md, s"$w:$s:$v")
            val nxt = csr.adj(off + (pick % deg).toInt)
            out += ((w, s.toLong, nxt))
            next += ((w, nxt))
          }
        }
        frontier = next.toSeq
        s += 1
      }
      out.iterator
    }.toDF("walk_id", "step", "node").transform(eager)
  }

  /** Dense-indexed CSR adjacency with dst-ASCENDING slices, built in one
    * pass over a tagged iterator: tag-0 rows are (src, dst) edges, rows
    * with tag == `keepTag` are returned verbatim in `extra` (starts,
    * seeds…), other tags are ignored. Primitive arrays throughout — the
    * one-task kernels' decode cost is the bound on what they can beat. */
  private final case class Csr(
      idx: mutable.LongMap[Int], off: Array[Int], adj: Array[Long],
      extra: Array[(Long, Long)])

  private object Csr {
    def build(it: Iterator[(Int, Long, Long)], keepTag: Int): Csr = {
      val sB = Array.newBuilder[Long]
      val dB = Array.newBuilder[Long]
      val eB = Array.newBuilder[(Long, Long)]
      while (it.hasNext) {
        val r = it.next()
        if (r._1 == 0) { sB += r._2; dB += r._3 }
        else if (r._1 == keepTag) eB += ((r._2, r._3))
      }
      val srcs = sB.result(); val dsts = dB.result()
      val m = srcs.length
      val idx = new mutable.LongMap[Int]()
      var n = 0
      var i = 0
      while (i < m) {
        val s = srcs(i)
        if (!idx.contains(s)) { idx(s) = n; n += 1 }
        i += 1
      }
      val off = new Array[Int](n + 1)
      i = 0
      while (i < m) { off(idx(srcs(i)) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val pos = java.util.Arrays.copyOf(off, n)
      val adj = new Array[Long](m)
      i = 0
      while (i < m) {
        val j = idx(srcs(i)); adj(pos(j)) = dsts(i); pos(j) += 1
        i += 1
      }
      i = 0
      while (i < n) { // dst-ascending slices (the ranked-adjacency order)
        java.util.Arrays.sort(adj, off(i), off(i + 1))
        i += 1
      }
      Csr(idx, off, adj, eB.result())
    }
  }

  // ---------------------------------------------------- node2vec walks

  /** Deterministic node2vec biased walks — [[Graph.node2vecWalks]]
    * verbatim: hop 1 uniform (same choice lane as randomWalks); from
    * hop 2 neighbor x of cur weighs 1/p if x = prev, 1 if edge(prev, x),
    * 1/q otherwise, and the walk takes the first dst-ascending neighbor
    * whose left-to-right running weight sum reaches
    * md5₆₀(walk:s:prev:cur)/2⁶⁰ × total — the identical IEEE fold order,
    * so doubles match bit for bit. Input: (0, src, dst) deduplicated
    * edges, (1, walk_id, node) starts. Output (walk_id, step, node). */
  def node2vecLocal(
      tagged: DataFrame, steps: Int, p: Double, q: Double): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    val wRet = 1.0 / p // computed once, as the lit(1.0 / p) literal
    val wOut = 1.0 / q
    val two60 = 1152921504606846976L.toDouble
    oneTask(tagged.as[(Int, Long, Long)]) { it =>
      val csr = Csr.build(it, keepTag = 1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new mutable.ArrayBuffer[(Long, Long, Long)]()
      // hop 1: uniform pick over the dst-sorted slice
      var state = new mutable.ArrayBuffer[(Long, Long, Long)]() // (w, prev, cur)
      csr.extra.foreach { case (w, v) =>
        out += ((w, 0L, v))
        val j = csr.idx.getOrElse(v, -1)
        if (j >= 0) {
          val off = csr.off(j)
          val deg = csr.off(j + 1) - off
          val pick = md5_60(md, s"$w:1:$v")
          val cur = csr.adj(off + (pick % deg).toInt)
          out += ((w, 1L, cur))
          state += ((w, v, cur))
        }
      }
      var s = 2
      while (s <= steps && state.nonEmpty) {
        val next = new mutable.ArrayBuffer[(Long, Long, Long)]()
        state.foreach { case (w, prev, cur) =>
          val jc = csr.idx.getOrElse(cur, -1)
          val jp = csr.idx.getOrElse(prev, -1)
          if (jc >= 0 && jp >= 0) { // else dead end: inner-join semantics
            val no = csr.off(jc); val nEnd = csr.off(jc + 1)
            val po = csr.off(jp); val pEnd = csr.off(jp + 1)
            def wt(x: Long): Double =
              if (x == prev) wRet
              else if (java.util.Arrays.binarySearch(csr.adj, po, pEnd, x) >= 0) 1.0
              else wOut
            val h = md5_60(md, s"$w:$s:$prev:$cur")
            // total = the same left-to-right fold the distributed
            // aggregate() runs; rw derives from ITS final value
            var total = 0.0
            var i = no
            while (i < nEnd) { total += wt(csr.adj(i)); i += 1 }
            val rw = (h.toDouble / two60) * total
            var acc = 0.0
            var pk = 0
            i = no
            while (i < nEnd && pk == 0) {
              acc += wt(csr.adj(i))
              if (acc >= rw) pk = i - no + 1
              i += 1
            }
            if (pk == 0) pk = nEnd - no // unreachable FP belt-and-braces
            val nxt = csr.adj(no + pk - 1)
            out += ((w, s.toLong, nxt))
            next += ((w, cur, nxt))
          }
        }
        state = next
        s += 1
      }
      out.iterator
    }.toDF("walk_id", "step", "node").transform(eager)
  }

  // --------------------------------------------------------- HyperBall

  /** HyperBall harmonic centrality —
    * [[Graph.harmonicCentralityHyperBall]] verbatim: per-node 256-slot
    * packed md5 registers ([[graft.ops.Hll]] lane), per round each
    * node's registers max-merge with its in-neighbors', estimates
    * recorded after every computed round (including the converging one),
    * rounds stop at register fixpoint or the cap, cap-without-fixpoint
    * throws unless allowTruncation. The estimate fold, the
    * linear-counting branch (StrictMath.log — Spark's own log lane) and
    * the t-ordered harmonic telescoping sum replicate the distributed
    * expressions' IEEE arithmetic exactly. Output (id, reached,
    * harmonic). */
  def hyperBallLocal(
      edges: DataFrame, maxHops: Int, allowTruncation: Boolean): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    val alphaM2 = 0.7213 / (1.0 + 1.079 / 256) * (256 * 256)
    val scale = 562949953421312L // 2^49, ops.Hll.Scale
    oneTask(edges.select("src", "dst").as[(Long, Long)]) { it =>
      val es = it.toArray
      val md = java.security.MessageDigest.getInstance("MD5")
      def packed(v: Long): Array[Int] = {
        md.reset()
        val d = md.digest(v.toString.getBytes("UTF-8"))
        val bucket = d(0) & 0xff // first 2 hex chars
        // next 12 hex chars = bytes 1..6 (48 bits)
        var w = 0L
        var i = 1
        while (i <= 6) { w = (w << 8) | (d(i) & 0xffL); i += 1 }
        val rho =
          if (w == 0L) 49
          else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        val r = new Array[Int](256)
        r(bucket) = rho
        r
      }
      def estimate(r: Array[Int]): Double = {
        var s = 0L
        var zeros = 0
        var j = 0
        while (j < 256) {
          s += (1L << (49 - r(j)))
          if (r(j) == 0) zeros += 1
          j += 1
        }
        val raw = alphaM2 * scale / s.toDouble
        if (raw <= 2.5 * 256 && zeros > 0)
          256.0 * StrictMath.log(256.0 / zeros)
        else raw
      }
      var regs = new mutable.LongMap[Array[Int]]()
      es.foreach { case (s, d) =>
        if (!regs.contains(s)) regs(s) = packed(s)
        if (!regs.contains(d)) regs(d) = packed(d)
      }
      val curve = new mutable.LongMap[mutable.ArrayBuffer[Double]]()
      regs.foreachEntry { (v, r) =>
        curve(v) = mutable.ArrayBuffer(estimate(r))
      }
      var t = 1
      var converged = false
      while (!converged && t <= maxHops) {
        val next = new mutable.LongMap[Array[Int]]()
        regs.foreachEntry { (v, r) => next(v) = r.clone() }
        es.foreach { case (u, v) =>
          val src = regs(u)
          val dst = next(v)
          var j = 0
          while (j < 256) {
            if (src(j) > dst(j)) dst(j) = src(j)
            j += 1
          }
        }
        converged = regs.forall { case (v, r) =>
          java.util.Arrays.equals(r, next(v))
        }
        next.foreachEntry { (v, r) => curve(v) += estimate(r) }
        regs = next
        t += 1
      }
      if (!converged && !allowTruncation) throw new IllegalStateException(
        s"HyperBall registers not at fixpoint after $maxHops rounds — " +
          "raise maxHops, or pass allowTruncation = true for hop-bounded " +
          "(capped-unroll) semantics")
      curve.iterator.map { case (v, c) =>
        var h = 0.0
        var i = 1
        while (i < c.length) { h += (c(i) - c(i - 1)) / i.toDouble; i += 1 }
        (v, c.last - 1.0, h)
      }
    }.toDF("id", "reached", "harmonic").transform(eager)
  }

  // --------------------------------------------------- NN-Descent

  /** NN-Descent graph refinement — [[graft.sim.Ann.nnDescent]] verbatim
    * in one task: deterministic first-k centroids (id order, L2² first-
    * strict-min assignment in cid order — the NearestCentroid rule),
    * within-cell seed pairs ∪ the md5-order ring bridges, then `rounds`
    * local joins (neighbor-of-neighbor candidates over the undirected
    * graph ∪ current edges), each re-scored with the index-ordered
    * cosine fold and cut to the per-src (cos DESC, dst ASC) top k.
    * Input (id, vec); output (round, src, dst, cos, rk) for rounds
    * 0..`rounds` (cos unrounded, like the distributed graphs). */
  def nnDescentLocal(
      v: DataFrame, k: Int, rounds: Int, nlist: Int,
      ringNeighbors: Int): DataFrame = {
    val sp = v.sparkSession
    import sp.implicits._
    oneTask(v.select("id", "vec").as[(Long, Array[Double])]) { it =>
      val vs = it.toArray.sortBy(_._1)
      val n = vs.length
      val vecOf = new mutable.LongMap[Array[Double]]()
      vs.foreach { case (id, vec) => vecOf(id) = vec }
      val kk =
        if (nlist > 0) nlist
        else math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
      val cents = vs.take(kk) // id-sorted first-k (cid = id)
      // flat assignment: L2² in cid order, first strict min
      def assign(vec: Array[Double]): Long = {
        var best = 0
        var bestD = Double.PositiveInfinity
        var ci = 0
        while (ci < cents.length) {
          val cv = cents(ci)._2
          val m = math.min(vec.length, cv.length)
          var acc = 0.0
          var j = 0
          while (j < m) { val d = vec(j) - cv(j); acc += d * d; j += 1 }
          if (acc < bestD) { bestD = acc; best = ci }
          ci += 1
        }
        cents(best)._1
      }
      val cells = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      vs.foreach { case (id, vec) =>
        cells.getOrElseUpdate(assign(vec), new mutable.ArrayBuffer[Long]()) += id
      }
      val seed = new mutable.HashSet[(Long, Long)]()
      cells.foreachEntry { (_, ids) =>
        var i = 0
        while (i < ids.length) {
          var j = 0
          while (j < ids.length) {
            if (i != j) seed += ((ids(i), ids(j)))
            j += 1
          }
          i += 1
        }
      }
      // md5-order ring: each node → its next ringNeighbors nodes in
      // (md5₆₀("nnd:"+id), id) order, self excluded
      val md = java.security.MessageDigest.getInstance("MD5")
      val ring = vs.map { case (id, _) => (md5_60(md, s"nnd:$id"), id) }
        .sortBy(identity)
      var i = 0
      while (i < n) {
        var delta = 1
        while (delta <= ringNeighbors) {
          val dst = ring((i + delta) % n)._2
          if (dst != ring(i)._2) seed += ((ring(i)._2, dst))
          delta += 1
        }
        i += 1
      }
      // per-src top-k over a candidate pair set — TopKByScore's exact
      // retention ((s, −id) total order) + output ((−s, id)) orders
      def topk(pairs: Iterator[(Long, Long)]): mutable.LongMap[Array[(Long, Double)]] = {
        val bySrc = new mutable.LongMap[mutable.ArrayBuffer[(Double, Long)]]()
        pairs.foreach { case (s, d) =>
          bySrc.getOrElseUpdate(s, new mutable.ArrayBuffer[(Double, Long)]()) +=
            ((cos(vecOf(s), vecOf(d)), d))
        }
        val out = new mutable.LongMap[Array[(Long, Double)]]()
        bySrc.foreachEntry { (s, cand) =>
          out(s) = topkSorted(cand, k).map { case (c, d) => (d, c) }
        }
        out
      }
      val result = new mutable.ArrayBuffer[(Long, Long, Long, Double, Long)]()
      def emit(round: Int, g: mutable.LongMap[Array[(Long, Double)]]): Unit =
        g.foreachEntry { (s, tops) =>
          var r = 0
          while (r < tops.length) {
            result += ((round.toLong, s, tops(r)._1, tops(r)._2, (r + 1).toLong))
            r += 1
          }
        }
      var g = topk(seed.iterator)
      emit(0, g)
      var round = 1
      while (round <= rounds) {
        val und = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
        val undSet = new mutable.HashSet[(Long, Long)]()
        g.foreachEntry { (s, tops) =>
          tops.foreach { case (d, _) =>
            if (undSet.add((s, d)))
              und.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d
            if (undSet.add((d, s)))
              und.getOrElseUpdate(d, new mutable.ArrayBuffer[Long]()) += s
          }
        }
        val cand = new mutable.HashSet[(Long, Long)]()
        und.foreachEntry { (_, nb) =>
          var a = 0
          while (a < nb.length) {
            var b = 0
            while (b < nb.length) {
              if (nb(a) != nb(b)) cand += ((nb(a), nb(b)))
              b += 1
            }
            a += 1
          }
        }
        g.foreachEntry { (s, tops) => tops.foreach { case (d, _) => cand += ((s, d)) } }
        g = topk(cand.iterator)
        emit(round, g)
        round += 1
      }
      result.iterator
    }.toDF("round", "src", "dst", "cos", "rk").transform(eager)
  }

  // ------------------------------------------------- MMR re-ranking

  /** MMR greedy selection — [[graft.sim.Ann.mmrRerank]] verbatim: pick
    * k rows maximizing lam·rel − mu·max-sim-to-selected (ms = 0 for the
    * first pick), ties to the smaller id, sims the exact index-ordered
    * cosine fold (commutative-symmetric, so x-vs-selected orientation
    * matches the distributed join's). Input (id, vec, rel) shortlist.
    * Output (rank, id, rel, mmr). */
  def mmrLocal(pool: DataFrame, k: Int, lam: Double, mu: Double): DataFrame = {
    val sp = pool.sparkSession
    import sp.implicits._
    oneTask(pool.select("id", "vec", "rel")
        .as[(Long, Array[Double], Double)]) { it =>
      val ps = it.toArray
      val n = ps.length
      val sims = Array.ofDim[Double](n, n)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          if (i != j) sims(i)(j) = cos(ps(i)._2, ps(j)._2)
          j += 1
        }
        i += 1
      }
      val selected = new mutable.ArrayBuffer[Int]()
      val out = new mutable.ArrayBuffer[(Long, Long, Double, Double)]()
      var rank = 1
      while (rank <= k && selected.length < n) {
        var bestIx = -1
        var bestMmr = 0.0
        i = 0
        while (i < n) {
          if (!selected.contains(i)) {
            // max(sim) under Spark's total order (NaN greatest,
            // −0.0 < 0.0) — java.lang.Double.compare, not primitive >
            var ms = 0.0
            var first = true
            selected.foreach { s =>
              val v = sims(i)(s)
              if (first || java.lang.Double.compare(v, ms) > 0) {
                ms = v; first = false
              }
            }
            if (selected.isEmpty) ms = 0.0
            val mmr = lam * ps(i)._3 - mu * ms
            // orderBy(mmr DESC, id).limit(1) under the same total order
            val c = if (bestIx < 0) 1 else java.lang.Double.compare(mmr, bestMmr)
            if (c > 0 || (c == 0 && ps(i)._1 < ps(bestIx)._1)) {
              bestIx = i; bestMmr = mmr
            }
          }
          i += 1
        }
        out += ((rank.toLong, ps(bestIx)._1, ps(bestIx)._3, bestMmr))
        selected += bestIx
        rank += 1
      }
      out.iterator
    }.toDF("rank", "id", "rel", "mmr").transform(eager)
  }

  // ------------------------------------- prefix-filter similarity join

  /** Exact-Jaccard similarity self-join —
    * [[graft.dedup.Dedup.prefixFilterJoin]]'s OUTPUT contract in one
    * task: all (id_a < id_b) pairs sharing ≥ 1 token hash whose exact
    * Jaccard ≥ threshold (the prefix filter is lossless, so the
    * distributed candidate set filtered on exact J equals this set).
    * Token hashing stays on the Spark side — the kernel consumes the
    * same checkpointed (id, hs, m) relation both join sides read, so
    * hash-collision behavior is shared too. Output (id_a, id_b,
    * round(jaccard, 4)); the ≥-threshold compare runs on the identical
    * unrounded double. */
  def prefixJoinLocal(docs: DataFrame, threshold: Double): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    oneTask(docs.select("id", "hs", "m").as[(Long, Array[Long], Long)]) { it =>
      val ds = it.toArray.sortBy(_._1)
      val n = ds.length
      val sorted = new Array[Array[Long]](n)
      val idToIx = new mutable.LongMap[Int]()
      var i = 0
      while (i < n) {
        sorted(i) = ds(i)._2.clone()
        java.util.Arrays.sort(sorted(i))
        idToIx(ds(i)._1) = i
        i += 1
      }
      val posting = new mutable.LongMap[mutable.ArrayBuffer[Int]]()
      i = 0
      while (i < n) {
        ds(i)._2.foreach { h =>
          posting.getOrElseUpdate(h, new mutable.ArrayBuffer[Int]()) += i
        }
        i += 1
      }
      val out = new mutable.ArrayBuffer[(Long, Long, Double)]()
      i = 0
      while (i < n) {
        val seen = new mutable.HashSet[Int]()
        ds(i)._2.foreach { h =>
          posting(h).foreach { j =>
            if (j > i && seen.add(j)) {
              // sorted-merge intersection size
              val a = sorted(i); val b = sorted(j)
              var x = 0; var y = 0; var inter = 0L
              while (x < a.length && y < b.length) {
                if (a(x) < b(y)) x += 1
                else if (a(x) > b(y)) y += 1
                else { inter += 1; x += 1; y += 1 }
              }
              val jac = inter.toDouble /
                (ds(i)._3 + ds(j)._3 - inter).toDouble
              if (jac >= threshold)
                out += ((ds(i)._1, ds(j)._1,
                  BigDecimal(jac).setScale(4,
                    BigDecimal.RoundingMode.HALF_UP).toDouble))
            }
          }
        }
        i += 1
      }
      out.iterator
    }.toDF("id_a", "id_b", "jaccard").transform(eager)
  }

  // ----------------------------------------- sorted-neighborhood pairs

  /** Sorted-neighborhood candidate pairs —
    * [[graft.dedup.SortedNeighborhood.candidatePairs]] verbatim: global
    * 0-based positions in the (sortCols…, id) total order (string sort
    * keys compare as unsigned UTF-8 bytes — exactly UTF8String's binary
    * order, NOT Java's UTF-16 order — nulls first, id tiebreak), then
    * every (a, b) with 1 ≤ pos(b) − pos(a) ≤ window − 1. Input:
    * (id, keys array<string>). Output (a_id, b_id, gap). */
  def sortedPairsLocal(keyed: DataFrame, window: Int): DataFrame = {
    val sp = keyed.sparkSession
    import sp.implicits._
    oneTask(keyed.as[(Long, Array[String])]) { it =>
      val rows = it.toArray
      val keys = rows.map { case (id, ks) =>
        (id, ks.map(k => if (k == null) null else k.getBytes("UTF-8")))
      }
      val ord = new Ordering[(Long, Array[Array[Byte]])] {
        def compare(a: (Long, Array[Array[Byte]]), b: (Long, Array[Array[Byte]])): Int = {
          var i = 0
          while (i < a._2.length) {
            val x = a._2(i); val y = b._2(i)
            val c =
              if (x == null && y == null) 0
              else if (x == null) -1
              else if (y == null) 1
              else java.util.Arrays.compareUnsigned(x, y)
            if (c != 0) return c
            i += 1
          }
          java.lang.Long.compare(a._1, b._1)
        }
      }
      java.util.Arrays.sort(keys, ord)
      val n = keys.length
      Iterator.range(0, n).flatMap { p =>
        var g = 1
        val out = new mutable.ArrayBuffer[(Long, Long, Long)]()
        while (g <= window - 1 && p + g < n) {
          out += ((keys(p)._1, keys(p + g)._1, g.toLong))
          g += 1
        }
        out
      }
    }.toDF("a_id", "b_id", "gap").transform(eager)
  }

  // ---------------------------------------------------- kNN / GNN tier

  /** The gate for an input nobody pins: a LIMIT-bounded count scanning at
    * most cap+1 rows, so it never pays a full pass over a production-sized
    * relation (a sorted-neighborhood input can be the whole corpus). True
    * when [[fits]] passes that count with `cap`. */
  def fitsBounded(df: DataFrame, cap: Long): Boolean = {
    val c = math.min(cap, threshold(df.sparkSession))
    c > 0L && df.limit((c + 1).toInt).count() <= c
  }

  /** The exact cosine — [[graft.plans.CosineSimilarity]]'s index-ordered
    * fold verbatim (dot/na/nb accumulate left to right; float inputs are
    * upcast per element before the multiply, which is exactly the
    * `(double) getFloat(j)` the codegen emits). */
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** TopKByScore's RETENTION order — the heap keeps the k largest by
    * (score, −id) under java.lang.Double.compare total-order semantics
    * (NaN greatest, −0.0 < 0.0), which is what tuple Orderings give. */
  private val topkSelOrd: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (s, i) => (s, -i) }

  /** TopKByScore's OUTPUT order — eval sorts the retained k by (−s, id);
    * note −NaN = NaN sorts LAST here while the retention order keeps it
    * FIRST, so selection and display must use their own orderings. */
  private def topkSorted(
      cand: mutable.ArrayBuffer[(Double, Long)], k: Int): Array[(Double, Long)] =
    cand.sorted(topkSelOrd.reverse).take(k).toArray
      .sortBy { case (s, i) => (-s, i) }

  /** GraphSAGE mean layer — [[graft.sim.Gnn.sageMeanLayer]] verbatim:
    * per-dim 1e-6 fixed-point self vectors, integer neighbor sums,
    * ih = self·cnt ++ (nbrSum | zeros), n2 the index-ordered double
    * fold, h = ih/√max(n2, 1e-12). Input: (0, src, dst, null) edges,
    * (1, id, 0, vec) nodes. Output (id, h). */
  def sageMeanLocal(tagged: DataFrame): DataFrame = {
    val sp = tagged.sparkSession
    import sp.implicits._
    oneTask(tagged.as[(Int, Long, Long, Array[Double])]) { it =>
      val edges = new mutable.ArrayBuffer[(Long, Long)]()
      val q = new mutable.LongMap[Array[Long]]()
      it.foreach { r =>
        if (r._1 == 0) edges += ((r._2, r._3))
        else q(r._2) = r._4.map(x => math.floor(x * 1e6 + 0.5).toLong)
      }
      val nbrSum = new mutable.LongMap[Array[Long]]()
      val nbrCnt = new mutable.LongMap[Long]()
      edges.foreach { case (s, d) =>
        q.get(d).foreach { qv => // neighbor join: dst must be a node
          val acc = nbrSum.getOrElseUpdate(s, new Array[Long](qv.length))
          var i = 0
          while (i < qv.length) { acc(i) += qv(i); i += 1 }
          nbrCnt(s) = nbrCnt.getOrElse(s, 0L) + 1L
        }
      }
      q.iterator.map { case (id, qv) =>
        val cnt = nbrCnt.getOrElse(id, 1L)
        val ih = new Array[Long](qv.length * 2)
        var i = 0
        while (i < qv.length) { ih(i) = qv(i) * cnt; i += 1 }
        nbrSum.get(id).foreach { s =>
          i = 0
          while (i < s.length) { ih(qv.length + i) = s(i); i += 1 }
        }
        var n2 = 0.0
        i = 0
        while (i < ih.length) { n2 += ih(i).toDouble * ih(i).toDouble; i += 1 }
        val den = math.sqrt(math.max(n2, 1e-12))
        (id, ih.map(_.toDouble / den))
      }
    }.toDF("id", "h").transform(eager)
  }

  // --------------------------------------------------------- triangles

  /** Triangle listing — [[Graph.triangles]] semantics: every triangle of
    * the canonical (a < b, distinct) edge set emitted exactly once as an
    * id-sorted (n1 < n2 < n3) triple. Enumeration: per canonical edge
    * (a, b), common GREATER neighbors c > b close (a, b, c) — the
    * orientation that lists each triangle at its lowest edge, the same
    * once-per-triangle bag the distributed wedge join produces. */
  def trianglesLocal(canonicalEdges: DataFrame): DataFrame = {
    val sp = canonicalEdges.sparkSession
    import sp.implicits._
    oneTask(canonicalEdges.select("a", "b").as[(Long, Long)]) { it =>
      val es = it.toArray
      // greater-neighbor adjacency (sorted): gn(a) = { b : (a,b) ∈ E }
      val gn = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      es.foreach { case (a, b) =>
        gn.getOrElseUpdate(a, new mutable.ArrayBuffer[Long]()) += b
      }
      val sorted = new mutable.LongMap[Array[Long]]()
      gn.foreachEntry((k, v) => sorted(k) = v.sortInPlace().toArray)
      es.iterator.flatMap { case (a, b) =>
        (sorted.get(a), sorted.get(b)) match {
          case (Some(ga), Some(gb)) =>
            // sorted-merge intersection of the two greater-lists,
            // restricted to c > b (gb is all > b already; ga needs skip)
            val out = new mutable.ArrayBuffer[(Long, Long, Long)]()
            var i = 0
            var j = 0
            while (i < ga.length && j < gb.length) {
              val x = ga(i); val y = gb(j)
              if (x < y) i += 1
              else if (x > y) j += 1
              else {
                if (x > b) out += ((a, b, x))
                i += 1; j += 1
              }
            }
            out
          case _ => Nil
        }
      }
    }.toDF("n1", "n2", "n3").transform(eager)
  }

  /** Local clustering coefficient — [[Graph.clusteringCoefficient]]
    * verbatim: degree over the canonical edge set, per-node triangle
    * count (each listed triangle credits all three members), coef =
    * 2.0·T / (deg·(deg−1)) in the identical double arithmetic, 0 below
    * degree 2. Output (n, degree, tri_count, coef). */
  def clusteringCoefLocal(canonicalEdges: DataFrame): DataFrame = {
    val sp = canonicalEdges.sparkSession
    import sp.implicits._
    oneTask(canonicalEdges.select("a", "b").as[(Long, Long)]) { it =>
      val es = it.toArray
      val deg = new mutable.LongMap[Long]()
      val gn = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
      es.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0L) + 1L
        deg(b) = deg.getOrElse(b, 0L) + 1L
        gn.getOrElseUpdate(a, new mutable.ArrayBuffer[Long]()) += b
      }
      val sorted = new mutable.LongMap[Array[Long]]()
      gn.foreachEntry((k, v) => sorted(k) = v.sortInPlace().toArray)
      val tri = new mutable.LongMap[Long]()
      es.foreach { case (a, b) =>
        (sorted.get(a), sorted.get(b)) match {
          case (Some(ga), Some(gb)) =>
            var i = 0
            var j = 0
            while (i < ga.length && j < gb.length) {
              val x = ga(i); val y = gb(j)
              if (x < y) i += 1
              else if (x > y) j += 1
              else {
                if (x > b) {
                  tri(a) = tri.getOrElse(a, 0L) + 1L
                  tri(b) = tri.getOrElse(b, 0L) + 1L
                  tri(x) = tri.getOrElse(x, 0L) + 1L
                }
                i += 1; j += 1
              }
            }
          case _ => ()
        }
      }
      deg.iterator.map { case (n, d) =>
        val t = tri.getOrElse(n, 0L)
        val coef = if (d >= 2) 2.0 * t / (d * (d - 1)) else 0.0
        (n, d, t, coef)
      }
    }.toDF("n", "degree", "tri_count", "coef").transform(eager)
  }

  // ------------------------------------------------------------ DBSCAN

  /** Grid-cell-blocked exact DBSCAN — [[graft.sim.Density.dbscan]]
    * verbatim in one task: same cell keys (floor(x/eps)), same 9-cell
    * probe, same left-to-right dist² arithmetic against the same
    * eps·eps literal, same n+1 ≥ minPts core rule, the identical
    * synchronous min-label CC (maxIter budget + throw) over core-core
    * edges, border = min core-neighbor label, noise = the remainder.
    * Input: (id, x, y, cx, cy). Output (id, role, cluster). */
  def dbscanLocal(
      p: DataFrame, eps: Double, minPts: Int, maxIter: Int): DataFrame = {
    val sp = p.sparkSession
    import sp.implicits._
    val eps2 = eps * eps
    oneTask(p.select("id", "x", "y", "cx", "cy")
        .as[(Long, Double, Double, Long, Long)]) { it =>
      val pts = it.toArray
      // cell → point indexes (cells are eps-sized; key packs (cx, cy))
      val cell = new mutable.HashMap[(Long, Long), mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < pts.length) {
        cell.getOrElseUpdate((pts(i)._4, pts(i)._5),
          new mutable.ArrayBuffer[Int]()) += i
        i += 1
      }
      // neighbor pairs (both orientations arise naturally: a finds b in
      // b's cell, b finds a in a's cell — same as the distributed probe)
      val nbrs = Array.fill(pts.length)(new mutable.ArrayBuffer[Int]())
      i = 0
      while (i < pts.length) {
        val (ia, ax, ay, cx, cy) = pts(i)
        var dx = -1L
        while (dx <= 1L) {
          var dy = -1L
          while (dy <= 1L) {
            cell.get((cx + dx, cy + dy)).foreach(_.foreach { j =>
              val (ib, bx, by, _, _) = pts(j)
              if (ia != ib &&
                  (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= eps2)
                nbrs(i) += j
            })
            dy += 1L
          }
          dx += 1L
        }
        i += 1
      }
      val isCore = new Array[Boolean](pts.length)
      i = 0
      while (i < pts.length) {
        isCore(i) = nbrs(i).length + 1 >= minPts
        i += 1
      }
      // CC over core-core edges: the connectedComponents min-label
      // fixpoint verbatim (labels on the core universe, maxIter budget)
      val lbl = new mutable.LongMap[Long]()
      i = 0
      while (i < pts.length) {
        if (isCore(i)) lbl(pts(i)._1) = pts(i)._1
        i += 1
      }
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val nmin = new mutable.LongMap[Long]()
        i = 0
        while (i < pts.length) {
          if (isCore(i)) {
            val ia = pts(i)._1
            nbrs(i).foreach { j =>
              if (isCore(j)) {
                val l = lbl(pts(j)._1)
                if (l < nmin.getOrElse(ia, Long.MaxValue)) nmin(ia) = l
              }
            }
          }
          i += 1
        }
        var changed = 0L
        nmin.foreachEntry { (id, m) =>
          if (m < lbl(id)) { lbl(id) = m; changed += 1 }
        }
        converged = changed == 0L
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "raise maxIter (rounds needed = component diameter)")
      val out = new mutable.ArrayBuffer[(Long, String, Option[Long])]()
      i = 0
      while (i < pts.length) {
        val ia = pts(i)._1
        if (isCore(i)) out += ((ia, "core", Some(lbl(ia))))
        else {
          var best = Long.MaxValue
          nbrs(i).foreach { j =>
            if (isCore(j)) {
              val l = lbl(pts(j)._1)
              if (l < best) best = l
            }
          }
          if (best != Long.MaxValue) out += ((ia, "border", Some(best)))
          else out += ((ia, "noise", None))
        }
        i += 1
      }
      out.iterator
    }.toDF("id", "role", "cluster").transform(eager)
  }
}
