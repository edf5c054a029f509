package graftbench

import scala.collection.mutable

/** Output checks against references written here in plain Scala, with
  * no graft code on the reference side. Each returns the failures found
  * (empty = correct). */
object Checks {

  // ---------------------------------------------------------------- curate

  /** `filtered` is the (doc_id, normalized text) relation entering exact
    * dedup; the id sets are the survivors of each later stage. */
  final case class CurateOut(filtered: Seq[(Long, String)], exact: Set[Long],
      near: Set[Long], semIn: Set[Long], semOut: Set[Long], out: Set[Long])

  def curate(t: Gen.CorpusTruth, o: CurateOut, nearFloor: Double, semFloor: Double): Seq[String] = {
    import o._
    val f = mutable.ArrayBuffer.empty[String]
    val inF = filtered.map(_._1).toSet
    val refExact = filtered.groupBy(_._2).values.map(_.map(_._1).min).toSet
    if (exact != refExact)
      f += s"exact dedup kept ${exact.size} docs, reference keeps ${refExact.size} " +
        s"(${(exact -- refExact).size} extra, ${(refExact -- exact).size} missing)"
    val plantedKept = t.exactDupOf.keySet.filter(inF).intersect(exact)
    if (plantedKept.nonEmpty) f += s"${plantedKept.size} planted exact duplicates survived"
    val nearPairs = t.nearDupOf.toSeq.filter { case (c, o) => exact(c) && exact(o) }
    if (nearPairs.isEmpty) f += "no planted near-duplicate pair reached near dedup"
    else {
      val recall = nearPairs.count { case (c, o) => !(near(c) && near(o)) }.toDouble / nearPairs.size
      if (recall < nearFloor) f += f"near-duplicate recall $recall%.3f below $nearFloor"
    }
    if (!near.subsetOf(exact)) f += "near dedup output holds docs exact dedup dropped"
    val vecPairs = t.vecDupOf.toSeq.filter { case (c, o) => semIn(c) && semIn(o) }
    if (vecPairs.nonEmpty) {
      val recall = vecPairs.count { case (c, o) => !(semOut(c) && semOut(o)) }.toDouble / vecPairs.size
      if (recall < semFloor) f += f"semantic dedup recall $recall%.3f below $semFloor"
    }
    if (!semOut.subsetOf(semIn)) f += "semDedup output holds ids it was not given"
    if (out.isEmpty || !out.subsetOf(inF)) f += "curated output empty or not a subset of the input"
    f.toSeq
  }

  // ----------------------------------------------------------------- graph

  final class Adj(edges: Array[(Long, Long)]) {
    val nbr: Map[Long, Array[Long]] =
      edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
        .map { case (k, v) => k -> v.distinct.sorted }
  }

  /** Union-find component labels: min node id of each component. */
  def components(nodes: Array[Long], edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = nodes.map(n => n -> find(n)).toMap
    val minOf = roots.groupMapReduce(_._2)(_._1)(math.min)
    roots.map { case (n, r) => n -> minOf(r) }
  }

  /** Multi-source BFS hop counts, capped at `maxHops`. */
  def hops(adj: Adj, seeds: Seq[Long], maxHops: Int): Map[Long, Long] = {
    val dist = mutable.HashMap.empty[Long, Long]
    var frontier = seeds.distinct
    frontier.foreach(dist(_) = 0L)
    var h = 0L
    while (frontier.nonEmpty && h < maxHops) {
      h += 1
      frontier = frontier.flatMap(v => adj.nbr.getOrElse(v, Array.empty[Long]))
        .filter(v => !dist.contains(v)).distinct
      frontier.foreach(dist(_) = h)
    }
    dist.toMap
  }

  /** k-core membership by peeling nodes of degree < k. */
  def kCore(adj: Adj, k: Int): Set[Long] = {
    val deg = mutable.HashMap(adj.nbr.map { case (v, ns) => v -> ns.count(_ != v) }.toSeq: _*)
    val alive = mutable.HashSet(deg.keys.toSeq: _*)
    val queue = mutable.Queue(deg.collect { case (v, d) if d < k => v }.toSeq: _*)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (alive.remove(v)) adj.nbr(v).foreach { u =>
        if (u != v && alive(u)) {
          deg(u) -= 1
          if (deg(u) < k) queue.enqueue(u)
        }
      }
    }
    alive.toSet
  }

  /** Seeded label propagation: seeds keep their label; every other node
    * takes the most frequent label among its labelled neighbours (ties
    * to the smaller label), else keeps its previous label. */
  def labels(adj: Adj, nodes: Array[Long], seeds: Map[Long, Long], iters: Int): Map[Long, Long] = {
    var lab: Map[Long, Long] = seeds
    for (_ <- 1 to iters) {
      lab = nodes.flatMap { v =>
        seeds.get(v).orElse {
          val votes = adj.nbr.getOrElse(v, Array.empty[Long]).flatMap(lab.get)
          if (votes.isEmpty) lab.get(v)
          else Some(votes.groupBy(identity).toSeq.map { case (l, xs) => (xs.length, -l) }.max._2 * -1)
        }.map(v -> _)
      }.toMap
    }
    lab
  }

  /** Power-iteration PageRank over the symmetric edge set. */
  def pageRank(adj: Adj, iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val nodes = adj.nbr.keys.toArray.sorted
    val n = nodes.length
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      nodes.foreach { v =>
        val ns = adj.nbr(v)
        ns.foreach(u => contrib(u) += pr(v) / ns.length)
      }
      pr = nodes.map(v => v -> ((1 - d) / n + d * contrib(v))).toMap
    }
    pr
  }

  final case class GraphRow(id: Long, component: Long, hops: Option[Long],
      label: Option[Long], inCore: Boolean)

  def graph(t: Gen.GraphTruth, rows: Seq[GraphRow], pr: Map[Long, Double],
      k: Int, maxHops: Int, labelIters: Int, prIters: Int, tol: Double): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val adj = new Adj(t.edges)
    val byId = rows.map(r => r.id -> r).toMap
    if (byId.size != rows.size || byId.keySet != t.nodes.toSet)
      f += s"curated table has ${rows.size} rows for ${t.nodes.length} nodes"
    def cmp[V](what: String, ref: Map[Long, V], got: Map[Long, V]): Unit = {
      val bad = (ref.keySet ++ got.keySet).count(id => ref.get(id) != got.get(id))
      if (bad > 0) f += s"$what differs from the reference on $bad nodes"
    }
    cmp("component", components(t.nodes, t.edges), byId.map { case (i, r) => i -> r.component })
    cmp("hop distance", hops(adj, t.seeds.map(_._1).toSeq, maxHops),
      byId.collect { case (i, r) if r.hops.isDefined => i -> r.hops.get })
    cmp("label", labels(adj, t.nodes, t.seeds.toMap, labelIters),
      byId.collect { case (i, r) if r.label.isDefined => i -> r.label.get })
    cmp("k-core membership", kCore(adj, k).map(_ -> true).toMap,
      byId.collect { case (i, r) if r.inCore => i -> true })
    val refPr = pageRank(adj, prIters)
    val worst = refPr.map { case (i, v) => math.abs(pr.getOrElse(i, Double.NaN) - v) }
      .foldLeft(0.0)((a, b) => if (b.isNaN) Double.PositiveInfinity else math.max(a, b))
    if (pr.size != refPr.size || worst > tol) f += s"PageRank off by $worst (tolerance $tol)"
    f.toSeq
  }

  // ------------------------------------------------------------------- esb

  /** The reply an order POST must get: the parsed order for a valid
    * message, `Dropped` for a rejected or malformed one. */
  def reply(o: Gen.Order, status: Int, body: String): Option[String] = {
    val want = if (o.valid) s"{${o.id}, ${o.sku}, ${o.qty}}" else "Dropped"
    if (status == 200 && body == want) None
    else Some(s"order ${o.id} (${o.kind}): reply $status ${body.take(60)}, expected 200 $want")
  }

  /** Final store state of every order after a bulk run: processed (clean
    * or recovered on re-send), error (re-sends exhausted) or rejected. */
  def expectedState(o: Gen.Order): String =
    if (!o.valid) "rejected" else if (o.flaky == 2) "error" else "processed"

  def states(got: Map[String, Long], want: Map[String, Long]): Option[String] =
    if (got == want) None else Some(s"store states $got, expected $want")

  /** The file channel's sink against the same channel run in batch over
    * the same files, by [[Esb.sinkSignature]]. */
  def sink(got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"file channel sink $got, batch run of the channel $want")

  def page(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.size} ids, expected ${want.size}, first difference at " +
      s"${got.zipAll(want, "", "").indexWhere(p => p._1 != p._2)}")

  /** The admin searches the esb cycle issues, by name and parameters. */
  object EsbSearch {
    val ByLine = "list_msgs by -meta:line_total"
    val ByTimeRange = "list_msgs by time range, second page"
    val MetaRange = "search by line_total range"
    val MetaText = "search by line_total text"
    val Page = 20
    val Offset = 10
    val MetaLo = 50.0
    val MetaHi = 120.0
    val MetaSub = "5"
    /** Arrival-line bounds of the time-range search, inclusive. */
    def lineRange(n: Int): (Int, Int) = (n / 4, n / 2)
  }

  /** Every search's expected page, by a Scala sort and filter over the
    * generated orders: message i arrives at second i, its id is the md5 of
    * its body, and `line_total` = 10 × qty for a valid order (none
    * otherwise). Meta values compare as strings, as the store does. */
  def esbPages(orders: IndexedSeq[Gen.Order]): Map[String, Seq[String]] = {
    import EsbSearch._
    val rows = orders.zipWithIndex.map { case (o, i) =>
      (if (o.valid) Some((o.qty * 10).toString) else None, i, Esb.md5(o.body))
    }
    // meta value descending (nulls last), then arrival time, then id
    val byLineDesc = rows.sortWith { case ((la, ta, ua), (lb, tb, ub)) =>
      (la, lb) match {
        case (Some(a), Some(b)) if a != b => a > b
        case (Some(_), None) => true
        case (None, Some(_)) => false
        case _ => if (ta != tb) ta < tb else ua < ub
      }
    }
    val byTime = rows.sortBy(r => (r._2, r._3))
    val (from, to) = lineRange(orders.size)
    Map(
      ByLine -> byLineDesc.take(Page).map(_._3),
      ByTimeRange -> byTime.filter(r => r._2 >= from && r._2 <= to).slice(Offset, Offset + Page).map(_._3),
      MetaRange -> byLineDesc.filter(_._1.exists(v => v.toDouble >= MetaLo && v.toDouble <= MetaHi))
        .take(Page).map(_._3),
      MetaText -> byTime.filter(_._1.exists(_.contains(MetaSub))).take(Page).map(_._3))
  }
}
