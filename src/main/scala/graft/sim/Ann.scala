package graft.sim

import graft.plans.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: one scan, per-row fused
  * cosine (native codegen expression, graft.plans.CosineSimilarity), then
  * `TakeOrderedAndProject` — no full sort, no shuffle of embedding data.
  *
  * The IVF variant is the 100 TB path. Its contract is that the centroid
  * table is tiny (nlist × dims doubles — k-means' standard invariant), so:
  *   - centroids live on the driver between iterations (a scalar-sized
  *     parameter fetch, exactly like a query vector);
  *   - nearest-centroid assignment is a ZERO-SHUFFLE projection — one
  *     `NearestCentroid(vec, centroidMatrix)` codegen expression fused
  *     into the scan stage (constant plan size in nlist). No cross join,
  *     no groupBy, no corpus re-join.
  *   - probing never runs a Spark job to choose lists: the nprobe nearest
  *     centroids are picked on the driver, and the candidate scan is a
  *     pushed-down `cid IN (...)` filter over the materialized index (at
  *     cluster scale: a table partitioned by `cid` → partition pruning).
  */
object Ann {

  /** Dot product — native codegen'd loop; accepts float/double arrays. */
  def dot(a: Column, b: Column): Column = vecDot(a, b)

  def norm(a: Column): Column = sqrt(vecDot(a, a))

  /** Cosine similarity between a vector column and a constant query vector
    * (single fused pass). */
  def cosineToQuery(vec: Column, query: Seq[Double]): Column =
    vecCosine(vec, array(query.map(lit): _*))

  /** Exact top-k by cosine against a constant query vector.
    * Ties broken by id for determinism. */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        round(cosineToQuery(col(vecCol), query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  /** Driver-side L2²: sequential left-to-right sum, the same order the
    * codegen'd L2SquaredDistance loop and DuckDB's list_sum use — keeps
    * centroid selection bit-deterministic across engines. */
  private[graft] def l2sqLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The nprobe cells nearest `query` (driver-side; ascending-L2 with cid
    * tiebreak) — ONE definition of the probe convention shared by
    * [[ivfTopK]] and `Pq.ivfPqTopK` so the tie-break can never diverge. */
  private[sim] def probeCells(
      centroids: Seq[(Long, Seq[Double])], query: Seq[Double], nprobe: Int): Seq[Long] =
    centroids.map { case (cid, cv) => (l2sqLocal(cv, query), cid) }
      .sorted.take(nprobe).map(_._2)

  /** Fetch a (cid, cv) centroid table to the driver — nlist × dims doubles,
    * a scalar-sized parameter like a query vector. */
  private def collectCentroids(centroids: DataFrame): Seq[(Long, Seq[Double])] =
    centroids.orderBy(col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq

  /** Nearest-centroid assignment as a pure projection — zero shuffle, fuses
    * into the scan of `vecs`. The argmin is ONE `NearestCentroid` Catalyst
    * expression taking the whole centroid table as a single 2-D array
    * literal with a codegen'd loop (graft.plans.NearestCentroid), so plan
    * size and generated-code size are constant in nlist: production IVF
    * (nlist ~ √n ≈ 10⁴⁺ at 100 TB) compiles to the same tight loop as the
    * nlist=16 test. Distance ties resolve to the smallest cid (centroids
    * scanned in cid order, first strict min wins) — the exact semantics of
    * the previous `least(struct(dist, cid))` form, so q_ann_ivf's oracle is
    * unchanged. */
  def assignTo(vecs: DataFrame, centroids: Seq[(Long, Seq[Double])]): DataFrame =
    vecs.withColumn("cid", nearestCentroid(col("v"), centroids))

  /** Distributed Lloyd's k-means for IVF centroids: deterministic init
    * (first k by id), then `iters` rounds of assign (projection) → mean
    * recompute. The only shuffle per round carries (cid, dim) partial sums —
    * k × dims rows, independent of corpus size; the new centroids come back
    * to the driver (tiny) for the next round's assignment literals. */
  def kmeansCentroids(
      df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    val vecs = df.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    var centroids = collectCentroids(
      vecs.orderBy(col("id")).limit(k)
        .select(col("id").as("cid"), col("v").as("cv")))
    for (_ <- 1 to iters) {
      val recomputed = collectCentroids(
        assignTo(vecs, centroids)
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
          .groupBy(col("cid"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"), transform(col("pm"), _.getField("m")).as("cv")))
        .toMap
      // a cid whose cluster went empty produces no row in the recompute —
      // carry its previous centroid forward instead of silently shrinking
      // the codebook (keeps centroids.size == k, so the effective
      // nprobe/nlist fraction is stable)
      centroids = centroids.map { case (cid, old) =>
        cid -> recomputed.getOrElse(cid, old)
      }
    }
    centroids
  }

  /** IVF index: the materialized inverted lists (id, v, cid) plus the
    * driver-resident centroid table. At cluster scale `assigned` is a
    * persisted table partitioned by `cid`; locally it is checkpointed once
    * at build so probes never recompute the assignment. */
  final case class IvfIndex(assigned: DataFrame, centroids: Seq[(Long, Seq[Double])])

  /** IVF index build: train centroids (k-means, or deterministic first-k
    * when `trainIters` = 0) and assign every vector in one shuffle-free
    * projection pass, materialized once.
    *
    * `nlist = 0` sizes the codebook automatically as ⌈√n⌉ — the measured
    * sizing law (PLANS.md round-13 IvfSizing sweep: at 10× data, fixed
    * nlist=16 reads 15–17× wall while nlist ∝ corpus reads 4.5–7.5× with
    * recall@10 ≥ 0.93; cell population n/nlist = √n balances per-probe
    * scan cost against codebook size, the classic IVF heuristic). The
    * auto path costs one `count()` job at build time. Registry/oracle
    * queries keep pinned explicit nlist (16) so DuckDB can enumerate the
    * identical centroids. */
  def ivfBuild(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      trainIters: Int = 0): IvfIndex = {
    require(nlist >= 0, "nlist must be positive, or 0 for auto ⌈√n⌉ sizing")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val k =
      if (nlist > 0) nlist
      else math.max(1, math.ceil(math.sqrt(vecs.count().toDouble)).toInt)
    val centroids =
      if (trainIters > 0) kmeansCentroids(df, idCol, vecCol, k, trainIters)
      else collectCentroids(
        vecs.orderBy(col("id")).limit(k)
          .select(col("id").as("cid"),
            transform(col("v"), _.cast("double")).as("cv")))
    IvfIndex(assignTo(vecs, centroids).localCheckpoint(true), centroids)
  }

  /** Backwards-compatible form returning just the assignment table. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, nlist: Int): DataFrame =
    ivfAssign(df, idCol, vecCol, nlist, hier = false)

  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      hier: Boolean): DataFrame =
    (if (hier) ivfBuildHier(df, idCol, vecCol, nlist)
     else ivfBuild(df, idCol, vecCol, nlist)).assigned

  /** Group a trained codebook into `nsuper` supercells — driver-side
    * Lloyd's over the CENTROIDS themselves (nlist points: trivial on the
    * driver at any production nlist; 10⁴ centroids × 3 iterations is
    * microseconds against a multi-minute assign stage). Deterministic:
    * first-nsuper init in cid order, L2² with first-strict-min
    * tie-break (the [[assignTo]] convention), empty supercells dropped.
    * The FINAL membership is recomputed against the returned
    * supercentroids, so the grouping the assign expression probes is
    * exactly the grouping that built it. */
  private[graft] def groupCentroids(
      centroids: Seq[(Long, Seq[Double])], nsuper: Int, iters: Int = 2)
      : Seq[(Seq[Double], Seq[(Long, Seq[Double])])] = {
    val sorted = centroids.sortBy(_._1).toIndexedSeq
    val ns = math.min(nsuper, sorted.size)
    var supers: IndexedSeq[Seq[Double]] = sorted.take(ns).map(_._2)
    def assign(): Array[Int] = sorted.map { case (_, cv) =>
      var bi = 0; var bd = Double.PositiveInfinity
      var si = 0
      while (si < supers.size) {
        val d = l2sqLocal(cv, supers(si))
        if (d < bd) { bd = d; bi = si }
        si += 1
      }
      bi
    }.toArray
    for (_ <- 1 to iters) {
      val a = assign()
      supers = supers.indices.map { si =>
        val mem = sorted.indices.filter(a(_) == si)
        if (mem.isEmpty) supers(si)
        else {
          val dims = sorted.head._2.length
          val acc = new Array[Double](dims)
          mem.foreach { mi =>
            val cv = sorted(mi)._2
            var j = 0
            while (j < dims) { acc(j) += cv(j); j += 1 }
          }
          acc.map(_ / mem.size).toIndexedSeq
        }
      }
    }
    val fin = assign()
    supers.indices.flatMap { si =>
      val mem = sorted.indices.filter(fin(_) == si).map(sorted)
      if (mem.isEmpty) None else Some((supers(si), mem.toSeq))
    }
  }

  /** IVF index build with HIERARCHICAL (two-stage) assignment — the
    * past-n^1.5 lever ([[graft.plans.VectorFunctions.nearestCentroidHier]]
    * has the cost model and the exactness trade). Same [[IvfIndex]]
    * contract as [[ivfBuild]] — centroids, probing and the inverted-list
    * layout are identical; only which BOUNDARY vectors land in which
    * adjacent cell differs, so downstream probe/pair stages run
    * unchanged. `nsuper = 0` auto-sizes to ⌈√nlist⌉ (cost-balancing the
    * two stages, the same law nlist = 0 applies to the corpus). The
    * registry keeps flat [[ivfBuild]]: its oracle enumerates exact cell
    * membership; this build is the production path once nlist passes
    * the measured flat-assign ceiling (PLANS.md IVF sizing section). */
  def ivfBuildHier(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      nsuper: Int = 0, trainIters: Int = 0, wprobe: Int = 2): IvfIndex = {
    require(nlist >= 0, "nlist must be positive, or 0 for auto ⌈√n⌉ sizing")
    require(nsuper >= 0, "nsuper must be positive, or 0 for auto ⌈√nlist⌉")
    require(wprobe >= 1, s"wprobe must be >= 1, got $wprobe")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val k =
      if (nlist > 0) nlist
      else math.max(1, math.ceil(math.sqrt(vecs.count().toDouble)).toInt)
    val centroids =
      if (trainIters > 0) kmeansCentroids(df, idCol, vecCol, k, trainIters)
      else collectCentroids(
        vecs.orderBy(col("id")).limit(k)
          .select(col("id").as("cid"),
            transform(col("v"), _.cast("double")).as("cv")))
    val ns =
      if (nsuper > 0) nsuper
      else math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val groups = groupCentroids(centroids, ns)
    IvfIndex(
      vecs.withColumn("cid",
          graft.plans.VectorFunctions.nearestCentroidHier(col("v"), groups,
            wprobe))
        .localCheckpoint(true),
      centroids)
  }

  /** IVF query: pick the `nprobe` nearest centroids on the driver (no Spark
    * job — the centroid table is driver-resident), then brute-force only the
    * vectors in those lists via a pushed-down `cid IN (...)` filter. Scans
    * nprobe/nlist of the corpus instead of all of it. */
  def ivfTopK(index: IvfIndex, query: Seq[Double], nprobe: Int, k: Int): DataFrame = {
    val probed = probeCells(index.centroids, query, nprobe)
    val q = array(query.map(lit): _*)
    index.assigned
      .filter(col("cid").isin(probed: _*))
      .select(col("id"), round(vecCosine(col("v"), q), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Exact k-NN JOIN of a small probe set against a large corpus: probes
    * broadcast (the corpus never shuffles as pairs), the per-pair cosine is
    * the fused codegen expression evaluated inside the nested-loop join,
    * and per-probe top-k uses the partial-aggregatable TopKByScore heap —
    * the one shuffle carries ≤ k rows per probe per partition, never the
    * |probes|×|corpus| pair relation. The right 100 TB plan for probe sets
    * that fit a broadcast (≲10⁵ vectors); beyond that use [[knnJoinIvf]].
    * Self-pairs (same id both sides) are excluded. Ties → smaller id.
    *
    * It has no one-task LocalSolve kernel: one measured slower than this
    * plan (q_mutual_knn 0.74× at sf0.1). Duplicate probe ids merge into
    * one top-k group; a NaN cosine (zero vector) is retained as the
    * greatest score and shown last. */
  def knnJoinExact(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    import graft.plans.TopKByScore.topkByScore
    val p = broadcast(
      probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv")))
    // The |corpus|×|probes| pair work rides the CORPUS side's partitioning,
    // and a broadcast join inherits the stream side's split count — which
    // for a byte-small local file is ONE split (guide §2: partition by
    // work, not bytes). Spread is the identity once the corpus has
    // session-parallelism partitions (any real corpus), so the production
    // plan is unchanged.
    graft.ops.Spread.toSessionParallelism(
        corpus.select(col(idCol).as("id"), col(vecCol).as("cv")), "id")
      .crossJoin(p)
      .filter(col("id") =!= col("probe_id"))
      .withColumn("cos", vecCosine(col("cv"), col("pv")))
      .groupBy(col("probe_id"))
      .agg(topkByScore(col("cos"), col("id"), k).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"),
        col("t").getField("id").as("id"),
        round(col("t").getField("score"), 4).as("cosine"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** Matryoshka truncation-recall evaluation (Kusupati et al. 2022,
    * arXiv:2205.13147): per candidate prefix width d, the top-k overlap
    * between cosine search on the first d dims and on the full vector —
    * the dimension-budget tuning table an embedding pipeline consults
    * before committing a corpus to truncated storage (d/D of the bytes,
    * ~D/d of the scan throughput). The full-width entry (d = D) must read
    * recall 1.0 and anchors the table.
    *
    * Scale shape: one [[knnJoinExact]] pass per width over the SAME
    * broadcast-bounded probe sample every recall gate here uses
    * (q_ann_recall's 2%) — production swaps the exact pass for the IVF
    * index at each width, same downstream join. The overlap join is
    * O(probes·k) rows per width.
    *
    * Output: one row per width — d_trunc, n_probes, hits, recall
    * (4-decimal-floored). */
  def mrlRecall(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Seq[Int],
      k: Int): DataFrame = {
    require(dims.nonEmpty, "empty width grid")
    val full = knnJoinExact(probes, corpus, idCol, vecCol, k)
      .select(col("probe_id"), col("id"))
      .localCheckpoint(true)
    dims.map { d =>
      val pc = probes.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val cc = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val tr = knnJoinExact(pc, cc, idCol, vecCol, k)
        .select(col("probe_id").as("p2"), col("id").as("id2"))
      full.join(tr,
          col("probe_id") === col("p2") && col("id") === col("id2"), "left")
        .agg(countDistinct(col("probe_id")).as("n_probes"),
          count(col("id2")).as("hits"),
          greatest(count(lit(1)), lit(1L)).as("slots")) // guard 0/0 pre-filter
        .select(lit(d.toLong).as("d_trunc"), col("n_probes"), col("hits"),
          (floor(col("hits").cast("double") / col("slots") * 10000 + lit(0.5))
            / 10000).as("recall"))
        // degenerate-slice parity: with zero probes a grouped oracle emits
        // NO row for this width — an ungrouped Spark agg always emits one,
        // so a recall-0 phantom row would diverge. Drop it.
        .filter(col("n_probes") > 0)
    }.reduce(_ unionByName _)
  }

  /** Binary (1-bit sign) quantization recall — the 32× memory point next
    * to int8 [[graft.sim.Quantize]]: binarize each dim to sign(v) > 0,
    * rank by Hamming distance, and measure top-k overlap vs full-precision
    * cosine. Deterministic ties (integer distances collide constantly at
    * 64 bits): smaller id wins on both engines.
    *
    * The bit vectors are computed ONCE per side as packed 0/1 byte arrays
    * in the scan stage; per-pair Hamming is a fused zip/filter/size over
    * them. With `packedDims` set, the codes instead pack into
    * ⌈dims/64⌉ longs ([[Quantize.packSignBits]]) and Hamming becomes
    * popcount(xor) ([[Quantize.hammingPacked]]) — the production format
    * (a storage change that cannot alter recall; a spec pins word-level
    * equality and the registry runs BOTH forms against one oracle).
    *
    * Output: one row — n_probes, hits, recall (4-decimal-floored). */
  def hammingRecall(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      packedDims: Option[Int] = None): DataFrame = {
    import graft.plans.TopKByScore.topkByScore
    val full = knnJoinExact(probes, corpus, idCol, vecCol, k)
      .select(col("probe_id"), col("id"))
      .localCheckpoint(true)
    def bits(c: Column): Column = packedDims match {
      case Some(d) => Quantize.packSignBits(c, d)
      case None => transform(c, v => when(v > 0f, lit(1).cast("byte"))
        .otherwise(lit(0).cast("byte")))
    }
    val p = broadcast(probes.select(col(idCol).as("probe_id"),
      bits(col(vecCol)).as("pb")))
    // pair work rides the corpus side's split count — spread it (identity
    // at production split counts; see knnJoinExact); bit-packing lands
    // after the exchange so it parallelizes too
    val cb = graft.ops.Spread.toSessionParallelism(
        corpus.select(col(idCol).as("id"), col(vecCol).as("cv")), "id")
      .select(col("id"), bits(col("cv")).as("cb"))
    val ham = packedDims match {
      case Some(_) => Quantize.hammingPacked(col("cb"), col("pb"))
      case None => size(filter(
        zip_with(col("cb"), col("pb"), (x, y) => x =!= y), b => b))
    }
    val approx = cb.crossJoin(p)
      .filter(col("id") =!= col("probe_id"))
      .withColumn("score", -ham.cast("double"))
      .groupBy(col("probe_id"))
      .agg(topkByScore(col("score"), col("id"), k).as("top"))
      .select(col("probe_id").as("p2"),
        explode(col("top").getField("id")).as("id2"))
    full.join(approx,
        col("probe_id") === col("p2") && col("id") === col("id2"), "left")
      .agg(countDistinct(col("probe_id")).as("n_probes"),
        count(col("id2")).as("hits"),
        greatest(count(lit(1)), lit(1L)).as("slots")) // guard 0/0 pre-filter
      .select(col("n_probes"), col("hits"),
        (floor(col("hits").cast("double") / col("slots") * 10000 + lit(0.5))
          / 10000).as("recall"))
      // degenerate-slice parity: zero probes → zero rows (a grouped oracle
      // emits nothing; the phantom recall-0 row would diverge)
      .filter(col("n_probes") > 0)
  }

  /** NN-Descent k-NN-graph construction (Dong, Charikar & Li, WWW 2011)
    * — the graph-refinement ANN family next to the bucketed ones
    * (IVF/SRP): start from a cheap approximate graph and repeatedly run
    * the LOCAL JOIN — every node introduces its (forward ∪ reverse)
    * neighbors to each other; each node keeps the best k of (current ∪
    * introduced) by cosine. Converges toward the exact graph because a
    * true neighbor is overwhelmingly likely to be a neighbor-of-a-
    * neighbor ("the neighbor of my neighbor is my neighbor").
    *
    * Init is the IVF within-cell graph (deterministic first-`nlist`
    * centroids — the q_ann_ivf lane) UNIONed with a deterministic
    * md5-order RING (each node → its next `ringNeighbors` nodes in hash
    * order): the cell graph supplies good local edges, but alone it is
    * CLOSED under neighbor-of-neighbor — the local join could never
    * cross cells and recall would freeze at the seed (observed before
    * the ring was added). The hash ring is the deterministic stand-in
    * for the paper's random init: pseudo-random cross-cell bridges that
    * every round's local join then exploits. The ring rank is one
    * ordered row_number over the node set — for a corpus-scale build
    * substitute a range-partitioned rank; the rest of the operator
    * never sorts globally.
    *
    * Scale shape per round: one self-join of the undirected edge list on
    * the shared middle node — candidate volume Σ_u deg(u)² ≤ n·(2k)², a
    * constant multiple of the corpus, never all-pairs — then one
    * DISTINCT and the k-bounded TopKByScore heap, so only k rows per
    * node cross the final exchange. Ties pin to (cos DESC, id); every
    * arithmetic step rides the exact index-ordered vecCosine fold, so
    * the whole recursion has a relational oracle.
    *
    * Returns graphs by round: element 0 = init, element r = after r
    * local-join rounds; each is (src, dst, cos UNROUNDED, rk). */
  def nnDescent(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, nlist: Int,
      ringNeighbors: Int = 2): Seq[DataFrame] = {
    // nlist = 0 → auto ⌈√n⌉ (ivfBuild's law): the SEED stage enumerates
    // within-cell pairs, O(n²/nlist) — at a PINNED nlist it is quadratic
    // in the corpus (measured: q_gnn_sage_nnd at its oracle-pinned
    // nlist=8 read sf10/sf1 = 28.4× on the r16 decade), at √n it is the
    // n^1.5 class every auto-sized IVF shape lives in. Registry queries
    // keep pinned nlist so the oracle can enumerate the cells.
    require(k >= 1 && rounds >= 0 && nlist >= 0 && ringNeighbors >= 1,
      "bad nnDescent params")
    import graft.plans.TopKByScore.topkByScore
    val (v, n) = graft.ops.Materialize.counted(
      df.select(col(idCol).as("id"), col(vecCol).as("vec")))

    // below-threshold fast path (round 19, LocalSolve): seed assignment,
    // ring, and every local-join round in one task — identical centroid
    // rule, md5 ring order, cosine folds and (cos DESC, dst ASC) top-k.
    // Gate on the SEED pair volume n²/nlist (the kernel's dominant term;
    // a small PINNED nlist makes it quadratic — measured at sf1: the
    // n=4 000/nlist=8 form read 19.1 s one-task vs 15.4 s distributed,
    // while the auto-⌈√n⌉ form read 2.3 s vs 21.0 s) plus an absolute
    // vector cap; rounds-work is O(n·(2k)²), dominated by the seed term.
    locally {
      import graft.graph.LocalSolve
      val kk0 =
        if (nlist > 0) nlist
        else math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
      if (v.schema("id").dataType == org.apache.spark.sql.types.LongType &&
          LocalSolve.fits(n, 1L << 13) &&
          n.toDouble * n / kk0 <= (1L << 19).toDouble) {
        val out = LocalSolve.nnDescentLocal(
          v.select(col("id"), col("vec").cast("array<double>").as("vec")),
          k, rounds, nlist, ringNeighbors)
        return (0 to rounds).map { r =>
          out.filter(col("round") === r.toLong)
            .select(col("src"), col("dst"), col("cos"), col("rk"))
        }
      }
    }

    def topkGraph(pairs: DataFrame): DataFrame =
      pairs.groupBy(col("src"))
        .agg(topkByScore(col("cos"), col("dst"), k).as("top"))
        .select(col("src"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("src"), col("t").getField("id").as("dst"),
          col("t").getField("score").as("cos"),
          (col("pos") + 1).cast("long").as("rk"))
        .localCheckpoint(true)

    val assigned = ivfAssign(df, idCol, vecCol, nlist)
      .select(col("id"), col("cid"))
    val withCell = v.join(assigned, "id")
    val cellPairs = withCell.as("a").join(withCell.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
    // deterministic md5-order ring: cross-cell seed bridges
    val ranked = v.select(col("id"),
        conv(substring(md5(concat(lit("nnd:"), col("id").cast("string"))),
          1, 15), 16, 10).cast("long").as("hsh"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("hsh"), col("id"))))
      .localCheckpoint(true)
    val nTot = ranked.agg(count(lit(1)).as("ntot"))
    val ringPairs = ranked.crossJoin(broadcast(nTot))
      .withColumn("delta",
        explode(sequence(lit(1), lit(ringNeighbors))))
      .withColumn("rn2",
        pmod(col("rn") - 1 + col("delta"), col("ntot")) + 1)
      .join(ranked.select(col("id").as("dst"), col("rn").as("rn2")), "rn2")
      .filter(col("id") =!= col("dst"))
      .select(col("id").as("src"), col("dst"))
    val seed = cellPairs.unionByName(ringPairs).distinct()
      .join(v.select(col("id").as("src"), col("vec").as("sv")), "src")
      .join(v.select(col("id").as("dst"), col("vec").as("dv")), "dst")
      .select(col("src"), col("dst"),
        vecCosine(col("sv"), col("dv")).as("cos"))
    val g0 = topkGraph(seed)

    val graphs = scala.collection.mutable.ArrayBuffer(g0)
    for (_ <- 1 to rounds) {
      val g = graphs.last
      val und = g.select(col("src"), col("dst"))
        .unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      val cand = und.as("l").join(und.as("r"),
          col("l.src") === col("r.src") && col("l.dst") =!= col("r.dst"))
        .select(col("l.dst").as("src"), col("r.dst").as("dst"))
        .unionByName(g.select(col("src"), col("dst")))
        .distinct()
      val scored = cand
        .join(v.select(col("id").as("src"), col("vec").as("sv")), "src")
        .join(v.select(col("id").as("dst"), col("vec").as("dv")), "dst")
        .select(col("src"), col("dst"),
          vecCosine(col("sv"), col("dv")).as("cos"))
      graphs += topkGraph(scored)
    }
    graphs.toSeq
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998):
    * greedily pick k documents from a scored shortlist, each pick
    * maximizing λ·relevance − μ·max-similarity-to-already-picked — the
    * standard redundancy filter between retrieval and display (or
    * between retrieval and a RAG context window). The empty-selection
    * max-sim is 0, so pick 1 maximizes λ·rel and the formula is uniform
    * across ranks.
    *
    * The selection recurrence is inherently sequential in k, but k is
    * a display-page constant: everything here is a LAZY composition of
    * k tiny joins over the shortlist — no driver-side loop, no collect;
    * the heavy lifting (scoring the corpus, the top-N shortlist cut)
    * happens distributed BEFORE this operator. λ and μ are taken as
    * separate literals rather than μ = 1−λ because 1.0−0.7 in IEEE
    * doubles is not 0.3 — callers pass both, oracles spell both.
    *
    * @param pool shortlist with id, vector and UNROUNDED relevance
    * @return (rank, id, rel, mmr), rank 1..k, scores unrounded */
  def mmrRerank(
      pool: DataFrame, idCol: String, vecCol: String, relCol: String,
      k: Int, lam: Double, mu: Double): DataFrame = {
    // shortlist: read by sims and every step
    val (p, nPool) = graft.ops.Materialize.counted(
      pool.select(col(idCol).as("id"), col(vecCol).as("vec"), col(relCol).as("rel")))
    // below-threshold fast path (round 19, LocalSolve): the whole greedy
    // recurrence in one task — k orderBy-limit(1) jobs collapse to one.
    // Shortlists are display-page-sized by contract; the cap guards the
    // |pool|² sims matrix. Long ids + double rel only, so the gated
    // output's schema AND values match the distributed path exactly.
    if (p.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        p.schema("rel").dataType == org.apache.spark.sql.types.DoubleType &&
        graft.graph.LocalSolve.fits(nPool, 1L << 12)) {
      return graft.graph.LocalSolve.mmrLocal(
        p.select(col("id"), col("vec").cast("array<double>").as("vec"),
          col("rel")), k, lam, mu)
    }
    val sims = p.as("x").join(p.as("y"), col("x.id") =!= col("y.id"))
      .select(col("x.id").as("xi"), col("y.id").as("yi"),
        vecCosine(col("x.vec"), col("y.vec")).as("sim"))
      .localCheckpoint(true) // ≤ |pool|² rows, read by every step
    var selected: DataFrame = null
    for (i <- 1 to k) {
      val remaining =
        if (selected == null) p
        else p.join(selected.select(col("id").as("sid")),
          col("id") === col("sid"), "left_anti")
      val withMs =
        if (selected == null)
          remaining.select(col("id"), col("rel"), lit(0.0).as("ms"))
        else remaining
          .join(sims
              .join(selected.select(col("id").as("sel")),
                sims("yi") === col("sel"))
              .select(col("xi"), col("sim")),
            col("id") === col("xi"), "left")
          .groupBy(col("id"), col("rel"))
          .agg(coalesce(max(col("sim")), lit(0.0)).as("ms"))
      val pick = withMs
        .select(col("id"), col("rel"),
          (lit(lam) * col("rel") - lit(mu) * col("ms")).as("mmr"))
        .orderBy(col("mmr").desc, col("id")).limit(1)
        .select(lit(i.toLong).as("rank"), col("id"), col("rel"), col("mmr"))
      selected =
        if (selected == null) pick else selected.unionByName(pick)
    }
    selected
  }

  /** Mutual k-NN graph: the symmetric core of the k-NN digraph — edge
    * (a, b) iff b is among a's k nearest AND a is among b's (cosine,
    * ties to the smaller id, the [[graft.plans.TopKByScore]] rule).
    * Mutuality is the standard asymmetry filter before density
    * clustering and manifold methods (HDBSCAN's mutual-reachability
    * neighborhoods, UMAP's fuzzy-union base graph): hub vectors sit in
    * thousands of k-NN lists but reciprocate only their true peers.
    *
    * Scale shape: one [[knnJoinExact]] pass (self-join form) produces
    * the ≤ k-per-node directed lists, checkpointed once; mutuality is a
    * single uniform (probe, id)-pair-keyed self-join over those O(n·k)
    * rows — never over vectors. At corpus scale the exact pass swaps
    * for [[knnJoinIvf]] with the same downstream join.
    *
    * Returns (id_a, id_b, cosine) with id_a < id_b, one row per mutual
    * pair. */
  /** Hard-negative mining for contrastive/retrieval training: for each
    * anchor, the k pool vectors MOST similar to it that carry a
    * DIFFERENT label — the near-boundary negatives that sharpen a
    * bi-encoder, versus the uninformative random negatives of
    * `ops.Sampling.ringNegatives`. Same execution shape as
    * [[knnJoinExact]]: anchors broadcast, per-pool-partition scoring,
    * the k-bounded [[graft.plans.TopKByScore]] heap — only k rows per
    * anchor per partition cross the shuffle, ties (score desc, id asc).
    * At corpus scale compose with the IVF route exactly as `knnIvf`
    * does for plain kNN; the label filter rides the scan stage either
    * way. Output: (anchor_id, neg_id, cosine 4-dec, rk 1..k). */
  def hardNegatives(
      anchors: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    import graft.plans.TopKByScore.topkByScore
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("av"), col(labelCol).as("al")))
    // pair work rides the corpus side's split count — spread it (identity
    // at production split counts; see knnJoinExact)
    graft.ops.Spread.toSessionParallelism(
        corpus.select(col(idCol).as("id"), col(vecCol).as("cv"),
          col(labelCol).as("cl")), "id")
      .crossJoin(a)
      .filter(col("cl") =!= col("al"))
      .withColumn("cos", vecCosine(col("cv"), col("av")))
      .groupBy(col("anchor_id"))
      .agg(topkByScore(col("cos"), col("id"), k).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("anchor_id"),
        col("t").getField("id").as("neg_id"),
        round(col("t").getField("score"), 4).as("cosine"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** IVF-bucketed hard-negative mining — the scale form of
    * [[hardNegatives]] (the sf1 audit measured the brute-force
    * anchors×corpus form at 35× wall for 10× data: both sides grow with
    * the corpus, so the cross product is quadratic). Here each anchor
    * scores only the vectors in its `nprobe` nearest IVF cells: work is
    * |anchors| · nprobe/nlist · |corpus| — an nlist/nprobe-fold
    * reduction over brute force at any corpus size, with both sides
    * shuffled on the cell id (the partition-local join shape). At FIXED
    * nlist the cross product is still quadratic, just nlist/nprobe-fold
    * cheaper (sf1, nlist=16/nprobe=4: 16.6× wall at 10× data vs the
    * brute-force 35×); production sizes nlist ∝ corpus/target-cell-size,
    * making per-anchor work O(nprobe · cell) = O(1) and the total
    * linear. Mining quality is the usual IVF trade: negatives outside
    * the probed cells are missed; recall is measured the q_ann_recall
    * way. `corpus` supplies the labels for the index's assigned vectors
    * (the index itself stores only id/vector/cell). */
  def hardNegativesIvf(
      anchors: DataFrame,
      corpus: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      labelCol: String,
      nprobe: Int,
      k: Int): DataFrame = {
    import graft.plans.TopKByScore.topkByScore
    // per-cell pair work rides the assigned (stream) side's split count —
    // a localCheckpointed local index is ONE partition; spread it (identity
    // at production split counts; see knnJoinExact)
    val labeled = graft.ops.Spread.toSessionParallelism(index.assigned, "id")
      .join(corpus.select(col(idCol).as("id"), col(labelCol).as("cl")), "id")
    val acells = anchors.select(col(idCol).as("anchor_id"),
        col(vecCol).as("av"), col(labelCol).as("al"))
      .withColumn("cid",
        explode(nearestCentroids(col("av"), index.centroids, nprobe)))
    acells.join(labeled, Seq("cid"))
      .filter(col("cl") =!= col("al"))
      .withColumn("cos", vecCosine(col("v"), col("av")))
      .groupBy(col("anchor_id"))
      .agg(topkByScore(col("cos"), col("id"), k).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("anchor_id"),
        col("t").getField("id").as("neg_id"),
        round(col("t").getField("score"), 4).as("cosine"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  def mutualKnn(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val knn = knnJoinExact(df, df, idCol, vecCol, k)
      .localCheckpoint(true)
    knn.as("r1").join(knn.as("r2"),
        col("r1.probe_id") === col("r2.id")
          && col("r1.id") === col("r2.probe_id")
          && col("r1.probe_id") < col("r1.id"))
      .select(col("r1.probe_id").as("id_a"), col("r1.id").as("id_b"),
        col("r1.cosine").as("cosine"))
  }

  /** k-NN label propagation: classify every unlabeled vector by majority
    * vote of its k nearest LABELED neighbors (cosine) — the
    * semi-supervised step that spreads a small seed of human/classifier
    * labels (quality tiers, topics, licenses) across a whole corpus.
    *
    * Scale shape (the mirror of [[knnJoinExact]]): here the LABELED seed
    * set is the small side, so it broadcasts and the unlabeled corpus is
    * only scanned — and since every (unlabeled × labeled) pair is produced
    * inside the unlabeled row's own partition, the per-id TopKByScore heap
    * collapses map-side; the one shuffle carries ≤ k rows per unlabeled
    * vector. Vote ties break by (votes, best cosine, label) — fully
    * deterministic, so the whole path has a relational oracle.
    * Neighbor-rank ties → smaller neighbor id (the TopKByScore rule). */
  def knnClassify(
      unlabeled: DataFrame,
      labeled: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    import graft.plans.TopKByScore.topkByScore
    val l = broadcast(labeled.select(
      col(idCol).as("lid"), col(vecCol).as("lv"),
      col(labelCol).cast("string").as("label")))
    // pair work rides the unlabeled (stream) side's split count — spread it
    // (identity at production split counts; see knnJoinExact)
    val top = graft.ops.Spread.toSessionParallelism(
        unlabeled.select(col(idCol).as("id"), col(vecCol).as("v")), "id")
      .crossJoin(l.select(col("lid"), col("lv")))
      .withColumn("cos", vecCosine(col("v"), col("lv")))
      .groupBy(col("id"))
      .agg(topkByScore(col("cos"), col("lid"), k).as("top"))
      .select(col("id"), explode(col("top")).as("t"))
      .select(col("id"), col("t").getField("id").as("lid"),
        col("t").getField("score").as("cos"))
      .join(l.select(col("lid"), col("label")), "lid")
    top.groupBy(col("id"), col("label"))
      .agg(count(lit(1)).as("votes"), max(col("cos")).as("best_cos"))
      .groupBy(col("id"))
      .agg(min(struct((-col("votes")).as("nv"), (-col("best_cos")).as("nc"),
        col("label"))).as("w"))
      .select(col("id"),
        col("w.label").as("label"),
        (-col("w.nv")).cast("long").as("votes"),
        round(-col("w.nc"), 4).as("best_cos"))
  }

  /** IVF-bucketed k-NN classification — the scale form of [[knnClassify]]
    * for when the labeled seed set is too big to broadcast or the
    * unlabeled corpus×seed cross product is the bottleneck (the sf1
    * audit read the brute-force form at 79× wall for 10× data: both
    * sides grew). Composition: [[knnJoinIvf]] against an index built
    * over the LABELED set, then the identical majority-vote tail
    * ((-votes, -best_cos, label) lexicographic pick). Same fixed-nlist
    * caveat as [[hardNegativesIvf]]: production sizes nlist ∝ seed-set
    * for O(1) per-probe work. */
  def knnClassifyIvf(
      unlabeled: DataFrame,
      labeled: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      labelCol: String,
      nprobe: Int,
      k: Int): DataFrame = {
    val lbl = labeled.select(col(idCol).as("lid"),
      col(labelCol).cast("string").as("label"))
    val top = knnJoinIvf(unlabeled, index, idCol, vecCol, nprobe, k)
      .select(col("probe_id").as("id"), col("id").as("lid"),
        col("cosine").as("cos"))
      .join(lbl, "lid")
    top.groupBy(col("id"), col("label"))
      .agg(count(lit(1)).as("votes"), max(col("cos")).as("best_cos"))
      .groupBy(col("id"))
      .agg(min(struct((-col("votes")).as("nv"), (-col("best_cos")).as("nc"),
        col("label"))).as("w"))
      .select(col("id"),
        col("w.label").as("label"),
        (-col("w.nv")).cast("long").as("votes"),
        round(-col("w.nc"), 4).as("best_cos"))
  }

  /** IVF-blocked approximate k-NN join for BIG probe sets (big-big case):
    * each probe explodes to its `nprobe` nearest cells via ONE
    * constant-plan-size NearestCentroids expression (no driver round-trip,
    * no per-centroid literals); candidates are the corpus vectors assigned
    * to those cells, so the join shuffles on `cid` — bounded cells, never
    * all pairs. A corpus vector lives in exactly one cell, so candidates
    * are duplicate-free by construction. Recall follows the usual IVF
    * nprobe/nlist tradeoff; results are fully deterministic (same tie
    * rules as [[ivfTopK]]), so the whole path is oracle-replicable. */
  def knnJoinIvf(
      probes: DataFrame,
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      k: Int): DataFrame = {
    import graft.plans.TopKByScore.topkByScore
    val pcells = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      .withColumn("cid",
        explode(nearestCentroids(col("pv"), index.centroids, nprobe)))
    // per-cell pair work rides the assigned (stream) side's split count —
    // a localCheckpointed local index is ONE partition; spread it (identity
    // at production split counts; see knnJoinExact)
    pcells.join(
        graft.ops.Spread.toSessionParallelism(index.assigned, "id"), Seq("cid"))
      .filter(col("id") =!= col("probe_id"))
      .withColumn("cos", vecCosine(col("v"), col("pv")))
      .groupBy(col("probe_id"))
      .agg(topkByScore(col("cos"), col("id"), k).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"),
        col("t").getField("id").as("id"),
        round(col("t").getField("score"), 4).as("cosine"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** Fetch a query vector (single row, scalar parameter) as doubles. */
  def queryVector(spark: SparkSession, df: DataFrame, idCol: String, id: Long, vecCol: String): Seq[Double] =
    df.filter(col(idCol) === id)
      .select(transform(col(vecCol), _.cast("double")))
      .head().getSeq[Double](0)
}
