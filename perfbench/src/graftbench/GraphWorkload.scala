package graftbench

import graft.examples.GraphCurationExample
import graft.graph.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Path

/** `graph`: `GraphCurationExample.curate` (components, hop distance from
  * seeds, label propagation, k-core) and `Graph.pageRank` over a seeded
  * graph of skewed degrees and several bounded-diameter components. One
  * operation is one pass: both results computed and materialized. */
final class GraphWorkload(nNodes: Int, extraPerNode: Double) extends Workload {
  val name = "graph"
  val K = 3
  val MaxHops = 6
  val LabelIters = 5
  val PrIters = 10
  private var dir: Path = _
  private var truth: Gen.GraphTruth = _
  private var expected: Option[((Long, Long), (Long, Long))] = None
  private var localSolveCap = 0L

  def generate(spark: SparkSession, d: Path, seed: Long): Unit = {
    dir = d
    truth = Gen.graph(d, seed, nNodes, extraPerNode)
    // graft's LocalSolve gate (default 4,194,304 edge rows)
    localSolveCap = spark.conf.getOption("spark.graft.graph.localSolveEdges")
      .map(_.toLong).getOrElse(1L << 22)
  }

  private def directedEdges: Long = 2L * truth.edges.length

  def notes: Seq[(String, Any)] = Seq("nodes" -> truth.nodes.length,
    "edge_rows" -> directedEdges, "edge_files" -> 8, "seeds" -> truth.seeds.length,
    "components" -> truth.component.values.toSet.size,
    "localsolve_edge_cap" -> localSolveCap,
    // connected components doubles the edge rows before the gate
    "below_localsolve_cap" -> (2 * directedEdges <= localSolveCap))

  private def pass(spark: SparkSession, tr: Tracer, op: Long): (DataFrame, DataFrame) = {
    def read(t: String) = spark.read.parquet(dir.resolve(t).toString)
    val (nodes, edges, seeds) = (read("nodes"), read("edges"), read("seeds"))
    val curated = tr.span("graph.curate", op) {
      GraphCurationExample.curate(nodes, edges, seeds, K, MaxHops, LabelIters)
        .localCheckpoint(true)
    }
    tr.span("graph.report", op)(GraphCurationExample.report(curated))
    val pr = tr.span("graph.pageRank", op)(Graph.pageRank(edges, PrIters).localCheckpoint(true))
    (curated, pr)
  }

  private def sig(p: (DataFrame, DataFrame)) =
    (Bench.signature(p._1), Bench.signature(p._2))

  /** The curated table and the ranks of one pass, collected. */
  private def outputs(p: (DataFrame, DataFrame)): (Seq[Checks.GraphRow], Map[Long, Double]) = {
    val rows = p._1.collect().toSeq.map { r =>
      Checks.GraphRow(r.getAs[Long]("id"), r.getAs[Long]("component"),
        Option(r.getAs[java.lang.Long]("hops")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("label")).map(_.longValue),
        r.getAs[Boolean]("in_core"))
    }
    (rows, p._2.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
  }

  def check(rows: Seq[Checks.GraphRow], pr: Map[Long, Double], t: Gen.GraphTruth = truth): Seq[String] =
    Checks.graph(t, rows, pr, K, MaxHops, LabelIters, PrIters, tol = 1e-9)

  def warmup(spark: SparkSession): Seq[String] = {
    val tr = new Tracer(false)
    val p = pass(spark, tr, 0L)
    expected = Some(sig(p))
    Bench.sampleHeap()
    val (rows, pr) = outputs(p)
    val f = check(rows, pr)
    // the second pass still compiles much of the fixpoint code: run it
    // untimed too
    Bench.dropPersisted(spark)
    if (!expected.contains(sig(pass(spark, tr, 0L)))) f :+ "second warm-up pass differs" else f
  }

  /** A checked pass for the benchmark's own tests. */
  def checkedPass(spark: SparkSession): (Gen.GraphTruth, Seq[Checks.GraphRow], Map[Long, Double]) = {
    val (rows, pr) = outputs(pass(spark, new Tracer(false), 0L))
    (truth, rows, pr)
  }

  def measure(spark: SparkSession, ops: Ops, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    while (passes < 3 || System.nanoTime() < deadline) {
      passes += 1
      val p = ops.run("pass") { (op, tr) =>
        val t0 = System.nanoTime()
        val p = tr.span("bench.pass", op)(pass(spark, tr, op))
        (p, (System.nanoTime() - t0) / 1e6)
      }
      if (!expected.contains(sig(p)))
        ops.fail(s"pass $passes: graph results differ from the checked pass")
      Bench.dropPersisted(spark)
    }
  }

  def throughputPerS(ops: Ops): Double = directedEdges / (ops.p50("pass") / 1000.0)
  def opP50(ops: Ops): Double = ops.p50("pass")
  val overheadKind = "pass"
  def perOp(layer: String, ops: Ops): Double = ops.tracedCount("pass")
}
