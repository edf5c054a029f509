package graftbench

import graft.dedup.Dedup
import graft.functions.TextFunctions._
import graft.ops.{Curation, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** `curate`: LLM-data curation over a seeded multi-language corpus, the
  * `CurationPipeline`/`PretrainPipeline` stages chained from their public
  * calls, every stage materialized at its boundary. One operation is one
  * pass from the input parquet files to the curated output; each stage of
  * a pass is timed too.
  *
  * `throughput_per_s` is input docs over the median pass; `op_ms_p50` is
  * the median stage: each stage's median over the passes, then the median
  * of those. The first follows the whole pass, dominated by its costliest
  * stages (span and semantic dedup); the second follows the typical stage. */
final class Curate(nDocs: Int) extends Workload {
  val name = "curate"
  private var dir: Path = _
  private var truth: Gen.CorpusTruth = _
  private var expected: Option[(Long, Long)] = None
  private var lshCandidates, lshHits = 0L
  /** Passes measured at least, however short the window; a traced run
    * runs two more, for two traced and two untraced ones after its first
    * (see [[Ops]]). */
  val MinPasses = 3

  val NearThreshold = 0.8
  val SemThreshold = 0.97
  /** Planted near-duplicate pairs (two words edited) that must land in
    * one cluster, and planted near-duplicate vectors semDedup must drop. */
  val NearRecallFloor = 0.8
  val SemRecallFloor = 0.8

  def generate(spark: SparkSession, d: Path, seed: Long): Unit = {
    dir = d
    truth = Gen.corpus(d, seed, nDocs)
  }

  def notes: Seq[(String, Any)] = Seq("docs" -> nDocs, "doc_files" -> Gen.DocFiles,
    "embedding_files" -> 8, "exact_dups" -> truth.exactDupOf.size,
    "near_dups" -> truth.nearDupOf.size, "vector_dups" -> truth.vecDupOf.size)

  final case class Pass(filtered: DataFrame, exact: DataFrame, pairs: DataFrame,
      near: DataFrame, semIn: DataFrame, semOut: DataFrame, out: DataFrame)

  /** One pass; `timed` gets each stage's name and milliseconds. */
  private def pass(spark: SparkSession, tr: Tracer, op: Long,
      timed: (String, Double) => Unit = (_, _) => ()): Pass = {
    def stage(fn: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = tr.span(fn, op)(df.localCheckpoint(true))
      timed(fn, (System.nanoTime() - t0) / 1e6)
      out
    }
    val filtered = stage("functions.normalize_langId_quality_gopher") {
      val docs = spark.read.parquet(dir.resolve("docs").toString)
      val scored = docs
        .withColumn("text", normalizeText(col("text")))
        .filter(length(col("text")) > 0)
        .withColumn("lang_pred", langId(col("text"), defaultMarkers))
        .filter(col("lang_pred").isin(Gen.Langs: _*))
        .withColumn("quality", qualityScore(col("text")))
        .filter(col("quality") >= 0.3)
      scored.select((col("*") +: gopherStats(col("text"), minWords = 5)): _*)
        .filter(col("gopher_pass") === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
    }
    val exact = stage("dedup.exact") {
      filtered.join(Dedup.exact(filtered, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), "doc_id")
    }
    val pairs = stage("dedup.minhashLsh")(Dedup.minhashLsh(exact, "doc_id", "text"))
    // Dedup.clusters is dedup's wrapper over graph.Graph's connected
    // components fixpoint: its cost is the graph layer's, traced as `graph`
    val near = stage("graph.clusters") {
      val clusters = Dedup.clusters(exact.select(col("doc_id").as("id")),
        pairs.filter(col("est_jaccard") >= NearThreshold))
      exact.join(clusters.filter(col("id") === col("cluster"))
        .select(col("id").as("doc_id")), "doc_id")
    }
    val lined = stage("dedup.lineDedup") {
      val lines = filter(split(col("text"), "\\.\\s+"), l => length(trim(l)) > 0)
      val d = near.select(col("doc_id"), lines.as("lines"))
      Dedup.lineDedup(d, "doc_id", col("lines"))
        .join(near.select(col("doc_id"), col("source")), "doc_id")
        .withColumnRenamed("clean_text", "text")
        .filter(length(col("text")) > 0)
    }
    val spanCut = stage("dedup.substringSpanDedup") {
      Dedup.substringSpanDedup(lined, "doc_id", "text", k = 8)
        .withColumnRenamed("clean_text", "text")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
        .join(lined.select(col("doc_id"), col("source")), "doc_id")
    }
    val profiled = stage("dedup.duplicatedNgramProfile") {
      val profile = Dedup.duplicatedNgramProfile(spanCut, "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("dup_frac"))
      spanCut.join(profile, "doc_id").filter(col("dup_frac") < 0.5)
    }
    val gated = stage("ops.sourceQualityGate") {
      Curation.sourceQualityGate(profiled, "source",
        floor(qualityScore(col("text")) * 10000 + lit(0.5)) / 10000,
        minMean = 0.6, minDocs = 2)
    }
    val semIn = spark.read.parquet(dir.resolve("embeddings").toString)
      .join(gated.select(col("doc_id").as("vec_id")), "vec_id")
    // semDedup is dedup's wrapper over sim.Ann's IVF build and blocked
    // vector pair join: its cost is similarity search, traced as `sim`
    val semOut = stage("sim.semDedup") {
      Dedup.semDedup(semIn, "vec_id", "embedding", nlist = 0, threshold = SemThreshold)
    }
    val out = stage("ops.hashSample") {
      Sampling.hashSample(gated.join(semOut.select(col("id").as("doc_id")), "doc_id"),
        "doc_id", 224)
    }
    Pass(filtered, exact, pairs, near, semIn, semOut, out)
  }

  def warmup(spark: SparkSession): Seq[String] = {
    val p = pass(spark, new Tracer(false), 0L)
    expected = Some(Bench.signature(p.out))
    Bench.sampleHeap()
    check(p)
  }

  /** Stage outputs of one pass, collected for the reference checks. */
  def outputs(p: Pass): Checks.CurateOut = {
    def ids(df: DataFrame, c: String): Set[Long] = df.select(c).collect().map(_.getLong(0)).toSet
    Checks.CurateOut(
      p.filtered.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq,
      ids(p.exact, "doc_id"), ids(p.near, "doc_id"), ids(p.semIn, "vec_id"),
      ids(p.semOut, "id"), ids(p.out, "doc_id"))
  }

  def check(p: Pass): Seq[String] =
    Checks.curate(truth, outputs(p), NearRecallFloor, SemRecallFloor)

  /** A checked pass for the benchmark's own tests. */
  def checkedPass(spark: SparkSession): (Gen.CorpusTruth, Checks.CurateOut) =
    (truth, outputs(pass(spark, new Tracer(false), 0L)))

  def measure(spark: SparkSession, ops: Ops, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    val min = if (ops.tracer.isDefined) MinPasses + 2 else MinPasses
    while (passes < min || System.nanoTime() < deadline) {
      passes += 1
      val p = ops.run("pass") { (op, tr) =>
        val t0 = System.nanoTime()
        val p = tr.span("bench.pass", op)(pass(spark, tr, op,
          (fn, ms) => ops.add(s"stage $fn", ms, tr.on)))
        (p, (System.nanoTime() - t0) / 1e6)
      }
      if (!expected.contains(Bench.signature(p.out)))
        ops.fail(s"pass $passes: curated output differs from the checked pass")
      if (ops.tracer.isDefined) {
        lshCandidates += p.pairs.count()
        lshHits += p.pairs.filter(col("est_jaccard") >= NearThreshold).count()
      }
      Bench.dropPersisted(spark)
    }
  }

  def throughputPerS(ops: Ops): Double = nDocs / (ops.p50("pass") / 1000.0)

  def opP50(ops: Ops): Double =
    Bench.quantile(ops.kinds.filter(_.startsWith("stage ")).map(ops.p50), 0.5)

  val overheadKind = "pass"

  def perOp(layer: String, ops: Ops): Double = ops.tracedCount("pass")

  override def layerExtras(ops: Ops): Map[String, Double] = Map(
    "dedup.lsh_pair_yield" -> (if (lshCandidates == 0) 0.0 else lshHits.toDouble / lshCandidates))
}
