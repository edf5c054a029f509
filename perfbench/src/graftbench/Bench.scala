package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload: generate inputs, wire graft up, run untimed once with
  * its output checked against an independent reference, then measure. */
trait Workload {
  def name: String
  /** Write the inputs under `dir` from `seed` and keep the ground truth. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit
  /** Input sizes and rates for the run notes. */
  def notes: Seq[(String, Any)]
  /** Workload-specific set-up beyond the session (endpoints, stores,
    * streams); part of the timed set-up. */
  def wire(spark: SparkSession): Unit = ()
  def unwire(): Unit = ()
  /** Untimed run with full output checks; returns the failures found. */
  def warmup(spark: SparkSession): Seq[String]
  /** Run operations into `ops` until `seconds` have passed and at least
    * the workload's minimum count has run. */
  def measure(spark: SparkSession, ops: Ops, seconds: Double): Unit
  /** The two gated time metrics from the untraced operations. */
  def throughputPerS(ops: Ops): Double
  def opP50(ops: Ops): Double
  /** The operation kind whose traced and untraced medians give the
    * tracing overhead. */
  def overheadKind: String
  /** How many traced operations a layer's totals are divided by. */
  def perOp(layer: String, ops: Ops): Double
  /** Values of [[Runner.Extras]] this workload observes (traced run). */
  def layerExtras(ops: Ops): Map[String, Double] = Map.empty
}

/** The operations of one measurement window, timed per kind.
  *
  * In a traced run half the operations of each kind run under the tracer,
  * its listeners attached only for that operation; the others run exactly
  * as in an untraced run. The first operation of a kind runs untraced and
  * is left out of the overhead; after it, traced (T) and untraced (U) ones
  * follow T U U T T U U T ..., which cancels a steady drift such as the
  * JIT's warm-up. Traced and untraced operations so share the JVM's warmth
  * and the host's speed, and the ratio of their medians is the tracing
  * overhead. The gated metrics use untraced operations only. */
final class Ops(spark: SparkSession, val tracer: Option[Tracer]) {
  private val off = new Tracer(false)
  private val plain = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val traced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val seen = mutable.HashMap.empty[String, Long]
  private var nextOp = 0L
  var attempted, failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One operation of `kind`: `body` gets the operation's id and the
    * tracer to use, and returns how long the operation took in ms (it
    * may time from before it started, as an open loop does). */
  def run[T](kind: String)(body: (Long, Tracer) => (T, Double)): T = {
    val n = seen.getOrElse(kind, 0L)
    seen(kind) = n + 1
    nextOp += 1
    val tr = tracer.filter(_ => n > 0 && ((n - 1) % 4 == 0 || (n - 1) % 4 == 3))
    tr.foreach(_.attach(spark))
    val (out, ms) = try body(nextOp, tr.getOrElse(off)) finally tr.foreach(_.detach())
    add(kind, ms, tr.isDefined)
    attempted += 1
    out
  }

  /** Time a step inside an operation as its own kind, traced or not as
    * the operation is. */
  def add(kind: String, ms: Double, isTraced: Boolean): Unit =
    (if (isTraced) traced else plain).getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def fail(what: String): Unit = { failed += 1; failures += what }

  def ms(kind: String): Seq[Double] = plain.get(kind).map(_.toSeq).getOrElse(Nil)
  def tracedMs(kind: String): Seq[Double] = traced.get(kind).map(_.toSeq).getOrElse(Nil)
  def kinds: Seq[String] = plain.keys.toSeq
  def p50(kind: String): Double = Bench.quantile(ms(kind), 0.5)
  /** Traced over untraced median of `kind`, as a percentage above 1. */
  def overheadPct(kind: String): Double =
    (Bench.quantile(tracedMs(kind), 0.5) / Bench.quantile(ms(kind).drop(1), 0.5) - 1.0) * 100.0
  /** Operations of `kind` that ran traced. */
  def tracedCount(kind: String): Int = tracedMs(kind).size

  /** Every sample by kind, rounded to 0.1 ms, for the run notes. */
  def dump: Map[String, Any] =
    (plain.map { case (k, v) => k -> v.map(x => math.round(x * 10) / 10.0).toSeq } ++
      traced.map { case (k, v) => s"traced $k" -> v.map(x => math.round(x * 10) / 10.0).toSeq }).toMap
}

object Bench {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session exactly as `graft.Bench` builds it. */
  def session(): SparkSession = {
    val s = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.GraftSession.install(s)
  }

  /** Drop persisted and checkpointed blocks between repetitions, as
    * `graft.Bench.timeOnce` does. */
  def dropPersisted(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Order-independent fingerprint of a result: row count and the sum
    * of row hashes (top 40 bits), doubles rounded to 10 decimals. */
  def signature(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType) round(col(f.name), 10)
      else col(f.name)
    }
    val r = df.agg(count(lit(1)), coalesce(sum(shiftright(xxhash64(cols: _*), 24)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  val heapSamples = mutable.ArrayBuffer.empty[Double]
  def heapPeakMb: Double = heapSamples.max

  /** Record the old generation's occupancy after full collections, in
    * MiB: called after set-up and by each workload while its largest
    * outputs are still referenced. Two collections a moment apart let
    * Spark's cleaner drop the blocks of objects the first one freed. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapSamples += ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
        p.getName.toLowerCase.contains("old"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024.0 * 1024.0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def workload(name: String): Workload = name match {
    case "curate" => new Curate(nDocs = 1500)
    case "graph" => new GraphWorkload(nNodes = 24000, extraPerNode = 2.5)
    case "esb" => new Esb(nOrders = 600, ratePerS = 12.0, malformedShare = 0.0)
    // not gated: graft lets malformed JSON orders through (see README)
    case "esb-malformed" => new Esb(nOrders = 600, ratePerS = 12.0, malformedShare = 0.05)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workload(opts("workload"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", s".bench_build/work/${wl.name}"))
    val out = Runner.run(wl, seed, seconds, trace, work)
    println(out)
    System.exit(0)
  }
}
