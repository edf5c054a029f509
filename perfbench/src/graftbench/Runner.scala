package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One benchmark run: generate, set up (timed, repeated), check, measure,
  * and render the result line. */
object Runner {
  /** Set-ups per run; the median is reported. The first builds the JVM's
    * first Spark session and is several times slower than the rest. */
  val SetupReps = 15

  /** Per-layer ratios and figures beside the layer totals, printed on
    * every workload (0 where the workload does not exercise them). */
  val Extras: Seq[(String, String)] = Seq(
    "dedup.lsh_pair_yield" -> "ratio", // LSH candidates at or above the threshold / candidates
    "store.rows_read_per_result" -> "ratio", // rows scanned by searches / rows returned
    "store.tasks_per_search" -> "count",
    "streaming.rows_per_batch" -> "count", // from StreamingQueryProgress
    "streaming.batch_ms_p50" -> "ms",
    "net.send_lag_ms_p90" -> "ms", // how late the open-loop generator sent
    "net.kept_alive_ms_p50" -> "ms", // requests over one kept-alive connection
    "trace.overhead_pct" -> "%") // traced vs untraced median of the workload's main operation

  def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path): String = {
    Bench.deleteTree(work)
    val input = work.resolve("input")
    Files.createDirectories(input)

    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    // the inputs are written on the first session, outside its timer:
    // generation is part of no metric
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      spark = Bench.session()
      val built = System.nanoTime() - t0
      if (i == 1) { wl.generate(spark, input, seed); phase("first_session_and_inputs_s") }
      val t1 = System.nanoTime()
      wl.wire(spark)
      val s = (built + System.nanoTime() - t1) / 1e9
      if (i < SetupReps) { wl.unwire(); spark.stop() }
      s
    }
    phase("setups_s")
    Bench.sampleHeap()
    val warmFails = wl.warmup(spark)
    Bench.dropPersisted(spark)
    phase("warmup_s")

    val tracer = if (trace) Some(new Tracer(true)) else None
    val ops = new Ops(spark, tracer)
    wl.measure(spark, ops, seconds)
    phase("measure_s")
    val metrics = tracer match {
      case None => Seq(
        ("setup_s", Bench.quantile(setups, 0.5), "s"),
        ("peak_heap_mb", Bench.heapPeakMb, "MB"),
        ("throughput_per_s", wl.throughputPerS(ops), "1/s"),
        ("op_ms_p50", wl.opP50(ops), "ms"))
      case Some(tr) =>
        tr.dump(work.resolve("spans.jsonl"))
        val layers = tr.layerStats()
        val perLayer = Tracer.Layers.flatMap { l =>
          val n = math.max(1.0, wl.perOp(l, ops))
          layers(l).metrics.map { case (k, v, u) => (s"$l.$k", v / n, s"$u/op") }
        }
        val extras = wl.layerExtras(ops) + ("trace.overhead_pct" -> ops.overheadPct(wl.overheadKind))
        perLayer ++ Extras.map { case (k, u) => (k, extras.getOrElse(k, 0.0), u) }
    }
    wl.unwire()
    spark.stop()
    phase("stop_s")

    val failures = warmFails ++ ops.failures
    failures.take(20).foreach(f => System.err.println(s"[graftbench] check failed: $f"))
    val attempted = 1L + ops.attempted
    val failed = (if (warmFails.nonEmpty) 1L else 0L) + ops.failed
    Files.write(work.resolve("notes.json"), Json.obj(Seq(
      "workload" -> wl.name, "seed" -> seed, "cores" -> Bench.cores,
      "phases" -> phases.toMap, "setup_reps_s" -> setups, "heap_samples_mb" -> Bench.heapSamples.toSeq,
      "op_ms" -> ops.dump, "inputs" -> wl.notes.toMap)).getBytes("UTF-8"))
    Json.obj(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
  }
}
