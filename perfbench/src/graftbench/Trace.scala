package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans recorded around the benchmark's own calls into graft, with Spark
  * job, task and planning counters attributed to them.
  *
  * A span is `<layer>.<function>` (or `bench.<what>` for grouping spans
  * that belong to no layer), with start, end, parent and the id of the
  * operation it serves. Everything stays in memory until [[dump]].
  *
  * Attribution of a Spark job to a span, first rule that applies:
  *   1. the job carries the `graftbench.span` local property: it was
  *      submitted by a call on a thread that opened a span;
  *   2. the innermost open span whose time window holds the job's start
  *      (jobs on threads the benchmark does not own: the HTTP server's
  *      while one request is in flight, a streaming query's during a
  *      drain).
  * The listeners are attached only while a traced operation runs.
  * Planning time comes from `QueryExecutionListener` phases and is
  * attributed by rule 2 on the phase start. */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private var nextId = 0L
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)] // (start, ms)
  private var spark: SparkSession = _

  /** Run `body` inside a span; a plain call when tracing is off. */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val stack = current.get
      val s = synchronized {
        nextId += 1
        val sp = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
          if (op >= 0) op else stack.headOption.map(_.op).getOrElse(-1L),
          Thread.currentThread().getName, nowMs)
        spans += sp
        sp
      }
      current.set(s :: stack)
      val sc = Option(spark).map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(SpanProp))
      sc.foreach(_.setLocalProperty(SpanProp, s.id.toString))
      try body
      finally {
        s.end = nowMs
        current.set(stack)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp.orNull))
      }
    }

  /** Attach the listeners to a session for one operation. Events still
    * queued from earlier, untraced work are delivered first. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) {
      org.apache.spark.graftbench.Bus.drain(s.sparkContext)
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(planListener)
    }
  }

  /** Detach after every event of the operation has been delivered. */
  def detach(): Unit = if (spark != null) {
    if (on) {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(planListener)
    }
    spark = null
  }

  private def innermostAt(t: Double): Option[Span] = synchronized {
    spans.iterator.filter(s => s.start <= t && (s.end.isNaN || s.end >= t) && s.layer != "bench")
      .maxByOption(_.start)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val sid = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .orElse(innermostAt(e.time.toDouble).map(_.id))
      Tracer.this.synchronized {
        val j = Job(sid.getOrElse(0L), e.time.toDouble)
        jobs(e.jobId) = j
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1e6
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) {
        val start = ph.map(_.startTimeMs).min.toDouble
        Tracer.this.synchronized { plans += ((start, ph.map(_.durationMs).sum.toDouble)) }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Per-layer totals over every span recorded so far. */
  def layerStats(): Map[String, LayerStats] = {
    val got = aggregate(s => Some(s.layer).filter(Layers.contains))
    Layers.map(l => l -> got.getOrElse(l, new LayerStats)).toMap
  }

  /** Totals over the finished spans `key` maps to a group. */
  def aggregate(key: Span => Option[String]): Map[String, LayerStats] = synchronized {
    val byParent = spans.groupBy(_.parent)
    val jobsBySpan = jobs.values.groupBy(_.span)
    val planBySpan = plans.toSeq.flatMap { case (t, ms) => innermostAt(t).map(_.id -> ms) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = mutable.HashMap.empty[String, LayerStats]
    spans.filter(!_.end.isNaN).foreach { s =>
      key(s).foreach { k =>
        val st = out.getOrElseUpdate(k, new LayerStats)
        val selfIv = subtract(Seq((s.start, s.end)),
          byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
        val js = jobsBySpan.getOrElse(s.id, Nil)
        st.calls += 1
        st.selfMs += length(selfIv)
        st.driverMs += length(subtract(selfIv,
          js.map(j => (j.start, if (j.end.isNaN) s.end else j.end)).toSeq))
        st.planMs += planBySpan.getOrElse(s.id, 0.0)
        js.foreach { j =>
          st.jobs += 1; st.tasks += j.tasks; st.runMs += j.runMs; st.cpuMs += j.cpuMs
          st.gcMs += j.gcMs; st.shuffleWrite += j.shuffleWrite; st.spill += j.spill
          st.inputRecords += j.inputRecords
        }
      }
    }
    out.toMap
  }

  /** Every span as one JSON object per line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toSeq).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "thread" -> s.thread, "start_ms" -> s.start, "end_ms" -> s.end))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  /** graft's top-level packages the workloads call into, in the order
    * metrics are printed. */
  val Layers: Seq[String] =
    Seq("functions", "dedup", "sim", "ops", "graph", "api", "net", "store", "streaming")

  final case class Span(id: Long, name: String, parent: Long, op: Long,
      thread: String, start: Double) {
    var end: Double = Double.NaN
    def layer: String = name.takeWhile(_ != '.')
  }

  final case class Job(span: Long, start: Double) {
    var end: Double = Double.NaN
    var tasks, shuffleWrite, spill, inputRecords = 0L
    var runMs, cpuMs, gcMs = 0.0
  }

  final class LayerStats {
    var calls, jobs, tasks, shuffleWrite, spill, inputRecords = 0L
    var selfMs, driverMs, planMs, runMs, cpuMs, gcMs = 0.0
    def metrics: Seq[(String, Double, String)] = Seq(
      ("calls", calls.toDouble, "count"), ("self_ms", selfMs, "ms"),
      ("jobs", jobs.toDouble, "count"), ("tasks", tasks.toDouble, "count"),
      ("driver_ms", driverMs, "ms"), ("plan_ms", planMs, "ms"),
      ("exec_run_ms", runMs, "ms"), ("exec_cpu_ms", cpuMs, "ms"), ("gc_ms", gcMs, "ms"),
      ("shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      ("spill_bytes", spill.toDouble, "bytes"),
      ("input_records", inputRecords.toDouble, "count"))
  }

  /** Sorted, disjoint union of intervals. */
  private def union(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  /** `base` minus the union of `cut`. */
  def subtract(base: Seq[(Double, Double)], cut: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val cs = union(cut)
    union(base).flatMap { case (s, e) =>
      val (last, acc) = cs.foldLeft((s, Vector.empty[(Double, Double)])) {
        case ((from, out), (cs0, ce)) =>
          if (ce <= from || cs0 >= e) (from, out)
          else (math.max(from, ce), if (cs0 > from) out :+ ((from, math.min(cs0, e))) else out)
      }
      if (last < e) acc :+ ((last, e)) else acc
    }
  }

  def length(iv: Seq[(Double, Double)]): Double = iv.map(i => i._2 - i._1).sum
}
