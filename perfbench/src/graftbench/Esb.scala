package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.examples.EsbExample
import graft.model.Msg
import graft.store.{MessageStore, Search}
import graft.streaming.FileWatcherChannel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.net.{InetSocketAddress, Socket}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `esb`: pypeman's own traffic, in two parts.
  *
  *  (a) Order POSTs to `HttpEndpoint` → `Channel`, one client thread on an
  *      evenly spaced open-loop schedule at `ratePerS`: first
  *      [[FreshRequests]] on a connection each, as independent senders
  *      make them, then [[KeptAliveRequests]] over one kept-alive
  *      connection. Each request is timed from when it was due; how late
  *      it was sent is kept too.
  *  (b) One closed-loop client repeating a cycle on a fresh store: the same
  *      orders in bulk through `EsbExample.runBatch` (channel → store →
  *      retry loop over the seeded flaky orders), state mutations, admin
  *      searches that read through the mutation log, then the orders as a
  *      backlog of files drained by a `FileWatcherChannel` under
  *      `Trigger.AvailableNow`.
  *
  * `malformedShare` of the orders are malformed JSON, which graft does
  * not reject yet (see the README); the gated `esb` sends none.
  *
  * (b) runs first, straight after the warm-up cycle, then (a).
  * `op_ms_p50` is (a)'s median over fresh connections; `throughput_per_s`
  * is orders over (b)'s median cycle. */
final class Esb(nOrders: Int, ratePerS: Double, malformedShare: Double) extends Workload {
  val name = if (malformedShare > 0) "esb-malformed" else "esb"
  val FreshRequests = 60
  val KeptAliveRequests = 12
  /** Cycles measured at least, however short the window. */
  val MinCycles = 3
  val WarmRequests = 20
  /** Backlog files per drain, one per micro-batch. */
  val StreamFiles = 2
  private var dir: Path = _
  private var orders: IndexedSeq[Gen.Order] = _
  private var http: EsbExample.Wiring = _
  private var bulk: EsbExample.Wiring = _
  private var requests: DataFrame = _
  private val mapper = new ObjectMapper()
  private var cycleNo = 0
  // traced-run observations
  private val lagMs = mutable.ArrayBuffer.empty[Double]
  private var searchRows = 0L
  private val batches = mutable.ArrayBuffer.empty[(Long, Double)] // (input rows, ms) per micro-batch
  private var tracer: Tracer = _

  def generate(spark: SparkSession, d: Path, seed: Long): Unit = {
    dir = d
    orders = Gen.orders(d, seed, nOrders, StreamFiles, malformedShare)
  }

  def notes: Seq[(String, Any)] = Seq("orders" -> nOrders, "order_files" -> 1,
    "stream_files" -> StreamFiles, "http_rate_per_s" -> ratePerS,
    "fresh_requests" -> FreshRequests, "kept_alive_requests" -> KeptAliveRequests,
    "valid" -> orders.count(_.valid), "rejects" -> orders.count(_.kind == "reject"),
    "malformed" -> orders.count(_.kind == "malformed"),
    "flaky_recovering" -> orders.count(_.flaky == 1),
    "flaky_exhausted" -> orders.count(_.flaky == 2))

  override def wire(spark: SparkSession): Unit = {
    http = EsbExample.build(spark, dir.resolve("http-store").toString)
    http.endpoint.start()
    val recover = orders.filter(_.flaky == 1).map(_.id)
    val exhaust = orders.filter(_.flaky == 2).map(_.id)
    bulk = EsbExample.build(spark, dir.resolve("bulk-store").toString,
      flakyWhile = col("payload.order_id").isin(recover: _*) && col("attempt") < 2 ||
        col("payload.order_id").isin(exhaust: _*))
    bulk.endpoint.stop()
  }

  override def unwire(): Unit = {
    if (http != null) http.endpoint.stop()
    http = null; bulk = null; requests = null
  }

  /** The bulk request log: one message per generated line, arrival time
    * one second apart in line order (the one small file is read as one
    * partition, so the row id is the line index). */
  private def requestLog(spark: SparkSession): DataFrame = {
    if (requests == null)
      requests = spark.read.text(dir.resolve("orders.jsonl").toString)
        .withColumn("line_no", monotonically_increasing_id())
        .select(col("value").as("payload"),
          md5(col("value")).as("uuid"),
          timestamp_seconds(lit(Esb.T0) + col("line_no")).as("ts"),
          lit("http_request").as("content_type"),
          map().cast("map<string,string>").as("meta"),
          lit(Msg.PENDING).as("state"),
          map().cast(Msg.ctxType).as("ctx"),
          lit(0L).as("attempt"))
    requests
  }

  def warmup(spark: SparkSession): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val ops = new Ops(spark, None)
    f ++= cycle(spark, ops, new Tracer(false), 0L, checkAll = true)
    Bench.sampleHeap()
    // a cycle takes ~7.5 s cold and ~5 s by the fourth: one more untimed
    // cycle puts the measured ones on the flatter part of that curve
    Bench.dropPersisted(spark)
    f ++= cycle(spark, ops, new Tracer(false), 0L, checkAll = false)
    // back-to-back requests until the request path is compiled, on fresh
    // and on kept-alive connections
    val ka = new Esb.KeptAlive(http.endpoint.actualPort)
    try (0 until WarmRequests).foreach { i =>
      val o = orders(i % orders.size)
      post(new Tracer(false), o, System.nanoTime(), ops, 0L,
        if (i % 2 == 0) Esb.post(http.endpoint.actualPort, _) else ka.post)
    } finally ka.close()
    f ++= ops.failures
    f.toSeq
  }

  /** One order POST through `send`, timed from `dueNs`. */
  private def post(tr: Tracer, o: Gen.Order, dueNs: Long, ops: Ops, op: Long,
      send: String => (Int, String)): Double = {
    val sendNs = System.nanoTime()
    try {
      val (status, body) = tr.span("net.post_order", op)(send(o.body))
      if (tr.on) lagMs += (sendNs - dueNs) / 1e6
      Checks.reply(o, status, body).foreach(ops.fail)
    } catch {
      case e: java.io.IOException => ops.fail(s"order ${o.id}: ${e.getClass.getSimpleName}")
    }
    (System.nanoTime() - dueNs) / 1e6
  }

  /** The admin searches of one cycle, by name; their expected pages are
    * [[Checks.esbPages]]. */
  private def queries(st: MessageStore): Seq[(String, () => Seq[String])] = {
    import Checks.EsbSearch._
    def listMsgs(params: String): () => Seq[String] = () => {
      val resp = bulk.admin.dispatch(
        s"""{"jsonrpc":"2.0","method":"list_msgs","params":$params,"id":1}""")
      mapper.readTree(resp).get("result").get("messages").elements().asScala
        .map(_.get("id").asText()).toSeq
    }
    def search(q: Search): () => Seq[String] = () =>
      st.search(q).select("uuid").collect().map(_.getString(0)).toSeq
    val (from, to) = lineRange(orders.size)
    Seq(
      ByLine -> listMsgs(s"""["orders",0,$Page,"-meta:line_total",null,null,null,null,null]"""),
      ByTimeRange -> listMsgs(
        s"""["orders",$Offset,$Page,"timestamp","${Esb.at(from)}","${Esb.at(to)}",null,null,null]"""),
      MetaRange -> search(Search(metaStart = Map("line_total" -> MetaLo),
        metaEnd = Map("line_total" -> MetaHi), orderBy = "-meta:line_total", count = Page)),
      MetaText -> search(Search(metaText = Map("line_total" -> MetaSub), count = Page)))
  }

  private lazy val pages: Map[String, Seq[String]] = Checks.esbPages(orders)

  /** Time `body` as a step of kind `kind` of the current operation. */
  private def step[T](ops: Ops, tr: Tracer, kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    ops.add(kind, (System.nanoTime() - t0) / 1e6, tr.on)
    out
  }

  /** One bulk cycle on a fresh store. `checkAll` adds the checks that cost
    * Spark jobs of their own: the store's state counts and the drained
    * sink against the same channel run in batch. Returns the failures. */
  private def cycle(spark: SparkSession, ops: Ops, tr: Tracer, op: Long,
      checkAll: Boolean): Seq[String] = {
    cycleNo += 1
    val f = mutable.ArrayBuffer.empty[String]
    def fail(e: String): Unit = f += s"cycle $cycleNo: $e"
    val st = new MessageStore(spark, dir.resolve(s"cycle-$cycleNo").toString)
    bulk.admin.bind("orders", st)
    val written = step(ops, tr, "write")(tr.span("store.runBatch", op)(
      EsbExample.runBatch(bulk.copy(store = st), requestLog(spark)).count()))
    if (written != orders.size) fail(s"stored $written of ${orders.size} orders")
    // operator actions: acknowledge an exhausted order, park a processed
    // one; the searches then read through the mutation log
    var states = orders.map(o => o.id -> Checks.expectedState(o)).toMap
    val flips = orders.filter(_.flaky == 2).take(1).map(_ -> Msg.PROCESSED) ++
      orders.filter(o => o.valid && o.flaky == 0).take(1).map(_ -> Msg.ERROR)
    flips.foreach { case (o, s) =>
      step(ops, tr, "mutate")(
        tr.span("store.changeMessageState", op)(st.changeMessageState(Esb.md5(o.body), s)))
      states += o.id -> s
    }
    queries(st).foreach { case (what, run) =>
      val got = step(ops, tr, "search")(
        tr.span(if (what.startsWith("list_msgs")) "api.list_msgs" else "store.search", op)(run()))
      if (tr.on) searchRows += got.size
      Checks.page(what, got, pages(what)).foreach(fail)
    }
    if (checkAll) {
      val got = st.all().groupBy("state").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Checks.states(got, states.values.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong })
        .foreach(fail)
    }
    val (sink, rows) = step(ops, tr, "drain")(drain(spark, tr, op))
    if (rows != orders.size) fail(s"the file channel read $rows of ${orders.size} orders")
    if (checkAll) {
      Checks.sink(Esb.sinkSignature(spark.read.parquet(sink.toString)),
        Esb.sinkSignature(http.channel.run(
          spark.read.schema(Esb.FileSchema).json(dir.resolve("stream").toString)).main)).foreach(fail)
    }
    f.toSeq
  }

  /** Drain the backlog of order files through a `FileWatcherChannel`
    * (the HTTP project's channel, parquet sink, one file per micro-batch,
    * `Trigger.AvailableNow`). The files are copied into a fresh watched
    * directory first, outside the timer. Returns the sink directory and
    * the rows read. */
  private def drain(spark: SparkSession, tr: Tracer, op: Long): (Path, Long) = {
    val base = dir.resolve(s"drain-$cycleNo")
    val watch = base.resolve("in")
    Files.createDirectories(watch)
    Files.list(dir.resolve("stream")).iterator().asScala.toSeq.sorted
      .foreach(f => Files.copy(f, watch.resolve(f.getFileName)))
    val q = tr.span("streaming.fileWatcher", op) {
      val q = new FileWatcherChannel(spark, watch.toString, Esb.FileSchema, http.channel,
        base.resolve("out").toString, base.resolve("checkpoint").toString,
        format = "json", intervalMs = 0, maxFilesPerTrigger = 1).start()
      q.awaitTermination()
      q
    }
    val progress = q.recentProgress.toSeq
    if (tr.on) batches ++= progress.filter(_.numInputRows > 0)
      .map(p => p.numInputRows -> p.batchDuration.toDouble)
    (base.resolve("out"), progress.map(_.numInputRows).sum)
  }

  def measure(spark: SparkSession, ops: Ops, seconds: Double): Unit = {
    tracer = ops.tracer.orNull
    val t0 = System.nanoTime()
    // (b) closed loop, first: it follows the warm-up cycle directly
    val periodNs = (1e9 / ratePerS).toLong
    val httpNs = (FreshRequests + KeptAliveRequests) * periodNs
    var c = 0
    while (c < MinCycles || System.nanoTime() + httpNs < t0 + (seconds * 1e9).toLong) {
      c += 1
      ops.run("cycle") { (op, tr) =>
        val c0 = System.nanoTime()
        val f = tr.span("bench.cycle", op)(cycle(spark, ops, tr, op, checkAll = false))
        f.foreach(ops.fail)
        ((), (System.nanoTime() - c0) / 1e6)
      }
      Bench.dropPersisted(spark)
    }
    // let the cycles' garbage and Spark's cleanup of their blocks go
    // before the open loop starts, not during its first requests
    System.gc()
    Thread.sleep(500)
    // (a) open loop: fresh connections, then one kept-alive connection
    val port = http.endpoint.actualPort
    val h0 = System.nanoTime()
    val ka = new Esb.KeptAlive(port)
    try (0 until FreshRequests + KeptAliveRequests).foreach { i =>
      val due = h0 + i * periodNs
      val fresh = i < FreshRequests
      ops.run(if (fresh) "http" else "http kept-alive") { (op, tr) =>
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        ((), post(tr, orders(i % orders.size), due, ops, op,
          if (fresh) Esb.post(port, _) else ka.post))
      }
    } finally ka.close()
  }

  def throughputPerS(ops: Ops): Double = orders.size / (ops.p50("cycle") / 1000.0)
  def opP50(ops: Ops): Double = ops.p50("http")
  val overheadKind = "http"

  /** The net layer per traced request, every other layer per traced cycle. */
  def perOp(layer: String, ops: Ops): Double =
    if (layer == "net") ops.tracedCount("http") + ops.tracedCount("http kept-alive")
    else ops.tracedCount("cycle")

  override def layerExtras(ops: Ops): Map[String, Double] = {
    val s = tracer.aggregate(sp => if (sp.name == "store.search" || sp.name == "api.list_msgs")
      Some("search") else None).get("search")
    Map(
      "net.send_lag_ms_p90" -> (if (lagMs.isEmpty) 0.0 else Bench.quantile(lagMs.toSeq, 0.9)),
      "net.kept_alive_ms_p50" -> ops.p50("http kept-alive"),
      "store.rows_read_per_result" ->
        s.map(x => x.inputRecords.toDouble / math.max(1L, searchRows)).getOrElse(0.0),
      "store.tasks_per_search" -> s.map(x => x.tasks.toDouble / math.max(1L, x.calls)).getOrElse(0.0),
      "streaming.rows_per_batch" ->
        (if (batches.isEmpty) 0.0 else batches.map(_._1).sum.toDouble / batches.size),
      "streaming.batch_ms_p50" -> Bench.quantile(batches.map(_._2).toSeq, 0.5))
  }
}

object Esb {
  /** POST `body` to /orders on a fresh connection, as an independent
    * sender does; returns (status, body). */
  def post(port: Int, body: String): (Int, String) = {
    val sock = new Socket()
    try {
      sock.connect(new InetSocketAddress("127.0.0.1", port))
      val bytes = body.getBytes("UTF-8")
      val out = sock.getOutputStream
      out.write((s"POST /orders HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        s"Content-Length: ${bytes.length}\r\nConnection: close\r\n\r\n").getBytes("UTF-8"))
      out.write(bytes)
      out.flush()
      val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      val sep = resp.indexOf("\r\n\r\n")
      (resp.split(" ", 3)(1).toInt, if (sep < 0) "" else resp.substring(sep + 4))
    } finally sock.close()
  }

  /** An HTTP/1.1 client on one kept-alive connection to /orders. */
  final class KeptAlive(port: Int) {
    private val sock = new Socket()
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    def post(body: String): (Int, String) = {
      val bytes = body.getBytes("UTF-8")
      out.write((s"POST /orders HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        s"Content-Length: ${bytes.length}\r\n\r\n").getBytes("UTF-8"))
      out.write(bytes)
      out.flush()
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) {
        val b = in.read()
        if (b < 0) throw new java.io.EOFException("connection closed")
        head += b.toChar
      }
      val lines = head.toString.split("\r\n")
      val len = lines.collectFirst {
        case l if l.toLowerCase.startsWith("content-length:") => l.drop(15).trim.toInt
      }.getOrElse(0)
      (lines(0).split(" ", 3)(1).toInt, new String(in.readNBytes(len), "UTF-8"))
    }

    def close(): Unit = sock.close()
  }

  /** Layout of the order files the file channel reads: messages as the
    * HTTP channel receives them. */
  val FileSchema: StructType = StructType(Seq(
    StructField("payload", StringType), StructField("uuid", StringType),
    StructField("ts", TimestampType), StructField("content_type", StringType),
    StructField("meta", MapType(StringType, StringType)), StructField("state", StringType),
    StructField("ctx", Msg.ctxType), StructField("attempt", LongType)))

  /** Fingerprint of a channel's main output, on the columns a map-free
    * hash can take. */
  def sinkSignature(df: DataFrame): (Long, Long) =
    Bench.signature(df.select(col("uuid"), col("payload").cast("string"), col("state"),
      col("meta").getItem("line_total").as("line_total")))

  /** Arrival time of the first bulk message, 2024-01-01T00:00:00Z. */
  val T0 = 1704067200L
  def at(line: Int): String =
    java.time.Instant.ofEpochSecond(T0 + line).toString.replace("T", " ").stripSuffix("Z")
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}
