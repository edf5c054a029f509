package graft.net

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.api.{Channel, MessageRunner}
import graft.model.Msg
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.net.{InetSocketAddress, ServerSocket}
import java.sql.Timestamp
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Real inbound protocol endpoints — the reference's socket servers
  * (contrib/http.py:32 HTTPEndpoint / :99 HttpChannel, contrib/hl7.py
  * MLLPChannel), implemented over JDK built-ins so they run with zero
  * dependencies and are tested in-process.
  *
  * Execution shape: an inbound request is ONE message — pypeman's ingest
  * edge, inherently driver-side and row-at-a-time — so the handler runs the
  * channel synchronously on a one-row relation and replies with the
  * result, exactly like the reference's `handle_request`. The channel's
  * plan is compiled once per route, on the route's first request (a
  * [[graft.api.MessageRunner]]); every request then only swaps its own
  * row into that plan, which Spark optimizes into a driver-side local scan
  * (no Spark job). A compile that fails is retried on the next request, so
  * each such request replies 503 with the error; a channel that looks at
  * data while wiring is built per request (see [[graft.api.Node]]). Bulk
  * reprocessing of the same traffic is NOT done request-at-a-time: every
  * request is also appended to `requestLog`, a plain DataFrame that
  * batch/streaming queries scan with full parallelism (the 100 TB path for
  * replaying an ingest log).
  *
  * Replies over a kept-alive connection need TCP_NODELAY: the JDK server
  * writes a reply's headers and body as separate packets, and with Nagle's
  * algorithm on the body waits for the client's delayed ACK (~40 ms). The
  * JDK reads the JVM-wide property `sun.net.httpserver.nodelay` once, at
  * the process's first `HttpServer.create`, so [[graft.GraftSession]]
  * sets it to true (unless already set) when it configures the session,
  * before any JDK server in the process can exist.
  */
final class HttpEndpoint(spark: SparkSession, host: String = "127.0.0.1", port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  private val log = ArrayBuffer.empty[(Long, String, String, String)]

  def actualPort: Int = server.getAddress.getPort
  def url(path: String): String = s"http://$host:$actualPort$path"

  /** Register a channel on a route (HttpChannel, contrib/http.py:114):
    * request body → payload, method/url/query → meta; the channel result's
    * payload is the response body, `meta.status_code` (or `status`) the
    * status. Dropped messages (empty main output) reply 200 "Dropped";
    * errors reply 503 with the message (contrib/http.py:159-182). */
  def addChannel(
      path: String,
      channel: Channel,
      method: String = "*",
      addHeaders: Boolean = false): Unit = {
    // driver-side collect is CORRECT here, not a scale smell: the relation
    // is bounded by this one request's message (a channel maps 1→0/1 rows
    // unless a Yielder fans out — and then the response is still one
    // request's fan-out, not corpus-sized). Bulk ingest does NOT route
    // through this endpoint; it lands via FileWatcher/readStream. If a
    // pipeline ever yields unboundedly, cap the damage at the driver with
    // limit().
    //
    // payload may have become a struct mid-pipeline; the reference str()s
    // non-string payloads into the response body the same way
    val runner = new MessageRunner(spark, channel, MessageRunner.msgSchema)(
      _.select(col("payload").cast("string"),
        coalesce(element_at(col("meta"), "status"),
          element_at(col("meta"), "status_code"), lit("200")).as("status")))
    server.createContext(path, (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val m = ex.getRequestMethod.toUpperCase
      if (method != "*" && method.toUpperCase != m) {
        respond(ex, 405, "method not allowed")
      } else {
        val uri = ex.getRequestURI
        val tsMs = System.currentTimeMillis()
        synchronized { log += ((tsMs, m, uri.toString, body)) }
        try {
          val meta = ListMap((Map("method" -> m, "url" -> uri.toString,
            "get_params" -> Option(uri.getQuery).getOrElse(""))
            ++ (if (addHeaders) headerMap(ex) else Map.empty)).toSeq.sortBy(_._1): _*)
          val rows = runner.run(MessageRunner.msg(body, MessageRunner.md5Hex(s"$body|$tsMs"),
            new Timestamp(tsMs), "http_request", meta))
          if (rows.isEmpty) respond(ex, 200, "Dropped")
          else respond(ex, rows.head.getString(1).toInt,
            Option(rows.head.getString(0)).getOrElse(""))
        } catch {
          case e: Exception => respond(ex, 503, String.valueOf(e.getMessage))
        }
      }
    })
  }

  /** Mount a raw request-body → response-body handler on a route — the
    * remote-admin JSON-RPC mount point (the reference mounts its dispatcher
    * on a websocket server the same way, remoteadmin.py:66). Handler
    * exceptions reply 500 with the message; nothing is swallowed. */
  def addHandler(path: String)(f: String => String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      try respond(ex, 200, f(body))
      catch { case e: Exception => respond(ex, 500, String.valueOf(e.getMessage)) }
    })

  private def headerMap(ex: HttpExchange): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    ex.getRequestHeaders.asScala.map { case (k, vs) =>
      ("header_" + k) -> vs.asScala.mkString(",")
    }.toMap
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Every request this endpoint received, as a DataFrame — the replayable
    * ingest log (scan it with the same Channel for bulk reprocessing). */
  def requestLog: DataFrame = {
    import spark.implicits._
    synchronized { log.toSeq }.toDF("ts_ms", "method", "url", "payload")
  }

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
}

/** MLLP endpoint (contrib/hl7.py MLLPChannel): a TCP server speaking the
  * HL7 Minimal Lower Layer Protocol — frames are 0x0B payload 0x1C 0x0D.
  * Each framed message runs the channel synchronously (one-row ingest,
  * compiled once, as above); the reply is the channel result's payload
  * (normally an ACK built with Codecs.mllpAck), re-framed. One connection
  * served at a time in a daemon accept loop — the reference's asyncio
  * server is likewise single-threaded; bulk traffic goes through the log,
  * not the socket. */
final class MllpEndpoint(spark: SparkSession, channel: Channel, host: String = "127.0.0.1", port: Int = 0) {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(host, port))
  @volatile private var running = false

  def actualPort: Int = server.getLocalPort

  private val SB: Int = 0x0b
  private val EB: Int = 0x1c
  private val CR: Int = 0x0d

  def start(): Unit = {
    running = true
    val t = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          try {
            val in = sock.getInputStream
            val out = sock.getOutputStream
            var b = in.read()
            while (b != -1) {
              // scan to start-of-block, collect until end-of-block
              while (b != SB && b != -1) b = in.read()
              if (b != -1) {
                val buf = new StringBuilder
                b = in.read()
                while (b != EB && b != -1) { buf.append(b.toChar); b = in.read() }
                if (b == EB) in.read() // trailing CR
                val reply = handleOne(buf.toString)
                out.write(SB); out.write(reply.getBytes("UTF-8"))
                out.write(EB); out.write(CR); out.flush()
                b = in.read()
              }
            }
          } finally sock.close()
        } catch { case _: Exception if !running => () case _: Exception => () }
      }
    }, "graft-mllp-accept")
    t.setDaemon(true)
    t.start()
  }

  // bounded collect: one MLLP frame in → ≤1 ACK payload out (see the
  // HTTP handler's size-guard note; the same per-request bound applies)
  private val runner = new MessageRunner(spark, channel, StructType(Seq(
    StructField("payload", StringType),
    StructField("meta", MapType(StringType, StringType)),
    StructField("ctx", Msg.ctxType))))(_.select("payload"))

  private def handleOne(hl7: String): String = {
    val rows = runner.run(Row(hl7, Map.empty, Map.empty))
    if (rows.isEmpty) "" else String.valueOf(rows.head.getString(0))
  }

  def stop(): Unit = { running = false; server.close() }
}
