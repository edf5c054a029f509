package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.store.{MessageStore, Search}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Remote-admin wire parity — the JSON request/response shapes of the
  * reference's admin RPC (pypeman/remoteadmin.py:99-225 and
  * pypeman/plugins/remoteadmin/views.py:13-225), re-expressed as pure
  * functions over the registry + message store: same payloads, no sockets
  * (the transport hop — websocket/aiohttp — is deploy-side plumbing; the
  * wire FORMAT is what a pypeman client depends on).
  *
  * Shapes matched 1:1:
  *   - `channels` → list of channel dicts (channels.py:871 to_dict +
  *     subchannels), only channels with a message store;
  *   - `start_channel`/`stop_channel` → {name, status};
  *   - `list_msgs` → {"messages": [{id, state, timestamp, meta}], "total"}
  *     (views.py:119-125: timestamp_str'd, "message" popped);
  *   - `view_msg`/`preview_msg` → message.to_dict(encode_payload=False)
  *     (message.py:103-131): {timestamp, uuid, store_id, store_chan_name,
  *     payload, meta, ctx};
  *   - `replay_msg` → replayed message dict, or {"error": str};
  *   - JSON-RPC 2.0 envelope via [[RemoteAdmin.dispatch]].
  */
final class RemoteAdmin(spark: SparkSession) {
  import RemoteAdmin._

  /** channel name → its message store (chan.message_store). */
  private var stores = Map.empty[String, MessageStore]
  /** channel name → status string (BaseChannel.STATE_NAMES). */
  private var status = Map.empty[String, String].withDefaultValue("STOPPED")

  def bind(channelName: String, store: MessageStore): Unit =
    synchronized { stores += channelName -> store }

  private def store(channel: String): MessageStore =
    stores.getOrElse(channel,
      throw new NoSuchElementException(s"channel $channel has no message store"))

  /** remoteadmin.py:100 `channels` — one dict per registered channel with
    * a message store, sub-channels (fork/when/case steps) nested as the
    * reference's `subchannels()` does (channels.py:882). */
  def channels(): AnyRef = toJava(
    Channels.all.filter(c => stores.contains(c.name)).map(chanDict))

  private def chanDict(c: Channel): scala.collection.immutable.ListMap[String, Any] =
    linked(
      "name" -> c.name,
      "short_name" -> c.name,
      "verbose_name" -> c.name,
      "status" -> status(c.name),
      "has_message_store" -> Boolean.box(stores.contains(c.name)),
      "processed" -> Long.box(0L),
      "subchannels" -> subchannels(c))

  private def subchannels(c: Channel): Vector[Any] =
    c.steps.collect {
      case Channel.Fork(_, sub) => Vector(chanDict(sub))
      case Channel.When(_, sub) => Vector(chanDict(sub))
      case Channel.CaseStep(bs) => bs.map(b => chanDict(b._2))
    }.flatten.toVector

  /** remoteadmin.py:117/131 start_channel / stop_channel. */
  def startChannel(channel: String): AnyRef = setStatus(channel, "WAITING")
  def stopChannel(channel: String): AnyRef = setStatus(channel, "STOPPED")

  private def setStatus(channel: String, st: String): AnyRef = {
    require(Channels.get(channel).nonEmpty, s"no channel $channel")
    synchronized { status += channel -> st }
    toJava(linked("name" -> channel, "status" -> st))
  }

  /** remoteadmin.py:145 list_msgs (shape of views.py:71-125). The page
    * and `total` come from one read of the store, so a mutation landing
    * between them cannot make the reply contradict itself. */
  def listMsgs(channel: String, q: Search): AnyRef = {
    val df = store(channel).all()
    val rows = MessageStore.search(df, q).collect()
    val msgs = rows.toVector.map { r =>
      linked(
        "id" -> r.getAs[String]("uuid"),
        "state" -> r.getAs[String]("state"),
        "timestamp" -> timestampStr(r),
        "meta" -> metaOf(r))
    }
    toJava(linked("messages" -> msgs, "total" -> Long.box(df.count())))
  }

  /** remoteadmin.py:186 view_msg — full message dict. */
  def viewMsg(channel: String, msgId: String): AnyRef =
    msgOrError(channel, msgId)(identity)

  /** remoteadmin.py:203 preview_msg — payload truncated to 1000 chars
    * (msgstore get_preview_str). */
  def previewMsg(channel: String, msgId: String): AnyRef =
    msgOrError(channel, msgId) { d =>
      val p = Option(d.get("payload")).map(_.asInstanceOf[String].take(1000)).orNull
      d.put("payload", p); d
    }

  /** remoteadmin.py:214 push_msg — inject a new message (payload = text)
    * into the channel and reply with the handled result's dict. */
  def pushMsg(channel: String, text: String): AnyRef =
    try {
      val ch = Channels.get(channel)
        .getOrElse(throw new NoSuchElementException(s"no channel $channel"))
      val msg = MessageRunner.msg(text, MessageRunner.md5Hex(text),
        java.sql.Timestamp.from(java.time.Instant.now()), "application/text", Map.empty)
      rowToDict(new MessageRunner(spark, ch, MessageRunner.msgSchema)(identity).run(msg).head)
    } catch {
      case e: Exception => toJava(linked("error" -> e.getMessage))
    }

  /** remoteadmin.py:169 replay_msg — re-run the channel on the stored
    * message via the store's replay path (the renewed result is saved back
    * to the durable store as `processed`, like the reference's handle()
    * flow); reply with the renewed message dict or {"error": ...}. */
  def replayMsg(channel: String, msgId: String): AnyRef =
    try {
      val ch = Channels.get(channel)
        .getOrElse(throw new NoSuchElementException(s"no channel $channel"))
      val replayed = store(channel).replayById(msgId, ch)
      rowToDict(headOr(replayed, msgId))
    } catch {
      case e: Exception => toJava(linked("error" -> e.getMessage))
    }

  private def msgOrError(channel: String, msgId: String)(
      f: java.util.LinkedHashMap[String, AnyRef] => AnyRef): AnyRef =
    try {
      val row = headOr(store(channel).all().filter(col("uuid") === msgId), msgId)
      f(rowToDict(row).asInstanceOf[java.util.LinkedHashMap[String, AnyRef]])
    } catch {
      case e: Exception => toJava(linked("error" -> e.getMessage))
    }

  private def headOr(df: DataFrame, msgId: String): Row = {
    val rows = df.limit(1).collect()
    if (rows.isEmpty)
      throw new NoSuchElementException(s"id $msgId probably doesn't exists")
    rows.head
  }

  /** JSON-RPC 2.0 dispatcher (remoteadmin.py:75 command / jsonrpcserver):
    * request {"jsonrpc","method","params","id"} → response
    * {"jsonrpc":"2.0","result":...,"id":...}. Positional params follow
    * RemoteAdminClient (remoteadmin.py:293 list_msg_args). */
  def dispatch(requestJson: String): String = {
    val req = mapper.readTree(requestJson)
    val params = req.get("params")
    def p(i: Int): String =
      if (params == null || params.size() <= i || params.get(i).isNull) null
      else params.get(i).asText()
    def pInt(i: Int, dflt: Int): Int =
      if (params == null || params.size() <= i || params.get(i).isNull) dflt
      else params.get(i).asInt()
    val result = req.get("method").asText() match {
      case "channels" => channels()
      case "start_channel" => startChannel(p(0))
      case "stop_channel" => stopChannel(p(0))
      case "list_msgs" => listMsgs(p(0), Search(
        start = pInt(1, 0), count = pInt(2, 10),
        orderBy = Option(p(3)).getOrElse("timestamp"),
        startDt = Option(p(4)), endDt = Option(p(5)),
        text = Option(p(6)), rtext = Option(p(7)), startId = Option(p(8))))
      case "view_msg" => viewMsg(p(0), p(1))
      case "preview_msg" => previewMsg(p(0), p(1))
      case "replay_msg" =>
        // the reference web client sends an id LIST (`['chan', [msg.id]]`,
        // client/src/components/MessageStore.vue:86) and folds over the
        // result array checking per-item `error` keys; the shell client
        // (remoteadmin.py:318-328) sends a single id. Serve both shapes.
        val ids = if (params != null && params.size() > 1) params.get(1) else null
        if (ids != null && ids.isArray) {
          val out = new java.util.ArrayList[AnyRef]()
          ids.forEach(n => out.add(replayMsg(p(0), n.asText())))
          out
        } else replayMsg(p(0), p(1))
      case "push_msg" => pushMsg(p(0), p(1))
      case other => toJava(linked("error" -> s"$other is not a valid method"))
    }
    val resp = new java.util.LinkedHashMap[String, AnyRef]()
    resp.put("jsonrpc", "2.0")
    resp.put("result", result)
    resp.put("id", Integer.valueOf(req.get("id").asInt()))
    mapper.writeValueAsString(resp)
  }

  def json(v: AnyRef): String = mapper.writeValueAsString(v)

  /** Mount the dispatcher on a live HTTP endpoint — the deployable admin
    * socket. The reference serves the identical JSON-RPC envelope over
    * websockets (remoteadmin.py:44-82, `websockets.serve` at :66); graft
    * serves it over HTTP POST (same request/response bodies, JDK-built-in
    * transport), so a real client can drive channels/list_msgs/view/replay
    * end-to-end over a port. Call `endpoint.start()` to begin serving. */
  def serve(endpoint: graft.net.HttpEndpoint, path: String = "/rpc"): Unit =
    endpoint.addHandler(path)(dispatch)

  /** Mount the dispatcher behind RFC 6455 framing — TRANSPORT parity with
    * the reference, not just payload parity: `websockets.serve`
    * (remoteadmin.py:66) is what the stock shell client and Vue SPA dial,
    * so with this endpoint they connect unmodified (same `ws://` URL
    * shape, same one-text-frame-per-RPC discipline). Call `.stop()` when
    * done; the returned endpoint is already started. */
  def serveWs(host: String = "127.0.0.1", port: Int = 0): graft.net.WebSocketEndpoint = {
    val ep = new graft.net.WebSocketEndpoint(host, port)(dispatch)
    ep.start()
    ep
  }
}

/** Operator-side admin client (reference RemoteAdminClient,
  * remoteadmin.py:231-341): builds the JSON-RPC envelope, sends it over a
  * pluggable round-trip (HTTP POST via [[graft.net.HttpTransport]], or a
  * live `ws://` socket via [[RemoteAdminClient.overWebSocket]]), and
  * returns the parsed `result` node. Method surface mirrors the
  * reference's shell client 1:1. */
final class RemoteAdminClient private (rpc: String => String) {
  import com.fasterxml.jackson.databind.JsonNode

  def this(url: String, transport: graft.net.HttpTransport = graft.net.JdkHttpTransport) =
    this({ body: String =>
      val resp = transport.send(graft.net.HttpRequest(
        url = url, method = "POST", body = Some(body)))
      require(resp.status == 200, s"admin rpc failed: ${resp.status} ${resp.body}")
      resp.body
    })

  private val mapper = new ObjectMapper()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** remoteadmin.py:244 send_command: one RPC round-trip → `result`. */
  def sendCommand(method: String, args: Seq[Any] = Seq.empty): JsonNode = {
    val req = mapper.createObjectNode()
    req.put("jsonrpc", "2.0")
    req.put("method", method)
    val params = req.putArray("params")
    args.foreach {
      case null => params.addNull()
      case i: Int => params.add(i)
      case l: Long => params.add(l)
      case s: String => params.add(s)
      case other => params.add(String.valueOf(other))
    }
    req.put("id", nextId.incrementAndGet())
    mapper.readTree(rpc(mapper.writeValueAsString(req))).get("result")
  }

  def channels(): JsonNode = sendCommand("channels")
  def start(channel: String): JsonNode = sendCommand("start_channel", Seq(channel))
  def stop(channel: String): JsonNode = sendCommand("stop_channel", Seq(channel))
  def listMsgs(
      channel: String, start: Int = 0, count: Int = 10,
      orderBy: String = "timestamp", startDt: String = null, endDt: String = null,
      text: String = null, rtext: String = null, startId: String = null): JsonNode =
    sendCommand("list_msgs",
      Seq(channel, start, count, orderBy, startDt, endDt, text, rtext, startId))
  def viewMsg(channel: String, msgId: String): JsonNode =
    sendCommand("view_msg", Seq(channel, msgId))
  def previewMsg(channel: String, msgId: String): JsonNode =
    sendCommand("preview_msg", Seq(channel, msgId))
  def replayMsg(channel: String, msgId: String): JsonNode =
    sendCommand("replay_msg", Seq(channel, msgId))
  def pushMsg(channel: String, text: String): JsonNode =
    sendCommand("push_msg", Seq(channel, text))
}

object RemoteAdminClient {
  /** Shell-client transport parity: the reference dials `ws://host:port`
    * and exchanges one text frame per RPC (remoteadmin.py:244). The
    * returned client shares the ws connection across calls; close the
    * socket when done. */
  def overWebSocket(ws: graft.net.WebSocketClient): RemoteAdminClient =
    new RemoteAdminClient({ body: String =>
      ws.sendText(body)
      ws.recvText().getOrElse(
        throw new IllegalStateException("admin ws closed mid-rpc"))
    })
}

object RemoteAdmin {
  private val mapper = new ObjectMapper()

  /** Reference DATE_FORMAT (message.py:13): %Y-%m-%dT%H:%M:%S.%fZ. */
  private val dateFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

  private def timestampStr(r: Row): String = {
    val ts = r.getAs[java.sql.Timestamp]("ts")
    dateFmt.format(ts.toLocalDateTime)
  }

  private def metaOf(r: Row): Map[String, String] = {
    val i = r.fieldIndex("meta")
    if (r.isNullAt(i)) Map.empty else r.getMap[String, String](i).toMap
  }

  /** message.py:103 to_dict(encode_payload=False), key order preserved. */
  private def rowToDict(r: Row): AnyRef = {
    val ctx: Map[String, AnyRef] = {
      val i = r.fieldIndex("ctx")
      if (r.isNullAt(i)) Map.empty
      else r.getMap[String, Row](i).toMap.map { case (k, v) =>
        k -> linked(
          "payload" -> v.getAs[String]("payload"),
          "meta" -> Option(v.getAs[Map[String, String]]("meta")).getOrElse(Map.empty))
      }
    }
    toJava(linked(
      "timestamp" -> timestampStr(r),
      "uuid" -> r.getAs[String]("uuid"),
      "store_id" -> null,
      "store_chan_name" -> null,
      "payload" -> r.getAs[String]("payload"),
      "meta" -> metaOf(r),
      "ctx" -> ctx))
  }

  private def linked(kvs: (String, Any)*): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(kvs: _*)

  /** Recursively convert Scala collections to Jackson-friendly Java ones,
    * preserving key order. */
  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), toJava(x)) }
      out
    case s: scala.collection.Seq[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case null => null
    case x: AnyRef => x
  }
}
