package graft

import graft.api.{Channel, Channels, Node, RemoteAdmin}
import graft.model.Msg
import graft.ops.CoreOps
import graft.store.MessageStore
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Remote-admin wire parity: asserts the EXACT JSON request/response shapes
  * of the reference RPC (remoteadmin.py:99-225, plugins/remoteadmin/
  * views.py:13-225, message.py:103-131 to_dict) against RemoteAdmin's pure
  * dispatcher — byte-for-byte, envelope included. */
class RemoteAdminSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (RemoteAdmin, MessageStore) = {
    Channels.clear()
    Channels.register(Channel("chan1").add(CoreOps.mapPayload("up")(upper)))
    val dir = Files.createTempDirectory("graft_radmin").toString
    val store = new MessageStore(spark, s"$dir/msgs")
    store.save(Seq(
      ("m1", "2024-01-01 10:00:00.123456", "hello payload", "processed"),
      ("m2", "2024-01-02 11:30:00.000001", "second one", "error"))
      .toDF("uuid", "ts0", "payload", "state")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
      .withColumn("meta", map(lit("et"), lit("t")))
      .withColumn("ctx", map().cast(Msg.ctxType)))
    val admin = new RemoteAdmin(spark)
    admin.bind("chan1", store)
    (admin, store)
  }

  test("channels: reference to_dict shape incl. subchannels, jsonrpc envelope") {
    val (admin, _) = freshStore()
    val resp = admin.dispatch("""{"jsonrpc":"2.0","method":"channels","params":[],"id":1}""")
    assert(resp ==
      """{"jsonrpc":"2.0","result":[{"name":"chan1","short_name":"chan1",""" +
        """"verbose_name":"chan1","status":"STOPPED","has_message_store":true,""" +
        """"processed":0,"subchannels":[]}],"id":1}""")
  }

  test("channels: fork sub-channels nest as subchannel dicts (channels.py:882)") {
    Channels.clear()
    Channels.register(Channel("parent")
      .fork("audit")(_.add(CoreOps.mapPayload("a")(lower))))
    val dir = Files.createTempDirectory("graft_radmin_sub").toString
    val store = new MessageStore(spark, s"$dir/msgs")
    store.save(Seq(("m0", "x")).toDF("uuid", "payload")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("state", lit("processed"))
      .withColumn("meta", map().cast("map<string,string>"))
      .withColumn("ctx", map().cast(Msg.ctxType)))
    val admin = new RemoteAdmin(spark)
    admin.bind("parent", store)
    val resp = admin.dispatch("""{"jsonrpc":"2.0","method":"channels","params":[],"id":2}""")
    assert(resp.contains(""""subchannels":[{"name":"parent.audit""""))
  }

  test("start_channel / stop_channel: {name, status} with STATE_NAMES strings") {
    val (admin, _) = freshStore()
    val started = admin.dispatch(
      """{"jsonrpc":"2.0","method":"start_channel","params":["chan1"],"id":7}""")
    assert(started ==
      """{"jsonrpc":"2.0","result":{"name":"chan1","status":"WAITING"},"id":7}""")
    val stopped = admin.dispatch(
      """{"jsonrpc":"2.0","method":"stop_channel","params":["chan1"],"id":8}""")
    assert(stopped ==
      """{"jsonrpc":"2.0","result":{"name":"chan1","status":"STOPPED"},"id":8}""")
  }

  test("list_msgs: {messages:[{id,state,timestamp,meta}], total} with timestamp_str format") {
    val (admin, _) = freshStore()
    // positional params as RemoteAdminClient sends them (remoteadmin.py:293)
    val resp = admin.dispatch(
      """{"jsonrpc":"2.0","method":"list_msgs","params":["chan1",0,10,"timestamp",null,null,null,null,null],"id":2}""")
    assert(resp ==
      """{"jsonrpc":"2.0","result":{"messages":[""" +
        """{"id":"m1","state":"processed","timestamp":"2024-01-01T10:00:00.123456Z","meta":{"et":"t"}},""" +
        """{"id":"m2","state":"error","timestamp":"2024-01-02T11:30:00.000001Z","meta":{"et":"t"}}""" +
        """],"total":2},"id":2}""")
  }

  test("list_msgs: text filter narrows, total stays store-wide (views.py:125)") {
    val (admin, _) = freshStore()
    val resp = admin.dispatch(
      """{"jsonrpc":"2.0","method":"list_msgs","params":["chan1",0,10,"timestamp",null,null,"second",null,null],"id":3}""")
    assert(resp.contains(""""messages":[{"id":"m2""""))
    assert(resp.contains(""""total":2"""))
  }

  test("list_msgs on a warm store with a mutation log runs at most 4 Spark jobs") {
    val (admin, store) = freshStore()
    store.changeMessageState("m1", "error")
    val req =
      """{"jsonrpc":"2.0","method":"list_msgs","params":["chan1",0,10,"timestamp",null,null,null,null,null],"id":5}"""
    admin.dispatch(req) // warm: the store's schema and log fold are resolved
    val (resp, jobs) = JobCount(spark)(admin.dispatch(req))
    assert(resp.contains(""""id":"m1","state":"error"""") && resp.contains(""""total":2"""))
    assert(jobs <= 4, s"list_msgs ran $jobs Spark jobs")
  }

  test("view_msg: full message.to_dict(encode_payload=False) layout") {
    val (admin, _) = freshStore()
    val resp = admin.dispatch(
      """{"jsonrpc":"2.0","method":"view_msg","params":["chan1","m1"],"id":4}""")
    assert(resp ==
      """{"jsonrpc":"2.0","result":{"timestamp":"2024-01-01T10:00:00.123456Z",""" +
        """"uuid":"m1","store_id":null,"store_chan_name":null,""" +
        """"payload":"hello payload","meta":{"et":"t"},"ctx":{}},"id":4}""")
  }

  test("preview_msg truncates payload to 1000 chars; missing id yields error dict") {
    val (admin, store) = freshStore()
    val big = "x" * 1500
    store.save(Seq(("m3", big)).toDF("uuid", "payload")
      .withColumn("ts", lit("2024-01-03 00:00:00").cast("timestamp"))
      .withColumn("state", lit("processed"))
      .withColumn("meta", map().cast("map<string,string>"))
      .withColumn("ctx", map().cast(Msg.ctxType)))
    val prev = admin.previewMsg("chan1", "m3")
    assert(admin.json(prev).contains("\"payload\":\"" + "x" * 1000 + "\""))
    val missing = admin.dispatch(
      """{"jsonrpc":"2.0","method":"view_msg","params":["chan1","nope"],"id":5}""")
    assert(missing.startsWith("""{"jsonrpc":"2.0","result":{"error":"""))
    assert(missing.contains("probably doesn't exists"))
  }

  test("push_msg: injects payload text through the channel, replies with message dict") {
    val (admin, _) = freshStore()
    val resp = admin.dispatch(
      """{"jsonrpc":"2.0","method":"push_msg","params":["chan1","fresh text"],"id":9}""")
    assert(resp.contains(""""payload":"FRESH TEXT""""))
    assert(resp.contains(""""store_id":null"""))
    assert(resp.endsWith(""","id":9}"""))
  }

  test("push_msg: the message's uuid is the md5 of the pushed text") {
    val (admin, _) = freshStore()
    assert(admin.json(admin.pushMsg("chan1", "x")).contains(s""""uuid":"${md5Of("x")}""""))
  }

  private def md5Of(s: String): String =
    Seq(s).toDF("s").select(md5(col("s"))).as[String].head()

  test("live endpoint: full admin session over a real socket (remoteadmin.py:66 parity)") {
    val (admin, store) = freshStore()
    val ep = new graft.net.HttpEndpoint(spark)
    admin.serve(ep)
    ep.start()
    try {
      val client = new graft.api.RemoteAdminClient(ep.url("/rpc"))
      // channels
      val chans = client.channels()
      assert(chans.size() == 1 && chans.get(0).get("name").asText() == "chan1")
      // start/stop lifecycle
      assert(client.start("chan1").get("status").asText() == "WAITING")
      assert(client.stop("chan1").get("status").asText() == "STOPPED")
      // list_msgs with text filter: narrows messages, total stays store-wide
      val listed = client.listMsgs("chan1", text = "second")
      assert(listed.get("messages").size() == 1)
      assert(listed.get("messages").get(0).get("id").asText() == "m2")
      assert(listed.get("total").asLong() == 2L)
      // view + preview
      assert(client.viewMsg("chan1", "m1").get("payload").asText() == "hello payload")
      assert(client.previewMsg("chan1", "m2").get("payload").asText() == "second one")
      // replay end-to-end: renewed uuid, durable store gains the processed copy
      val replayed = client.replayMsg("chan1", "m1")
      assert(replayed.get("payload").asText() == "HELLO PAYLOAD")
      assert(replayed.get("uuid").asText() != "m1")
      assert(store.get(replayed.get("uuid").asText())
        .map(_.getAs[String]("state")) == Some("processed"))
      // unknown method → error dict in result
      assert(client.sendCommand("bogus").get("error").asText().contains("not a valid method"))
    } finally ep.stop()
  }

  test("live WS endpoint: full admin session over an actual ws:// socket (remoteadmin.py:44-82 transport parity)") {
    val (admin, store) = freshStore()
    val ep = admin.serveWs()
    try {
      val ws = new graft.net.WebSocketClient("127.0.0.1", ep.actualPort)
      try {
        val client = graft.api.RemoteAdminClient.overWebSocket(ws)
        val chans = client.channels()
        assert(chans.size() == 1 && chans.get(0).get("name").asText() == "chan1")
        assert(client.start("chan1").get("status").asText() == "WAITING")
        assert(client.stop("chan1").get("status").asText() == "STOPPED")
        val listed = client.listMsgs("chan1", text = "second")
        assert(listed.get("messages").size() == 1)
        assert(listed.get("messages").get(0).get("id").asText() == "m2")
        assert(listed.get("total").asLong() == 2L)
        assert(client.viewMsg("chan1", "m1").get("payload").asText() == "hello payload")
        assert(client.previewMsg("chan1", "m2").get("payload").asText() == "second one")
        val replayed = client.replayMsg("chan1", "m1")
        assert(replayed.get("payload").asText() == "HELLO PAYLOAD")
        assert(replayed.get("uuid").asText() != "m1")
        assert(store.get(replayed.get("uuid").asText())
          .map(_.getAs[String]("state")) == Some("processed"))
        assert(client.sendCommand("bogus").get("error").asText().contains("not a valid method"))
      } finally ws.close()
    } finally ep.stop()
  }

  test("WS framing: >125-byte payloads (16-bit length) and sequential clients survive") {
    val ep = new graft.net.WebSocketEndpoint()(s => s.reverse)
    ep.start()
    try {
      val ws = new graft.net.WebSocketClient("127.0.0.1", ep.actualPort)
      try {
        // 7-bit, 16-bit length paths + multiple round-trips on one socket
        for (n <- Seq(5, 125, 126, 4000, 70000)) {
          val msg = ("ab" * ((n + 1) / 2)).take(n)
          ws.sendText(msg)
          assert(ws.recvText().contains(msg.reverse), s"round-trip of $n chars")
        }
      } finally ws.close()
      // a SECOND connection after the first closed — accept loop stays live
      val ws2 = new graft.net.WebSocketClient("127.0.0.1", ep.actualPort)
      try {
        ws2.sendText("again")
        assert(ws2.recvText().contains("niaga"))
      } finally ws2.close()
    } finally ep.stop()
  }

  test("replay_msg: channel re-runs the stored message, reply is the RENEWED dict") {
    val (admin, store) = freshStore()
    val resp = admin.dispatch(
      """{"jsonrpc":"2.0","method":"replay_msg","params":["chan1","m1"],"id":6}""")
    assert(resp.contains(""""payload":"HELLO PAYLOAD""""))
    // message.py:80 renew(): the replayed message carries a NEW uuid
    assert(!resp.contains(""""uuid":"m1""""))
    assert(resp.endsWith(""","id":6}"""))
    // and the renewed result landed in the durable store as processed
    val saved = store.all().filter(col("payload") === "HELLO PAYLOAD")
    assert(saved.count() == 1)
    assert(saved.select("state").as[String].head() == "processed")
  }
}
