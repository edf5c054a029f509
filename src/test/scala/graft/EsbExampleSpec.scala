package graft

import graft.examples.EsbExample
import graft.model.Msg
import graft.net.{HttpRequest => Req, JdkHttpTransport}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end ESB flow: live HTTP ingest → parse/validate/enrich →
  * store_meta → store, retries driven to completion, admin wire queries —
  * the full pypeman project shape on graft's real surfaces. */
class EsbExampleSpec extends SparkSpec {
  import spark.implicits._

  test("live HTTP ingest through the channel, good and rejected messages") {
    val dir = Files.createTempDirectory("graft_esb_http").toString
    val w = EsbExample.build(spark, dir)
    w.endpoint.start()
    try {
      val ok = JdkHttpTransport.send(Req("POST", w.endpoint.url("/orders"),
        body = Some("""{"order_id":1,"sku":"A","qty":3}""")))
      assert(ok.status == 200)
      // rejected (qty <= 0) → empty main → reference Dropped semantics
      val bad = JdkHttpTransport.send(Req("POST", w.endpoint.url("/orders"),
        body = Some("""{"order_id":2,"sku":"B","qty":0}""")))
      assert(bad.status == 200 && bad.body == "Dropped")
      assert(w.endpoint.requestLog.count() == 2)
    } finally w.endpoint.stop()
  }

  test("batch replay of the ingest log: store states, retries exhausted/processed, admin wire") {
    val dir = Files.createTempDirectory("graft_esb_batch").toString
    // order 30 is flaky: fails until attempt 2; order 40 never succeeds in 3
    val w = EsbExample.build(spark, dir,
      flakyWhile = col("payload.order_id") === 30 && col("attempt") < 2 ||
        col("payload.order_id") === 40 && col("attempt") < 99)
    val requests = Seq(
      ("""{"order_id":10,"sku":"A","qty":3}""", "2024-01-01 10:00:00"),
      ("""{"order_id":20,"sku":"B","qty":-1}""", "2024-01-01 10:00:01"),
      ("""{"order_id":30,"sku":"C","qty":5}""", "2024-01-01 10:00:02"),
      ("""{"order_id":40,"sku":"D","qty":7}""", "2024-01-01 10:00:03"))
      .toDF("payload", "ts0")
      .withColumn("uuid", md5(col("payload")))
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
      .withColumn("content_type", lit("http_request"))
      .withColumn("meta", map().cast("map<string,string>"))
      .withColumn("state", lit(Msg.PENDING))
      .withColumn("ctx", map().cast(Msg.ctxType))
      .withColumn("attempt", lit(0L))

    val stored = EsbExample.runBatch(w, requests)
    val states = stored.select(col("payload.order_id"), col("state"))
      .as[(Long, String)].collect().toMap
    assert(states == Map(
      10L -> Msg.PROCESSED, // clean first pass
      20L -> Msg.REJECTED,  // validation reject path
      30L -> Msg.PROCESSED, // flaky, succeeded on re-send attempt 2
      40L -> Msg.ERROR))    // exhausted after maxAttempts
    // store_meta materialization over the stored messages
    val infos = graft.store.MessageStore.metaInfos(
      stored.filter(col("state") === Msg.PROCESSED), Seq("line_total"))
    assert(infos.select("values").as[Seq[String]].collect().flatten.toSet
      == Set("30", "50")) // qty*10 for orders 10 and 30
    // admin wire sees the store
    val resp = w.admin.dispatch(
      """{"jsonrpc":"2.0","method":"list_msgs","params":["orders",0,10,"timestamp",null,null,null,null,null],"id":1}""")
    assert(resp.contains(""""total":4"""))
  }

  test("a truncated JSON order is rejected: Dropped over HTTP, stored rejected in batch") {
    val dir = Files.createTempDirectory("graft_esb_malformed").toString
    val w = EsbExample.build(spark, dir)
    val cut = """{"order_id":7,"sku":"""
    w.endpoint.start()
    try {
      val resp = JdkHttpTransport.send(Req("POST", w.endpoint.url("/orders"), body = Some(cut)))
      assert(resp.status == 200 && resp.body == "Dropped")
    } finally w.endpoint.stop()
    val requests = Seq(cut, """{"order_id":8,"sku":"A","qty":2}""").toDF("payload")
      .withColumn("uuid", md5(col("payload")))
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      .withColumn("content_type", lit("http_request"))
      .withColumn("meta", map().cast("map<string,string>"))
      .withColumn("state", lit(Msg.PENDING))
      .withColumn("ctx", map().cast(Msg.ctxType))
      .withColumn("attempt", lit(0L))
    val states = EsbExample.runBatch(w, requests).select("uuid", "state")
      .as[(String, String)].collect().toMap
    val ids = requests.select("uuid").as[String].collect()
    assert(states == Map(ids(0) -> Msg.REJECTED, ids(1) -> Msg.PROCESSED))
  }
}
