package graft

import graft.examples.EsbExample
import graft.model.Msg
import graft.net.{HttpRequest => Req, JdkHttpTransport}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

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

  /** A request log read from a JSON-lines file, one message per line, one
    * second apart (a `toDF` fixture folds into a LocalRelation, on which
    * Spark runs fewer jobs than on a scan). */
  private def fileLog(dir: String, lines: Seq[String]): org.apache.spark.sql.DataFrame = {
    Files.write(java.nio.file.Paths.get(s"$dir/orders.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    spark.read.text(s"$dir/orders.jsonl")
      .withColumn("line_no", monotonically_increasing_id())
      .select(col("value").as("payload"), md5(col("value")).as("uuid"),
        timestamp_seconds(lit(1704103200L) + col("line_no")).as("ts"),
        lit("http_request").as("content_type"),
        map().cast("map<string,string>").as("meta"),
        lit(Msg.PENDING).as("state"),
        map().cast(Msg.ctxType).as("ctx"),
        lit(0L).as("attempt"))
  }

  private val flakyOrders = Seq(
    """{"order_id":10,"sku":"A","qty":3}""",
    """{"order_id":20,"sku":"B","qty":-1}""",
    """{"order_id":30,"sku":"C","qty":5}""",
    """{"order_id":40,"sku":"D","qty":7}""")

  /** Order 30 recovers on re-send attempt 2; order 40 exhausts all 3. */
  private def flakyBuild(dir: String) = EsbExample.build(spark, dir,
    flakyWhile = col("payload.order_id") === 30 && col("attempt") < 2 ||
      col("payload.order_id") === 40)

  /** The store's data files (mutation log excluded). */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] =
    Files.walk(java.nio.file.Paths.get(s"$dir/msgs")).iterator().asScala.toSeq.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !f.toString.contains("/_mutations")
    }

  /** The write-job id Spark puts in every data file name it writes. */
  private def writeId(f: java.nio.file.Path): String =
    """part-\d+-([0-9a-f-]{36})""".r.findFirstMatchIn(f.getFileName.toString).get.group(1)

  private val expectedStates = Map(
    10L -> Msg.PROCESSED, 20L -> Msg.REJECTED, 30L -> Msg.PROCESSED, 40L -> Msg.ERROR)

  test("runBatch over a file-read request log runs 5 Spark jobs") {
    val dir = Files.createTempDirectory("graft_esb_jobs").toString
    val w = flakyBuild(dir)
    val (stored, jobs) = JobCount(spark)(EsbExample.runBatch(w, fileLog(dir, flakyOrders)))
    // the initial grouping and 3 retry rounds, one write; the write seeds
    // the fresh store's schema, so the read after it infers nothing
    assert(jobs == 5, s"runBatch ran $jobs Spark jobs")
    assert(stored.select(col("payload.order_id"), col("state")).as[(Long, String)]
      .collect().toMap == expectedStates)
  }

  test("runBatch writes every data file of a batch with one schema, attempt included") {
    val dir = Files.createTempDirectory("graft_esb_schema").toString
    EsbExample.runBatch(flakyBuild(dir), fileLog(dir, flakyOrders))
    val conf = spark.sessionState.newHadoopConf()
    val columns = dataFiles(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
      finally r.close()
    }
    assert(columns.nonEmpty)
    assert(columns.distinct.size == 1, s"data files carry different columns: ${columns.distinct}")
    assert(columns.head.contains("attempt"))
  }

  test("runBatch where nothing parks stores every message with one write and runs no round") {
    val dir = Files.createTempDirectory("graft_esb_noretry").toString
    val w = EsbExample.build(spark, dir) // nothing is flaky
    val (stored, jobs) = JobCount(spark)(EsbExample.runBatch(w, fileLog(dir, flakyOrders)))
    // one write (which seeds the fresh store's schema): the retry predicate
    // is a constant false, so the park folds to an empty relation that
    // checkpoints without a job
    assert(jobs == 1, s"runBatch ran $jobs Spark jobs")
    assert(stored.select(col("payload.order_id"), col("state")).as[(Long, String)]
      .collect().toMap == expectedStates + (40L -> Msg.PROCESSED))
    assert(dataFiles(dir).map(writeId).distinct.size == 1)
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
