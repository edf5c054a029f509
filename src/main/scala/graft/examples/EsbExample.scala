package graft.examples

import graft.api.{Channel, Channels, Node, Nodes, RemoteAdmin}
import graft.model.Msg
import graft.net.HttpEndpoint
import graft.store.{MessageStore, RetryDriver}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The pypeman "hello world", end to end on graft: an HTTP channel
  * receiving JSON orders → parse → validate (rejects routed) → enrich →
  * store, with transient failures parked by auto-retry and re-sent by the
  * retry driver, and the whole thing inspectable over the remote-admin
  * wire. Every piece is the library's real surface — the example only
  * wires them, the way a pypeman `settings.py` project does.
  *
  * Reference shape (pypeman project template): HTTPEndpoint + HttpChannel
  * → JsonToPython → custom nodes → Save, with RetryFileMsgStore attached
  * and remoteadmin enabled.
  */
object EsbExample {

  val orderSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("sku", StringType),
    StructField("qty", LongType)))

  final case class Wiring(
      endpoint: HttpEndpoint,
      channel: Channel,
      store: MessageStore,
      admin: RemoteAdmin)

  /** Build the project: channel + endpoint + store + admin, registered. */
  def build(spark: SparkSession, storeDir: String,
      flakyWhile: org.apache.spark.sql.Column = lit(false)): Wiring = {
    val store = new MessageStore(spark, s"$storeDir/msgs")

    val channel = Channel("orders")
      .add(Nodes.JsonToPython(orderSchema))
      // validation: malformed JSON or non-positive qty is rejected. Spark 4's
      // from_json turns malformed input into a struct of nulls, not a null
      // struct, so a missing qty is what marks it.
      .rejectWhen(coalesce(col("payload.qty") <= 0, lit(true)))
      .add(
        // enrich: line total; flaky downstream guarded by auto-retry
        Node("enrich")(_.withColumn("meta",
          map_concat(col("meta"),
            map(lit("line_total"), (col("payload.qty") * 10).cast("string"))))),
        Node("downstream")(_.withColumn("state", lit(Msg.PROCESSED)))
          .withAutoRetry(flakyWhile)
          .withStoreMeta("line_total"))
      .addRejectNodes(Node("markReject")(_.withColumn("state", lit(Msg.REJECTED))))

    Channels.clear()
    Channels.register(channel)

    val endpoint = new HttpEndpoint(spark)
    endpoint.addChannel("/orders", channel, method = "POST")

    val admin = new RemoteAdmin(spark)
    admin.bind("orders", store)

    Wiring(endpoint, channel, store, admin)
  }

  /** Batch run over a request-log DataFrame (the bulk path for the same
    * traffic the endpoint serves row-at-a-time): run the channel, drive
    * parked retries to completion, then persist main + rejected + retry
    * outcomes in ONE store write, so every file the batch writes carries
    * one schema (retried rows have no `attempt`; it reads as null for
    * them). All or nothing: a failure inside the retry loop stores
    * nothing from the batch. */
  def runBatch(w: Wiring, requests: DataFrame, maxAttempts: Int = 3): DataFrame = {
    val r = w.channel.run(requests)
    val retried = Option.when(r.retries.nonEmpty) {
      RetryDriver.resendLoop(w.channel, r.retries, "ts", "uuid", maxAttempts).states
        .withColumn("state",
          when(col("retry_state") === Msg.PROCESSED, Msg.PROCESSED).otherwise(Msg.ERROR))
        .drop("retry_state", "emit_seq", "attempt") // driver-added columns only
    }
    w.store.save((r.main +: (r.rejected.toSeq ++ retried))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
    w.store.all()
  }
}
