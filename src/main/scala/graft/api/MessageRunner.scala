package graft.api

import graft.model.Msg
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.ExpressionWithRandomSeed
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range, Sample, View}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import java.util.concurrent.ThreadLocalRandom

/** A channel compiled once for one-message runs — the ingest edge where
  * every request is ONE message (pypeman's `handle_request`): the HTTP and
  * MLLP endpoints, which keep one runner per route, and the admin's
  * `push_msg`, which builds one per call.
  *
  * The first run builds `reply(channel.run(template).main)` over a one-row
  * `LocalRelation` holding that run's message (the template) and keeps the
  * analyzed plan. Every run then puts its own row into each copy of the
  * template relation (the analyzer may re-instance it with fresh attribute
  * ids, as in a self-join; other local relations, such as a static lookup
  * table, are left alone) and collects that plan. So the node functions
  * and Catalyst's analysis run once per runner, while optimization still
  * runs per request and folds the one-row plan into a driver-side local
  * scan: a request launches no Spark job.
  *
  * Consequences for the channel (see [[Node]]): a node function must build
  * its plan from the input's schema, not its rows, and must not bake in
  * driver-side state that changes between messages (a Scala `var`, the
  * clock). Every random expression (`rand()`, `uuid()`, ...) and every
  * `sample` gets a new seed per run, as a freshly built plan would. Spark's
  * `rand()` carries a literal seed, so a fixed one (`rand(42)`) cannot be
  * told apart and is re-drawn as well.
  *
  * A compile is kept only when the plan stays valid for later messages.
  * It is not kept, and the next message builds its own, when
  *   - it failed (the next run compiles again and fails the same way);
  *   - a node function ran a Spark action or created an RDD while wiring
  *     (`df.first()`, `df.collect()`, `df.rdd`, the eager show of
  *     `Nodes.Log` and `logOutput`, Nodes.Save, the file nodes): it has
  *     read or written this message's rows, or read data that may change;
  *   - the plan reads anything but local relations (a table, files, a
  *     view), whose contents or file listing may change between requests.
  * A kept compile is also dropped when the session's SQL conf changes
  * (time zone, ANSI mode, ...), since analysis bakes those into the plan.
  */
final class MessageRunner(spark: SparkSession, channel: Channel, schema: StructType)(
    reply: DataFrame => DataFrame) {
  import MessageRunner._

  private val attrs = DataTypeUtils.toAttributes(schema)
  private var compiled: Option[Compiled] = None

  /** Run the channel on one message whose values follow `schema`; returns
    * the reply's rows. */
  def run(msg: Row): Array[Row] = {
    val data = LocalRelation.fromExternalRows(attrs, Seq(msg)).data
    val c = compile(data)
    val bound = c.plan
      .transformUpWithSubqueries {
        case l: LocalRelation if l.data eq c.template => l.copy(data = data)
        case s: Sample => s.copy(seed = nextSeed())
      }
      .transformAllExpressionsWithSubqueries {
        case e: ExpressionWithRandomSeed => e.withNewSeed(nextSeed())
      }
    ColumnBridge.ofRows(spark, bound).collect()
  }

  private def compile(data: Seq[InternalRow]): Compiled = synchronized {
    val conf = spark.conf.getAll
    compiled.filter(_.conf == conf).getOrElse {
      val in = ColumnBridge.ofRows(spark, LocalRelation(attrs, data))
      val (plan, worked) = ColumnBridge.withWorkCheck(spark)(
        reply(channel.run(in).main).queryExecution.analyzed)
      // Analysis runs no action and creates no RDD, so work seen here came
      // from a node function (see the class doc) or another thread.
      val c = Compiled(plan, data, conf)
      compiled = if (worked || !selfContained(plan)) None else Some(c)
      c
    }
  }
}

object MessageRunner {

  /** An analyzed channel plan, the template data it was built over, and the
    * session conf it was analyzed under. */
  private final case class Compiled(
      plan: LogicalPlan, template: Seq[InternalRow], conf: Map[String, String])

  private def nextSeed(): Long = ThreadLocalRandom.current().nextLong()

  /** Whether a plan reads only local relations (the message, or data a node
    * built from constants) and one-row or range relations, through no view. */
  private def selfContained(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case _: LeafNode | _: View => false
    }.forall(identity)

  /** One inbound message as the HTTP endpoint and `push_msg` feed it to a
    * channel: the [[Msg]] columns, payload first. */
  val msgSchema: StructType = StructType(Seq(
    StructField("payload", StringType),
    StructField("uuid", StringType),
    StructField("ts", TimestampType),
    StructField("content_type", StringType),
    StructField("meta", MapType(StringType, StringType)),
    StructField("state", StringType),
    StructField("ctx", Msg.ctxType)))

  /** A pending message in [[msgSchema]] with an empty ctx; meta entries
    * keep the map's iteration order. */
  def msg(payload: String, uuid: String, ts: java.sql.Timestamp, contentType: String,
      meta: scala.collection.Map[String, String]): Row =
    Row(payload, uuid, ts, contentType, meta, Msg.PENDING, Map.empty)

  /** Hex MD5 of a string's UTF-8 bytes — Spark's `md5`, on the driver. */
  def md5Hex(s: String): String =
    java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))
}
