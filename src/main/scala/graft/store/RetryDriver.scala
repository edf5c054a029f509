package graft.store

import graft.api.{Channel, ChannelResult}
import graft.model.Msg
import graft.ops.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The periodic retry re-send loop — graft's `RetryFileMsgStore.retry` /
  * `wait_retries` (reference: pypeman/retry.py:103-241).
  *
  * Reference behavior: nodes with auto_retry_exceptions park the failing
  * message (with the node name) in the channel's retry store; a timed loop
  * re-injects parked messages IN ARRIVAL ORDER at their recorded node; a
  * message that fails again is re-parked; one that succeeds leaves the store
  * and its store state becomes the channel outcome; the loop stops when the
  * store drains.
  *
  * graft re-expression: the parked set is a DataFrame per node name
  * (ChannelResult.retries); one `tick` re-injects every due group via
  * `Channel.runFrom` — the channel's own autoRetryOn predicates decide who
  * fails again (predicates may reference `attempt`, the per-message re-send
  * counter this driver maintains). `resendLoop` drives ticks to completion
  * for batch simulation; `periodic` runs one tick per ProcessingTime
  * trigger for the deployed form. Each round is O(parked) — the retry
  * store holds failures only, never the corpus.
  *
  * Job shape: every merged group is materialized once per round by
  * `Materialize.counted`, whose observed row count drops the empty
  * groups (the pattern of the LocalSolve gates), so a round costs
  * one Spark job per group and no separate emptiness probe; the same
  * checkpoint truncates the lineage per round. A 3-round loop over one
  * node's park runs 4 jobs: the initial grouping and one per round.
  */
object RetryDriver {

  /** Result of driving the loop: every originally-parked message exactly
    * once, with `attempt` (re-sends consumed), `state`
    * (processed | error-after-exhaustion), and for successes the global
    * `emit_seq` proving in-order re-emission (round, then arrival order —
    * retry.py:185 search(order_by="timestamp")). */
  final case class RetryResult(states: DataFrame, rounds: Int)

  /** Merge per-node groups, materialize each one with
    * [[graft.ops.Materialize.counted]] and drop the empty ones (a channel
    * emits a retries entry for EVERY autoRetryOn node, incl. ones nothing
    * reached): the row count rides the checkpoint's own job. Parked sets
    * hold failures only, never the corpus, so the checkpoint stays
    * scalar-sized. */
  private def group(rs: Seq[(String, DataFrame)]): Seq[(String, DataFrame)] =
    rs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (n, ds) =>
      val (df, rows) = Materialize.counted(ds.map(_._2).reduce(_ unionByName _))
      if (rows == 0L) None else Some(n -> df)
    }

  /** Flatten channel retries into the persisted park layout `periodic`
    * reads: one table with `retry_node`, `attempt`=0 and a first
    * `next_try_ms` (store_until_retry, retry.py:58). */
  def park(retries: Seq[(String, DataFrame)], nowMs: Long): DataFrame = {
    val flat = group(retries).map { case (n, df) =>
      df.withColumn("retry_node", lit(n)).withColumn("attempt", lit(0L))
    }.reduce(_ unionByName _)
    RetryStore.reschedule(flat, nowMs)
  }

  /** One re-send pass over parked groups: re-inject each group at its node,
    * return (completed mains, still-parked groups). The still-parked
    * groups come back materialized, empty ones dropped: one Spark job per
    * group; the mains stay lazy. */
  def tick(channel: Channel, parked: Seq[(String, DataFrame)]): (Seq[DataFrame], Seq[(String, DataFrame)]) = {
    val results: Seq[ChannelResult] = parked.map { case (node, df) =>
      channel.runFrom(node, df.withColumn("attempt", col("attempt") + 1L))
    }
    (results.map(_.main), group(results.flatMap(_.retries)))
  }

  /** Drive re-send rounds until the parked set drains or `maxAttempts`
    * rounds have run; survivors exhaust to state `error` (the VERDICT-r2
    * contract: park → due → in-order re-emit → success/exhaust).
    *
    * Parked groups that hold no rows are dropped when they are first
    * materialized; if none holds any, no round runs and the result is
    * `rounds = 0` with zero-row `states`.
    *
    * @param parked   initial parked groups (nodename → pre-node rows), e.g.
    *                 `channelResult.retries`; at least one
    * @param tsCol    arrival-time column (re-send order within a round)
    * @param orderCol tie-break column for deterministic order
    */
  def resendLoop(
      channel: Channel,
      parked: Seq[(String, DataFrame)],
      tsCol: String,
      orderCol: String,
      maxAttempts: Int): RetryResult = {
    if (parked.isEmpty)
      throw new IllegalArgumentException("resendLoop: no parked groups given")
    var remaining = group(parked).map { case (n, df) =>
      n -> df.withColumn("attempt", lit(0L))
    }
    var emitted = Vector.empty[DataFrame]
    var round = 0
    while (remaining.nonEmpty && round < maxAttempts) {
      round += 1
      // tick's grouping checkpoints the re-parked groups: each round's
      // lineage starts at the previous round's materialized park
      val (mains, next) = tick(channel, remaining)
      emitted ++= mains.map(_.withColumn("emit_round", lit(round.toLong)))
      remaining = next
    }
    // global emission order: round first, then arrival order — the single-
    // partition window is over the parked set only (failures, not corpus)
    val ok = emitted.reduceOption(_ unionByName _).map { df =>
      df.withColumn("retry_state", lit(Msg.PROCESSED))
        .withColumn("emit_seq", row_number().over(graft.ops.BoundedWindow
          .orderBy(col("emit_round"), col(tsCol), col(orderCol))).cast("long"))
        .drop("emit_round")
    }
    def exhaust(df: DataFrame): DataFrame =
      df.withColumn("retry_state", lit(Msg.ERROR))
        .withColumn("emit_seq", lit(null).cast("long"))
    val exhausted = remaining.map(_._2).reduceOption(_ unionByName _).map(exhaust)
    val states = (ok ++ exhausted).reduceOption(_ unionByName _).getOrElse(
      // nothing was parked after all: the exhausted shape, over zero rows
      exhaust(parked.head._2.withColumn("attempt", lit(0L)).limit(0)))
    RetryResult(states, round)
  }

  /** Deployed form (retry.py:232 wait_retries): a ProcessingTime-triggered
    * job; each trigger reads the parked parquet table, re-sends the groups
    * whose `next_try_ms` has passed (RetryStore.due), appends completions
    * to `emittedPath` and rewrites the park with survivors re-scheduled.
    * The rate stream is only the clock — the parked table is the state. */
  def periodic(
      spark: org.apache.spark.sql.SparkSession,
      channel: Channel,
      parkedPath: String,
      emittedPath: String,
      checkpoint: String,
      intervalSec: Int,
      tsCol: String,
      orderCol: String): StreamingQuery = {
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$intervalSec seconds"))
      .foreachBatch { (_: DataFrame, _: Long) =>
        val parked = spark.read.parquet(parkedPath)
        val nowMs = java.time.Instant.now().toEpochMilli
        val due = RetryStore.due(parked, nowMs, tsCol, orderCol)
        val nodes = due.select(col("retry_node")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        val groups = nodes.map(n => n -> due.filter(col("retry_node") === n))
        if (groups.nonEmpty) {
          val (mains, stillParked) = tick(channel, groups)
          mains.reduceOption(_ unionByName _)
            .foreach(_.write.mode("append").parquet(emittedPath))
          val notDue = parked.filter(col("next_try_ms") > nowMs)
          // a row can re-park at a LATER node than it entered (progress
          // through the pipeline) — stamp the group's node name over the
          // stale one carried in from the previous park
          val reparked = stillParked
            .map { case (n, df) => df.withColumn("retry_node", lit(n)) }
            .reduceOption(_ unionByName _)
            .map(RetryStore.reschedule(_, nowMs))
          val newPark = reparked.fold(notDue)(notDue.unionByName(_, allowMissingColumns = true))
            .localCheckpoint(true)
          newPark.write.mode("overwrite").parquet(parkedPath)
        }
        ()
      }
      .start()
  }
}
