package graft

import graft.api.{Channel, Node}
import graft.model.Msg
import graft.store.{RetryDriver, RetryStore}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The retry re-send loop (retry.py:103-241): park → due → in-order
  * re-emit → success/exhaust, driven through Channel.runFrom with node-level
  * autoRetryOn diversion (nodes.py:194-201 auto_retry_exceptions). */
class RetryDriverSpec extends SparkSpec {
  import spark.implicits._

  private def input = Seq(
    (1L, "2024-01-01 10:00:00", "a", 1L), // succeeds on re-send attempt 1
    (2L, "2024-01-01 10:00:01", "b", 3L), // attempt 3
    (3L, "2024-01-01 10:00:02", "c", 2L), // attempt 2
    (4L, "2024-01-01 10:00:03", "d", 5L)) // never within maxAttempts=3
    .toDF("id", "ts0", "payload", "succeed_attempt")
    .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")

  private def sender = Node("send")(
    _.withColumn("payload", concat(lit("sent:"), col("payload"))))
    .withAutoRetry(col("attempt") < col("succeed_attempt"))

  test("initial handle parks everything via autoRetryOn (old message, node name)") {
    val first = Channel("rc").add(sender).run(input.withColumn("attempt", lit(0L)))
    assert(first.main.count() == 0)
    assert(first.retries.map(_._1) == Seq("send"))
    val parked = first.retries.head._2
    assert(parked.count() == 4)
    // reference parks the OLD message: payload untouched by the node
    assert(parked.filter(col("payload").startsWith("sent:")).count() == 0)
  }

  test("resendLoop: in-order re-emit across rounds, exhaust to error after maxAttempts") {
    val chan = Channel("rc").add(sender)
    val first = chan.run(input.withColumn("attempt", lit(0L)))
    val r = RetryDriver.resendLoop(chan, first.retries, "ts", "id", maxAttempts = 3)
    assert(r.rounds == 3)
    val rows = r.states
      .select("id", "attempt", "retry_state", "emit_seq", "payload")
      .as[(Long, Long, String, Option[Long], String)]
      .collect().sortBy(_._1)
    // id → (attempts used, state, emission order)
    assert(rows(0) == ((1L, 1L, Msg.PROCESSED, Some(1L), "sent:a")))
    assert(rows(1) == ((2L, 3L, Msg.PROCESSED, Some(3L), "sent:b")))
    assert(rows(2) == ((3L, 2L, Msg.PROCESSED, Some(2L), "sent:c")))
    // exhausted: state error, never emitted, node never ran on it
    assert(rows(3) == ((4L, 3L, Msg.ERROR, None, "d")))
  }

  test("resendLoop: a 3-round loop runs 4 Spark jobs, one per grouping") {
    // read from a file: a toDF fixture folds into a LocalRelation, whose
    // probes and checkpoints run no job and so would count nothing
    val dir = Files.createTempDirectory("graft_retry_jobs").toString
    input.write.parquet(s"$dir/in")
    val chan = Channel("rc").add(sender)
    val first = chan.run(spark.read.parquet(s"$dir/in").withColumn("attempt", lit(0L)))
    val (r, jobs) = JobCount(spark)(
      RetryDriver.resendLoop(chan, first.retries, "ts", "id", maxAttempts = 3))
    assert(r.rounds == 3)
    assert(jobs == 4, s"a 3-round resendLoop ran $jobs Spark jobs")
    assert(r.states.select("id", "retry_state").as[(Long, String)].collect().toMap ==
      Map(1L -> Msg.PROCESSED, 2L -> Msg.PROCESSED, 3L -> Msg.PROCESSED, 4L -> Msg.ERROR))
  }

  test("resendLoop: nothing parked runs no round; no groups at all still throws") {
    val chan = Channel("none").add(sender.withAutoRetry(lit(false)))
    val first = chan.run(input.withColumn("attempt", lit(0L)))
    assert(first.retries.map(_._1) == Seq("send")) // a group, but empty
    val r = RetryDriver.resendLoop(chan, first.retries, "ts", "id", maxAttempts = 3)
    assert(r.rounds == 0)
    assert(r.states.count() == 0)
    assert(Seq("id", "attempt", "retry_state", "emit_seq").forall(r.states.columns.contains))
    intercept[IllegalArgumentException](
      RetryDriver.resendLoop(chan, Seq.empty, "ts", "id", maxAttempts = 3))
  }

  test("re-park can progress to a later node (inject at nodename, fail further down)") {
    // n1 fails the first handle only; n2 fails id=2 until attempt 2
    val n1 = Node("n1")(_.withColumn("payload", concat(col("payload"), lit("+1"))))
      .withAutoRetry(col("attempt") < 1)
    val n2 = Node("n2")(_.withColumn("payload", concat(col("payload"), lit("+2"))))
      .withAutoRetry(col("id") === 2 && col("attempt") < 2)
    val chan = Channel("two").add(n1, n2)
    val first = chan.run(input.withColumn("attempt", lit(0L)))
    // n2 also registers a (structurally empty) retries entry; only n1 holds rows
    assert(first.retries.filter(!_._2.isEmpty).map(_._1) == Seq("n1"))
    val (mains, reparked) = RetryDriver.tick(chan, first.retries)
    // round 1: everyone clears n1; id=2 re-parks at n2 (progress), rest emit
    assert(reparked.map(_._1) == Seq("n2"))
    assert(reparked.head._2.select("id").as[Long].collect().toSeq == Seq(2L))
    val emitted = mains.head.select("id", "payload").as[(Long, String)].collect().toMap
    assert(emitted.keySet == Set(1L, 3L, 4L))
    assert(emitted(1L) == "a+1+2") // both nodes ran on the success path
    // round 2: id=2 re-injects AT n2 — the parked payload already carries
    // n1's effect (the reference parks the message as it reached the
    // failing node), and n1 must NOT run a second time on re-injection
    val (mains2, reparked2) = RetryDriver.tick(chan, reparked)
    assert(reparked2.isEmpty)
    val row2 = mains2.head.select("id", "payload").as[(Long, String)].head()
    assert(row2 == ((2L, "b+1+2"))) // "+1" from round 1, "+2" once — not "b+1+1+2"
  }

  test("periodic: one ProcessingTime tick drains a due parked table to the emitted sink") {
    val dir = Files.createTempDirectory("graft_retry_periodic").toString
    val chan = Channel("p").add(
      Node("send")(_.withColumn("payload", concat(lit("out:"), col("payload"))))
        .withAutoRetry(col("attempt") < col("succeed_attempt")))
    val first = chan.run(input.filter(col("id") === 1L).withColumn("attempt", lit(0L)))
    // park with next_try in the past so the first tick finds it due
    RetryDriver.park(first.retries, nowMs = 0L)
      .write.parquet(s"$dir/parked")
    val q = RetryDriver.periodic(spark, chan, s"$dir/parked", s"$dir/emitted",
      s"$dir/ckpt", intervalSec = 1, tsCol = "ts", orderCol = "id")
    try {
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        done = try {
          spark.read.parquet(s"$dir/emitted").count() == 1
        } catch { case _: Exception => false } // sink not written yet
      }
      assert(done, "periodic tick did not emit the due message in time")
      val out = spark.read.parquet(s"$dir/emitted")
        .select("id", "payload").as[(Long, String)].head()
      assert(out == ((1L, "out:a")))
    } finally q.stop()
  }

  test("schedule/reschedule: backoff doubles from the existing attempt counter") {
    val parked = Seq((1L, 3L)).toDF("id", "attempt")
    val r = RetryStore.reschedule(parked, nowMs = 1000L)
      .select("backoff_sec", "next_try_ms").as[(Long, Long)].head()
    assert(r == ((8L, 9000L))) // 2^3 s after now
  }
}
