package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The benchmark's own tests, run with `python3 perfbench/run.py --selftest`:
  *   - every generator writes the same bytes for the same seed and other
  *     bytes for another seed;
  *   - every reference check accepts graft's real output (curate, graph)
  *     or the reference's own answer (esb) and rejects a deliberately
  *     perturbed one.
  * Prints one line per test and exits 1 if any fails. */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean)]

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => System.err.println(e); false }
    results += name -> r
    println(s"${if (r) "ok  " else "FAIL"} $name")
  }

  /** The check accepts `good` and flags every perturbation. */
  private def rejects[T](what: String, check: T => Seq[String], good: T,
      perturbed: Seq[(String, T)]): Unit = {
    test(s"$what: accepts the unperturbed output")(check(good).isEmpty)
    perturbed.foreach { case (how, t) => test(s"$what: rejects $how")(check(t).nonEmpty) }
  }

  def main(args: Array[String]): Unit = {
    val root = Files.createTempDirectory("graftbench-selftest")
    val spark = Bench.session()
    try run(spark, root)
    finally { spark.stop(); Bench.deleteTree(root) }
    val failed = results.count(!_._2)
    println(s"${results.size} tests, $failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }

  private def run(spark: SparkSession, root: Path): Unit = {
    def gens: Seq[(String, (Path, Long) => Unit)] = Seq(
      "curate" -> ((d, s) => Gen.corpus(d, s, 400)),
      "graph" -> ((d, s) => Gen.graph(d, s, 600, 2.0)),
      "esb" -> ((d, s) => Gen.orders(d, s, 100, 4)))
    gens.foreach { case (name, gen) =>
      val digests = Seq(("a", 7L), ("b", 7L), ("c", 8L)).map { case (tag, seed) =>
        val d = root.resolve(s"gen-$name-$tag")
        gen(d, seed)
        Gen.digest(d)
      }
      test(s"$name generator: same seed, same bytes")(digests(0) == digests(1))
      test(s"$name generator: other seed, other bytes")(digests(0) != digests(2))
    }

    val cw = new Curate(600)
    cw.generate(spark, root.resolve("curate"), 3L)
    val (ct, co) = cw.checkedPass(spark)
    val dupIn = ct.exactDupOf.keys.find(co.filtered.map(_._1).toSet).get
    rejects[Checks.CurateOut]("curate check",
      o => Checks.curate(ct, o, cw.NearRecallFloor, cw.SemRecallFloor), co, Seq(
        "a planted exact duplicate kept" -> co.copy(exact = co.exact + dupIn),
        "a unique doc dropped by exact dedup" -> co.copy(exact = co.exact - co.exact.max),
        "near duplicates left in" -> co.copy(near = co.exact),
        "a near-dedup survivor exact dedup dropped" -> co.copy(near = co.near + dupIn),
        "semantic duplicates left in" -> co.copy(semOut = co.semIn),
        "an output id not in the input" -> co.copy(out = co.out + -1L)))

    val gw = new GraphWorkload(800, 2.0)
    gw.generate(spark, root.resolve("graph"), 3L)
    val (gt, rows, pr) = gw.checkedPass(spark)
    def edit(f: Checks.GraphRow => Checks.GraphRow): Seq[Checks.GraphRow] =
      f(rows.head) +: rows.tail
    val reached = rows.indexWhere(_.hops.exists(_ > 0))
    rejects[(Seq[Checks.GraphRow], Map[Long, Double])]("graph check",
      { case (r, p) => gw.check(r, p, gt) }, (rows, pr), Seq(
        "a wrong component" -> (edit(r => r.copy(component = r.component + 1)), pr),
        "a wrong hop count" ->
          (rows.updated(reached, rows(reached).copy(hops = rows(reached).hops.map(_ + 1))), pr),
        "a wrong label" -> (edit(r => r.copy(label = Some(r.label.getOrElse(0L) + 9))), pr),
        "a flipped k-core flag" -> (edit(r => r.copy(inCore = !r.inCore)), pr),
        "a missing node" -> (rows.tail, pr),
        "a rank off by 1e-6" -> (rows, pr.updated(pr.head._1, pr.head._2 + 1e-6))))

    val orders = Gen.orders(root.resolve("esb"), 3L, 120, 4)
    val valid = orders.find(_.valid).get
    val bad = orders.find(!_.valid).get
    val okReply = (o: Gen.Order) => if (o.valid) s"{${o.id}, ${o.sku}, ${o.qty}}" else "Dropped"
    rejects[Seq[(Gen.Order, Int, String)]]("esb reply check",
      _.flatMap { case (o, st, b) => Checks.reply(o, st, b) },
      Seq((valid, 200, okReply(valid)), (bad, 200, okReply(bad))), Seq(
        "a valid order dropped" -> Seq((valid, 200, "Dropped")),
        "a rejected order answered" -> Seq((bad, 200, okReply(valid))),
        "a wrong quantity" -> Seq((valid, 200, okReply(valid.copy(qty = valid.qty + 1)))),
        "an error status" -> Seq((valid, 503, okReply(valid)))))
    val pages = Checks.esbPages(orders)
    pages.foreach { case (what, want) =>
      rejects[Seq[String]](s"esb page check ($what)", got => Checks.page(what, got, want).toSeq,
        want, Seq(
          "a missing row" -> want.tail,
          "two rows swapped" -> (want(1) +: want.head +: want.drop(2)),
          "a foreign row" -> want.updated(0, Esb.md5("foreign"))))
    }
    val wiring = graft.examples.EsbExample.build(spark, root.resolve("esb-store").toString)
    wiring.endpoint.stop()
    val channel = wiring.channel
    val batch = channel.run(spark.read.schema(Esb.FileSchema).json(root.resolve("esb/stream").toString)).main
    val ref = Esb.sinkSignature(batch)
    rejects[DataFrame]("esb file-channel sink check", df => Checks.sink(Esb.sinkSignature(df), ref).toSeq,
      batch, Seq(
        "a missing message" -> batch.filter(col("uuid") =!= Esb.md5(valid.body)),
        "a message in another state" ->
          batch.withColumn("state", when(col("uuid") === Esb.md5(valid.body), lit("error"))
            .otherwise(col("state")))))
    val want = orders.groupBy(Checks.expectedState).map { case (s, xs) => s -> xs.size.toLong }
    rejects[Map[String, Long]]("esb store-state check", got => Checks.states(got, want).toSeq,
      want, Seq("one message in another state" ->
        want.updated("processed", want("processed") - 1).updated("rejected", want("rejected") + 1)))
  }
}
