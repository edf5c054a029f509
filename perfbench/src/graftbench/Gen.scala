package graftbench

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded input generators, one per workload, each returning the ground
  * truth the output checks compare against. The same seed writes the same
  * bytes: rows come from `SplittableRandom` and are written in order. */
object Gen {

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  /** Cumulative Zipf(s) weights over n ranks; `draw` maps a uniform to a rank. */
  final class Zipf(n: Int, s: Double) {
    private val cum = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Write rows as `nFiles` parquet files `part-NNNNN.parquet`, in row
    * order, with parquet's own writer: no Spark job, same bytes for the same
    * rows. Values map to the schema's fields by position; a `Seq[Float]`
    * fills a LIST of floats. */
  def writeParquet(rows: IndexedSeq[Seq[Any]], schema: String, nFiles: Int, dir: Path): Unit = {
    val msg = MessageTypeParser.parseMessageType(schema)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    GroupWriteSupport.setSchema(msg, conf)
    Files.createDirectories(dir)
    val per = (rows.size + nFiles - 1) / nFiles
    for (f <- 0 until nFiles) {
      val w = ExampleParquetWriter
        .builder(new LocalOutputFile(dir.resolve(f"part-$f%05d.parquet")))
        .withConf(conf).withType(msg)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try rows.slice(f * per, (f + 1) * per).foreach { row =>
        val g = new SimpleGroup(msg)
        row.zipWithIndex.foreach {
          case (v: Long, i) => g.add(i, v)
          case (v: String, i) => g.add(i, v)
          case (v: Seq[_], i) =>
            val list = g.addGroup(i)
            v.foreach(x => list.addGroup(0).add(0, x.asInstanceOf[Float]))
          case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
        }
        w.write(g)
      } finally w.close()
    }
  }

  // ---------------------------------------------------------------- curate

  val Langs: Seq[String] = Seq("en", "fr", "de", "es")
  val DocFiles = 16
  private val Syllables: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "er", "on", "an", "st", "ing", "ow", "ed", "ly", "br"),
    "fr" -> Seq("eau", "oi", "ou", "ain", "ier", "qu", "on", "ch", "elle", "ant"),
    "de" -> Seq("sch", "ung", "ei", "ach", "ter", "ig", "keit", "au", "zer", "ern"),
    "es" -> Seq("ar", "os", "ci", "ón", "ll", "ez", "ad", "que", "ero", "ia"))
  /** Stopwords outside every language's marker set: they raise quality
    * and stop hits without tilting language identification. */
  private val Fillers = Seq("to", "in", "is", "it")

  final case class CorpusTruth(
      nDocs: Int,
      exactDupOf: Map[Long, Long], // planted exact copy -> original
      nearDupOf: Map[Long, Long], // planted near copy (two words edited) -> original
      vecDupOf: Map[Long, Long]) // planted near-duplicate embedding -> original

  def corpus(dir: Path, seed: Long, nDocs: Int): CorpusTruth = {
    val r = rng(seed, "curate")
    val vocab = Langs.map { l =>
      val syl = Syllables(l)
      l -> Array.fill(3000)((1 to 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString)
    }.toMap
    val zipf = new Zipf(3000, 1.05)
    val markers = graft.functions.TextFunctions.defaultMarkers
    def sentence(lang: String, n: Int, stopP: Double): String =
      (1 to n).map { _ =>
        val u = r.nextDouble()
        if (u < 0.12) markers(lang)(r.nextInt(4))
        else if (u < 0.12 + stopP) Fillers(r.nextInt(Fillers.size))
        else vocab(lang)(zipf.draw(r))
      }.mkString(" ")
    val boiler = Langs.map(l => l -> Array.fill(12)(sentence(l, 10, 0.1))).toMap
    val spans = Langs.map(l => l -> Array.fill(20)(sentence(l, 14, 0.1))).toMap
    val nSources = 30
    val lowQ = Set(27, 28, 29).map(i => f"src-$i%02d")

    val texts = new Array[String](nDocs)
    val langs = new Array[String](nDocs)
    val srcs = new Array[String](nDocs)
    val exact = mutable.LinkedHashMap.empty[Long, Long]
    val near = mutable.LinkedHashMap.empty[Long, Long]
    val originals = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until nDocs) {
      val src = f"src-${r.nextInt(nSources)}%02d"
      val u = r.nextDouble()
      if (i >= nDocs / 10 && u < 0.06) {
        val o = originals(r.nextInt(originals.size))
        texts(i) = texts(o); langs(i) = langs(o); exact(i.toLong) = o.toLong
      } else if (i >= nDocs / 10 && u < 0.12) {
        val o = originals(r.nextInt(originals.size))
        val ws = texts(o).split(" ")
        for (_ <- 1 to 2) {
          val k = r.nextInt(ws.length)
          ws(k) = vocab(langs(o))(r.nextInt(3000)) + (if (ws(k).endsWith(".")) "." else "")
        }
        texts(i) = ws.mkString(" "); langs(i) = langs(o); near(i.toLong) = o.toLong
      } else {
        val lang = Langs(r.nextInt(Langs.size))
        val bad = lowQ(src)
        val lines = mutable.ArrayBuffer.fill(6 + r.nextInt(9))(
          sentence(lang, 8 + r.nextInt(9), if (bad) 0.01 else 0.1))
        if (r.nextDouble() < 0.3) lines.insert(0, boiler(lang)(r.nextInt(12)))
        if (r.nextDouble() < 0.2) lines += boiler(lang)(r.nextInt(12))
        if (r.nextDouble() < 0.15) lines.insert(r.nextInt(lines.size), spans(lang)(r.nextInt(20)))
        val body = lines.map(_ + ".").mkString(" ")
        texts(i) =
          if (!bad) body
          else body.split(" ").map(w => if (r.nextDouble() < 0.4) w + "!" else w).mkString(" ")
        langs(i) = lang
        originals += i
      }
      srcs(i) = src
    }
    writeParquet((0 until nDocs).map(i => Seq(i.toLong, texts(i), langs(i), srcs(i))),
      """message docs { required int64 doc_id; required binary text (UTF8);
        required binary lang (UTF8); required binary source (UTF8); }""",
      DocFiles, dir.resolve("docs"))

    val dim = 32
    val vecs = new Array[Array[Float]](nDocs)
    val vdup = mutable.LinkedHashMap.empty[Long, Long]
    for (i <- 0 until nDocs) {
      vecs(i) =
        if (i >= nDocs / 10 && r.nextDouble() < 0.05) {
          val o = r.nextInt(nDocs / 10)
          vdup(i.toLong) = o.toLong
          vecs(o).map(x => (x + 0.01 * r.nextGaussian()).toFloat)
        } else {
          val v = Array.fill(dim)(r.nextGaussian())
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(x => (x / n).toFloat)
        }
    }
    writeParquet((0 until nDocs).map(i => Seq(i.toLong, vecs(i).toSeq)),
      """message embeddings { required int64 vec_id;
        required group embedding (LIST) { repeated group list { required float element; } } }""",
      8, dir.resolve("embeddings"))
    CorpusTruth(nDocs, exact.toMap, near.toMap, vdup.toMap)
  }

  // ----------------------------------------------------------------- graph

  final case class GraphTruth(
      nodes: Array[Long],
      edges: Array[(Long, Long)], // undirected, each pair once (a < b)
      seeds: Array[(Long, Long)], // (id, label)
      component: Map[Long, Int]) // planted component of every node

  def graph(dir: Path, seed: Long, nNodes: Int, extraPerNode: Double): GraphTruth = {
    val r = rng(seed, "graph")
    val shares = Seq(0.4, 0.25, 0.15, 0.1, 0.06, 0.04)
    val sizes = shares.map(s => math.max(2, (s * nNodes).toInt))
    // distinct, unordered node ids: a seeded shuffle of a sparse range
    val ids = {
      val a = Array.tabulate(sizes.sum)(i => 1000L + 7L * i)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
    def add(a: Long, b: Long): Unit = if (a != b) pairs += ((math.min(a, b), math.max(a, b)))
    val comp = mutable.HashMap.empty[Long, Int]
    var off = 0
    sizes.zipWithIndex.foreach { case (n, c) =>
      val node = (k: Int) => ids(off + k)
      (0 until n).foreach(k => comp(node(k)) = c)
      // random recursive tree, biased to early nodes: connected, hubs,
      // depth logarithmic in n (bounded diameter)
      for (k <- 1 until n) add(node(k), node((math.pow(r.nextDouble(), 2) * k).toInt))
      // extra edges with one skewed endpoint: a heavy-tailed degree mix
      for (_ <- 0 until (n * extraPerNode).toInt)
        add(node((math.pow(r.nextDouble(), 3) * n).toInt), node(r.nextInt(n)))
      off += n
    }
    val edges = pairs.toArray
    val seeds = ids.filter(_ => r.nextDouble() < 0.02).map(id => (id, 1L + r.nextInt(4)))
    writeParquet(edges.toIndexedSeq.flatMap { case (a, b) => Seq(Seq(a, b), Seq(b, a)) },
      "message edges { required int64 src; required int64 dst; }", 8, dir.resolve("edges"))
    writeParquet(ids.toIndexedSeq.map(Seq(_)), "message nodes { required int64 id; }",
      2, dir.resolve("nodes"))
    writeParquet(seeds.toIndexedSeq.map { case (i, l) => Seq(i, l) },
      "message seeds { required int64 id; required int64 label; }", 1, dir.resolve("seeds"))
    GraphTruth(ids, edges, seeds, comp.toMap)
  }

  // ------------------------------------------------------------------- esb

  /** One order message. `flaky`: 0 = clean, 1 = fails its first delivery
    * then succeeds on re-send, 2 = fails every delivery. */
  final case class Order(id: Long, body: String, kind: String, sku: String,
      qty: Long, flaky: Int) {
    def valid: Boolean = kind == "valid"
  }

  /** `n` orders as `orders.jsonl`, one request body a line, and the same
    * orders as messages in `streamFiles` JSON files under `stream/` for the
    * file channel: arrival second i for line i, id the md5 of the body.
    * About 10% have qty <= 0 and `malformedShare` of them are cut in half
    * (malformed JSON); the rest are valid. */
  def orders(dir: Path, seed: Long, n: Int, streamFiles: Int,
      malformedShare: Double = 0.05): IndexedSeq[Order] = {
    val r = rng(seed, "esb")
    val zipf = new Zipf(50, 1.1)
    val out = (1 to n).map { i =>
      val sku = f"SKU-${zipf.draw(r)}%02d"
      val u = r.nextDouble()
      val qty = if (u < 0.10) -r.nextInt(3).toLong else 1L + r.nextInt(20)
      val body = s"""{"order_id":$i,"sku":"$sku","qty":$qty}"""
      if (u >= 0.10 && u < 0.10 + malformedShare) Order(i, body.take(body.length / 2), "malformed", sku, qty, 0)
      else if (qty <= 0) Order(i, body, "reject", sku, qty, 0)
      else {
        val f = r.nextDouble()
        Order(i, body, "valid", sku, qty, if (f < 0.04) 1 else if (f < 0.06) 2 else 0)
      }
    }
    Files.createDirectories(dir)
    Files.write(dir.resolve("orders.jsonl"), out.map(_.body).mkString("", "\n", "\n").getBytes("UTF-8"))
    val stream = dir.resolve("stream")
    Files.createDirectories(stream)
    val per = (n + streamFiles - 1) / streamFiles
    out.zipWithIndex.grouped(per).zipWithIndex.foreach { case (part, f) =>
      val lines = part.map { case (o, i) =>
        val body = o.body.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"payload":"$body","uuid":"${Esb.md5(o.body)}","ts":"${Esb.at(i).replace(" ", "T")}Z",""" +
          """"content_type":"file","meta":{},"state":"pending","ctx":{},"attempt":0}"""
      }
      Files.write(stream.resolve(f"part-$f%05d.json"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    out
  }

  /** Hash of every file under `dir`, relative names included. */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(p => dir.relativize(p).toString).foreach { p =>
        md.update(dir.relativize(p).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    md.digest().map(b => f"$b%02x").mkString
  }
}
