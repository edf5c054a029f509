package graft

import graft.api.{Channel, Node}
import graft.functions.Codecs
import graft.net._
import org.apache.spark.sql.functions._
import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}

/** Inbound endpoints (contrib/http.py HTTPEndpoint/HttpChannel, contrib/
  * hl7.py MLLPChannel) and the SMTP transport — all driven against real
  * sockets bound to 127.0.0.1 (in-process, zero egress). */
class EndpointSpec extends SparkSpec {
  import spark.implicits._

  private def httpGet(url: String): (Int, String) = {
    val resp = JdkHttpTransport.send(HttpRequest("GET", url))
    (resp.status, resp.body)
  }
  private def httpPost(url: String, body: String): (Int, String) = {
    val resp = JdkHttpTransport.send(HttpRequest("POST", url, body = Some(body)))
    (resp.status, resp.body)
  }

  test("HttpChannel: request → channel → response, meta carries method/url/query") {
    val ep = new HttpEndpoint(spark)
    val chan = Channel("up").add(
      Node("fmt")(_.withColumn("payload",
        concat(upper(col("payload")), lit(" via "),
          element_at(col("meta"), "method"), lit(" q="),
          element_at(col("meta"), "get_params")))))
    ep.addChannel("/ingest", chan)
    ep.start()
    try {
      val (status, body) = httpPost(ep.url("/ingest?a=1"), "hello")
      assert(status == 200)
      assert(body == "HELLO via POST q=a=1")
    } finally ep.stop()
  }

  test("HttpChannel: status_code from meta, Dropped → 200, error → 503, log replayable") {
    val ep = new HttpEndpoint(spark)
    val created = Channel("created").add(Node("st")(
      _.withColumn("meta", map_concat(col("meta"), map(lit("status_code"), lit("201"))))))
    val dropper = Channel("dropper").dropWhen(lit(true))
    val boom = Channel("boom").add(graft.api.Nodes.RaiseError("kaput"))
    ep.addChannel("/created", created)
    ep.addChannel("/drop", dropper)
    ep.addChannel("/boom", boom)
    ep.start()
    try {
      assert(httpGet(ep.url("/created")) == ((201, "")))
      assert(httpGet(ep.url("/drop")) == ((200, "Dropped")))
      val (st, body) = httpGet(ep.url("/boom"))
      assert(st == 503 && body.contains("kaput"))
      // the ingest log recorded every request for bulk replay
      val log = ep.requestLog.select("method", "url").as[(String, String)].collect()
      assert(log.map(_._2).toSet == Set("/created", "/drop", "/boom"))
    } finally ep.stop()
  }

  private def httpSend(url: String, body: String, headers: Map[String, String] = Map.empty) = {
    val resp = JdkHttpTransport.send(
      HttpRequest("POST", url, headers = headers, body = Some(body)))
    (resp.status, resp.body)
  }

  test("compiled route: the channel is built once, not per request") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/up", Channel("up").add(Node("count") { df =>
      calls.incrementAndGet()
      df.withColumn("payload", upper(col("payload")))
    }))
    ep.start()
    try {
      assert(calls.get == 0) // wiring does not compile
      val replies = (1 to 20).map(i => httpPost(ep.url("/up"), s"msg $i"))
      assert(replies == (1 to 20).map(i => (200, s"MSG $i")))
      assert(calls.get == 1)
    } finally ep.stop()
  }

  test("compiled route: each request gets its own body, query, headers and meta order, also after a 503") {
    val ep = new HttpEndpoint(spark)
    val echo = Channel("echo").add(Node("echo")(_.withColumn("payload",
      when(col("payload") === "boom", raise_error(lit("kaput")).cast("string"))
        .otherwise(concat_ws(" ", col("payload"), element_at(col("meta"), "get_params"),
          coalesce(element_at(col("meta"), "header_X-tag"), lit("-")),
          array_join(map_keys(col("meta")), ","))))))
    ep.addChannel("/h", echo, addHeaders = true)
    ep.addChannel("/plain", echo)
    ep.start()
    try {
      val replies = Seq("a", "boom", "b", "c").map(b =>
        httpSend(ep.url(s"/h?q=$b"), b, Map("X-tag" -> s"t-$b")))
      assert(replies(0)._1 == 200 && replies(0)._2.startsWith("a q=a t-a "))
      assert(replies(1)._1 == 503 && replies(1)._2.contains("kaput"))
      assert(replies(2)._1 == 200 && replies(2)._2.startsWith("b q=b t-b "))
      assert(replies(3)._1 == 200 && replies(3)._2.startsWith("c q=c t-c "))
      // meta keys are sorted: method, url, get_params and header_* entries
      val keys = replies(0)._2.split(" ").last.split(",").toSeq
      assert(keys == keys.sorted && keys.contains("header_X-tag"))
      assert(httpSend(ep.url("/plain?z=1"), "p") == ((200, "p z=1 - get_params,method,url")))
      assert(httpSend(ep.url("/plain"), "boom")._1 == 503)
      assert(httpSend(ep.url("/plain?z=2"), "r") == ((200, "r z=2 - get_params,method,url")))
    } finally ep.stop()
  }

  test("compiled route: a self-join and a union of the message both see the current request") {
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/self", Channel("self").add(Node("selfJoin") { df =>
      val up = df.select(col("uuid"), upper(col("payload")).as("up"))
      df.join(up, "uuid")
        .withColumn("payload", concat(col("payload"), lit("/"), col("up"))).drop("up")
    }))
    ep.addChannel("/union", Channel("union").add(Node("union") { df =>
      df.unionByName(df.withColumn("payload", upper(col("payload"))))
        .agg(concat_ws("+", sort_array(collect_list(col("payload")))).as("payload"),
          first(col("meta")).as("meta"))
    }))
    ep.start()
    try {
      for (b <- Seq("ab", "cd", "ef")) {
        assert(httpPost(ep.url("/self"), b) == ((200, s"$b/${b.toUpperCase}")))
        assert(httpPost(ep.url("/union"), b) == ((200, s"${b.toUpperCase}+$b")))
      }
    } finally ep.stop()
  }

  test("compiled route: a static lookup table joined in a node is kept") {
    val lookup = Seq(("a", "apple"), ("b", "banana")).toDF("k", "v")
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/fruit", Channel("fruit").add(Node("lookup") { df =>
      df.join(lookup, df("payload") === lookup("k"), "left")
        .withColumn("payload", coalesce(col("v"), lit("?"))).drop("k", "v")
    }))
    ep.start()
    try {
      assert(Seq("a", "b", "c", "a").map(b => httpPost(ep.url("/fruit"), b)._2)
        == Seq("apple", "banana", "?", "apple"))
    } finally ep.stop()
  }

  test("compiled route: a node that writes the message while wiring (Nodes.Save) runs per request") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ep_save").toString
    val store = new graft.store.MessageStore(spark, s"$dir/msgs")
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/save", Channel("save").add(graft.api.Nodes.Save(store)))
    ep.start()
    try {
      assert(Seq("s1", "s2", "s3").map(b => httpPost(ep.url("/save"), b))
        == Seq("s1", "s2", "s3").map(b => (200, b)))
      assert(store.all().select("payload").as[String].collect().sorted.toSeq
        == Seq("s1", "s2", "s3"))
    } finally ep.stop()
  }

  test("compiled route: rand() is drawn afresh per request") {
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/rand", Channel("rand").add(Node("rand")(
      _.withColumn("payload", rand().cast("string")))))
    ep.start()
    try {
      val draws = (1 to 3).map(_ => httpPost(ep.url("/rand"), "x"))
      assert(draws.forall(_._1 == 200))
      assert(draws.map(_._2).distinct.size == 3)
    } finally ep.stop()
  }

  test("compiled route: a node that samples the message draws afresh per request") {
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/sample", Channel("sample").add(Node("sample")(_.sample(0.5))))
    ep.start()
    try {
      val replies = (1 to 20).map(_ => httpPost(ep.url("/sample"), "x"))
      assert(replies.toSet == Set((200, "x"), (200, "Dropped")))
    } finally ep.stop()
  }

  test("compiled route: a node that reads the message's rows while wiring (first()) runs per request") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/peek", Channel("peek").add(Node("peek") { df =>
      calls.incrementAndGet()
      df.withColumn("payload", lit(df.first().getString(0).reverse))
    }))
    ep.start()
    try {
      assert(Seq("abc", "xyz", "pq").map(b => httpPost(ep.url("/peek"), b))
        == Seq((200, "cba"), (200, "zyx"), (200, "qp")))
      assert(calls.get == 3)
    } finally ep.stop()
  }

  test("compiled route: a node that reads files sees files added between requests") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ep_files").toString
    Seq("a").toDF("k").write.mode("append").parquet(dir)
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/files", Channel("files").add(Node("count") { df =>
      val n = spark.read.schema("k string").parquet(dir).agg(count(lit(1)).as("n"))
      df.crossJoin(n).withColumn("payload", col("n").cast("string")).drop("n")
    }))
    ep.start()
    try {
      assert(httpPost(ep.url("/files"), "x") == ((200, "1")))
      Seq("b").toDF("k").write.mode("append").parquet(dir)
      assert(httpPost(ep.url("/files"), "x") == ((200, "2")))
    } finally ep.stop()
  }

  test("compiled route: a session conf change between requests recompiles the route") {
    val key = "spark.sql.session.timeZone"
    val zone = spark.conf.get(key)
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/tz", Channel("tz").add(Node("tz")(
      _.withColumn("payload", date_format(col("ts"), "XXX")))))
    ep.start()
    try {
      spark.conf.set(key, "UTC")
      assert(httpPost(ep.url("/tz"), "x") == ((200, "Z")))
      spark.conf.set(key, "Asia/Kolkata")
      assert(httpPost(ep.url("/tz"), "x") == ((200, "+05:30")))
    } finally { spark.conf.set(key, zone); ep.stop() }
  }

  test("compiled route: a channel that fails analysis replies 503 on every request") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val ep = new HttpEndpoint(spark)
    ep.addChannel("/bad", Channel("bad").add(Node("bad") { df =>
      calls.incrementAndGet()
      df.withColumn("payload", col("no_such_column"))
    }))
    ep.start()
    try {
      for (_ <- 1 to 3) {
        val (st, body) = httpPost(ep.url("/bad"), "x")
        assert(st == 503 && body.contains("no_such_column"))
      }
      assert(calls.get == 3) // a failed compile is not kept
    } finally ep.stop()
  }

  test("HttpEndpoint: replies over one kept-alive connection do not wait for a delayed ACK") {
    val ep = new HttpEndpoint(spark)
    ep.addHandler("/echo")(identity)
    ep.start()
    val sock = new Socket("127.0.0.1", ep.actualPort)
    try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      val out = sock.getOutputStream
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != '\n') { if (c != '\r') sb += c.toChar; c = in.read() }
        sb.toString
      }
      val ms = (1 to 12).map { i =>
        val body = s"ping $i"
        val t0 = System.nanoTime()
        out.write(("POST /echo HTTP/1.1\r\nHost: localhost\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n$body").getBytes("UTF-8"))
        out.flush()
        assert(line() == "HTTP/1.1 200 OK")
        val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).toList
        val len = headers.collectFirst {
          case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt
        }.get
        val reply = new Array[Byte](len)
        in.readFully(reply)
        assert(new String(reply, "UTF-8") == body)
        (System.nanoTime() - t0) / 1e6
      }
      // with Nagle's algorithm on, these replies wait ~40 ms each
      val later = ms.drop(2).sorted
      assert(later(later.size / 2) < 20.0, s"reply ms: ${ms.map(m => f"$m%.1f")}")
    } finally { sock.close(); ep.stop() }
  }

  test("MLLP endpoint: framed HL7 in, channel ACK out (contrib/hl7.py)") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val ack = Channel("ack").add(
      Node("ack") { df =>
        calls.incrementAndGet()
        df.withColumn("payload", Codecs.hl7Ack(col("payload"), "AA"))
      })
    val ep = new MllpEndpoint(spark, ack)
    ep.start()
    try {
      val sock = new Socket("127.0.0.1", ep.actualPort)
      try {
        val out = sock.getOutputStream
        val in = sock.getInputStream
        for (id <- Seq("MSG007", "MSG008")) {
          val msg = s"MSH|^~\\&|APP|FAC|||20240101||ADT^A01|$id|P|2.5"
          out.write(0x0b); out.write(msg.getBytes("UTF-8"))
          out.write(0x1c); out.write(0x0d); out.flush()
          val buf = new StringBuilder
          var b = in.read()
          assert(b == 0x0b)
          b = in.read()
          while (b != 0x1c && b != -1) { buf.append(b.toChar); b = in.read() }
          assert(in.read() == 0x0d)
          val reply = buf.toString
          assert(reply.startsWith("MSH|"))
          assert(reply.contains(s"MSA|AA|$id"))
        }
        assert(calls.get == 1) // compiled once for both frames
      } finally sock.close()
    } finally ep.stop()
  }

  test("CapturingMailTransport: Email node renders and 'sends' per row") {
    val t = CapturingMailTransport("box1")
    val in = Seq(("body one", "a@x", "b@y,c@z")).toDF("payload", "from", "to")
      .withColumn("meta", map().cast("map<string,string>"))
    val out = graft.api.Nodes.Email(lit("Hi"), col("from"), col("to"), t)(in)
    assert(out.select("payload").as[String].head().startsWith("Subject: Hi"))
    val sent = t.sent
    assert(sent.size == 1)
    assert(sent.head._1 == "a@x" && sent.head._2 == Seq("b@y", "c@z"))
    assert(sent.head._3.contains("body one"))
  }

  test("SmtpTransport speaks real SMTP against an in-process server") {
    // minimal single-connection SMTP server capturing the DATA section
    val server = new ServerSocket(0)
    @volatile var captured = ""
    val th = new Thread(() => {
      val sock = server.accept()
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
      val out = new PrintWriter(sock.getOutputStream, true)
      def reply(s: String): Unit = { out.print(s + "\r\n"); out.flush() }
      reply("220 test ESMTP")
      var inData = false
      val data = new StringBuilder
      var line = in.readLine()
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; captured = data.toString; reply("250 OK") }
          else data.append(line).append("\n")
        } else line.split(" ", 2).head.toUpperCase match {
          case "EHLO" => reply("250-test"); reply("250 OK")
          case "MAIL" | "RCPT" => reply("250 OK")
          case "DATA" => inData = true; reply("354 go")
          case "QUIT" => reply("221 bye"); sock.close(); line = null
          case _ => reply("250 OK")
        }
        if (line != null) line = in.readLine()
      }
    })
    th.setDaemon(true); th.start()
    try {
      val t = SmtpTransport("127.0.0.1", server.getLocalPort)
      t.send("from@x", Seq("to@y"), "Subject: s\r\n\r\n.leading dot\r\nend")
      th.join(10000)
      assert(captured.contains("Subject: s"))
      assert(captured.contains(".leading dot")) // dot-stuffing round-trips
      assert(captured.contains("end"))
    } finally server.close()
  }
}
