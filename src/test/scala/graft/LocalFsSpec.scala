package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption}
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.api.{Channel, Node}
import graft.store.{GraftLocalFileSystem, GraftLocalFs, MessageStore}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** graft's local filesystem (`store/GraftLocalFs.scala`): the same
  * observable behaviour as the class Hadoop resolves for `file:` on its
  * own, and no `chmod`/`readlink` child processes on graft's write paths. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val fileUri = URI.create("file:///")

  /** One fixed sequence of FileSystem and FileContext calls under `root`;
    * every return value, exception class, file status, mode and the final
    * tree (with `.crc` sidecars) as lines, `root` written as `<root>`. */
  private def script(fs: FileSystem, fc: FileContext, root: java.nio.file.Path): Seq[String] = {
    val log = Seq.newBuilder[String]
    def p(rel: String) = new Path(root.resolve(rel).toString)
    def rec(step: String)(body: => Any): Unit =
      log += s"$step: " + Try(body).fold(e => s"threw ${e.getClass.getName}", _.toString)
    def write(out: java.io.OutputStream, s: String): Unit =
      try out.write(s.getBytes(UTF_8)) finally out.close()
    def status(st: FileStatus): String =
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        Try(st.getSymlink).getOrElse("-"), st.getLen, st.getPermission).mkString(" ")

    rec("create a")(write(fs.create(p("a")), "hello"))
    rec("create a, no overwrite")(fs.create(p("a"), false))
    rec("mkdirs d/e/f")(fs.mkdirs(p("d/e/f")))
    rec("mkdirs m 0750")(fs.mkdirs(p("m"), new FsPermission("750")))
    rec("mkdirs s")(fs.mkdirs(p("s")))
    rec("setPermission s 1777")(
      fs.setPermission(p("s"), new FsPermission(Integer.parseInt("1777", 8).toShort)))
    rec("setPermission a 0600")(fs.setPermission(p("a"), new FsPermission("600")))
    rec("setPermission missing")(fs.setPermission(p("nope"), new FsPermission("600")))
    rec("create b")(write(fs.create(p("b")), "bee"))
    rec("rename b onto a")(fs.rename(p("b"), p("a")))
    rec("rename d to d2")(fs.rename(p("d"), p("d2")))
    rec("rename b into dir m")(fs.rename(p("b"), p("m")))
    rec("fc create c.tmp")(write(fc.create(p("c.tmp"),
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), "v1"))
    rec("fc rename c.tmp to c")(fc.rename(p("c.tmp"), p("c")))
    rec("fc create c.tmp2")(write(fc.create(p("c.tmp2"),
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), "v2"))
    rec("fc rename c.tmp2 onto c, no overwrite")(fc.rename(p("c.tmp2"), p("c")))
    rec("fc rename c.tmp2 onto c, OVERWRITE")(
      fc.rename(p("c.tmp2"), p("c"), Options.Rename.OVERWRITE))
    rec("fc mkdir g/h")(fc.mkdir(p("g/h"), FsPermission.getDirDefault, true))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("c"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    for (f <- Seq("link", "dangling", "c", "g", "gone")) {
      rec(s"linkStatus $f")(status(fs.getFileLinkStatus(p(f))))
      rec(s"fc linkStatus $f")(status(fc.getFileLinkStatus(p(f))))
    }
    rec("setPermission link 0640")(fs.setPermission(p("link"), new FsPermission("640")))
    rec("listStatus")(fs.listStatus(new Path(root.toString)).map(_.getPath.getName).sorted.mkString(","))
    rec("read c")(new String(Files.readAllBytes(root.resolve("c")), UTF_8))
    val tree = Files.walk(root).iterator.asScala.toSeq.sorted.map { f =>
      val mode = Files.getAttribute(f, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
      val kind = if (Files.isSymbolicLink(f)) "l" else if (Files.isDirectory(f)) "d" else "f"
      f"tree ${root.relativize(f)} $kind ${mode & 0xfff}%o"
    }
    (log.result() ++ tree).map(_.replace(root.toString, "<root>"))
  }

  test("graft's file: filesystem behaves as the one Hadoop resolves without it") {
    val graftConf = spark.sessionState.newHadoopConf()
    val plainConf = new Configuration()
    val graftFs = FileSystem.newInstance(fileUri, graftConf)
    val plainFs = FileSystem.newInstance(fileUri, plainConf)
    val graftFc = FileContext.getFileContext(fileUri, graftConf)
    val plainFc = FileContext.getFileContext(fileUri, plainConf)
    assert(graftFs.getClass == classOf[GraftLocalFileSystem])
    assert(graftFc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(plainFs.getClass != classOf[GraftLocalFileSystem])
    assert(!plainFc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    try {
      val want = script(plainFs, plainFc, Files.createTempDirectory("graft_fs_plain"))
      val got = script(graftFs, graftFc, Files.createTempDirectory("graft_fs_graft"))
      assert(got == want)
      // the sequence reaches the cases it is for
      assert(want.contains("rename b onto a: false"))
      assert(want.exists(_.startsWith("linkStatus link: <root>/link false false true")))
      assert(want.exists(l => l.startsWith("tree .a.crc f") || l.startsWith("tree .c.crc f")))
      assert(want.contains("tree s d 1777") && want.contains("tree c f 640"))
    } finally { graftFs.close(); plainFs.close() }
  }

  test("a store save, a state change and a file-channel drain start no chmod or readlink") {
    val base = Files.createTempDirectory("graft_noexec")
    val msgs = Seq(("a", "2024-01-01 10:00:00", "hello"), ("b", "2024-01-02 10:00:00", "bye"))
      .toDF("uuid", "ts0", "payload")
      .withColumn("ts", col("ts0").cast("timestamp"))
      .withColumn("meta", map().cast("map<string,string>"))
      .drop("ts0")
    // two files in the watched directory: two micro-batches below
    (1 to 2).foreach { i =>
      Seq((i.toLong, s"order-$i")).toDF("id", "body").coalesce(1)
        .write.mode("append").parquet(s"$base/in")
    }
    val store = new MessageStore(spark, s"$base/msgs")
    val watched = spark.read.parquet(s"$base/in").schema
    val seen = new ConcurrentLinkedQueue[String]()
    @annotation.nowarn("cat=deprecation")
    def guard(on: Boolean): Unit = System.setSecurityManager(if (!on) null else new SecurityManager {
      override def checkPermission(perm: java.security.Permission): Unit = ()
      override def checkPermission(perm: java.security.Permission, ctx: AnyRef): Unit = ()
      override def checkExec(cmd: String): Unit = seen.add(cmd)
    })
    guard(on = true)
    try {
      store.save(msgs)
      store.changeMessageState("a", "processed")
      val q = new graft.streaming.FileWatcherChannel(spark, s"$base/in", watched,
        Channel("w").add(Node("all")(identity)), s"$base/out", s"$base/ckpt",
        intervalMs = 0, maxFilesPerTrigger = 1).start()
      q.awaitTermination(60000)
      assert(q.exception.isEmpty)
    } finally guard(on = false)
    assert(store.all().filter(col("uuid") === "a").select("state").as[String].collect()
      .toSeq == Seq("processed"))
    assert(spark.read.parquet(s"$base/out").count() == 2)
    val forks = seen.asScala.toSeq.map(c => new java.io.File(c).getName)
      .filter(Set("chmod", "readlink"))
    assert(forks.isEmpty, s"child processes: ${forks.groupBy(identity).map { case (k, v) => s"$k×${v.size}" }}")
  }
}
