package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DateType, StructType}

/** Message-store search — graft's `MessageStore.search` (reference:
  * pypeman/msgstore.py:174 and the meta filter/sort semantics at
  * msgstore.py:215). The store itself is a date-partitioned parquet table of
  * Msg rows; search compiles to pushed-down filters + order + limit/offset,
  * so a "last 10 errors yesterday" query over a 100 TB store touches one
  * partition and prunes columns at the scan.
  *
  * Meta filters mirror the reference key grammar:
  *   - exact:   meta[name] == value
  *   - text_:   value substring-contains
  *   - rtext_:  regex search
  *   - start_/end_: numeric range (non-numeric values excluded, as the
  *     reference's isfloat guard does)
  *   - order_by meta field with optional '-' prefix for descending
  */
final case class Search(
    startDt: Option[String] = None,
    endDt: Option[String] = None,
    text: Option[String] = None,
    rtext: Option[String] = None,
    metaExact: Map[String, String] = Map.empty,
    metaText: Map[String, String] = Map.empty,
    metaRtext: Map[String, String] = Map.empty,
    metaStart: Map[String, Double] = Map.empty,
    metaEnd: Map[String, Double] = Map.empty,
    orderBy: String = "timestamp", // 'timestamp' | 'meta:<name>' | '-meta:<name>'
    count: Int = 10,
    start: Int = 0,
    /** resume after this message id, excluded (reference search start_id) —
      * keyset pagination: O(pruned scan), unlike offset which must skip.
      * Resolving the id to its (ts, uuid) anchor costs one lookup scan; at
      * store scale prefer `startAfter`, which the previous page's last row
      * supplies for free. */
    startId: Option[String] = None,
    /** caller-supplied keyset anchor (ts-millis, uuid), exclusive: page N+1
      * passes page N's last row — zero anchor-resolution scans. */
    startAfter: Option[(Long, String)] = None) {

  def predicate: Column = {
    val conds = Seq(
      startDt.map(d => col("ts") >= lit(d).cast("timestamp")),
      endDt.map(d => col("ts") <= lit(d).cast("timestamp")),
      text.map(t => col("payload").contains(t)),
      rtext.map(r => col("payload").rlike(r))).flatten ++
      metaExact.map { case (k, v) => col("meta")(k) === v } ++
      metaText.map { case (k, v) => col("meta")(k).contains(v) } ++
      metaRtext.map { case (k, v) => col("meta")(k).rlike(v) } ++
      // try_cast: non-numeric meta values are excluded, mirroring the
      // reference's isfloat guard (msgstore.py:218) — and ANSI-safe.
      metaStart.map { case (k, v) => col("meta")(k).try_cast("double") >= v } ++
      metaEnd.map { case (k, v) => col("meta")(k).try_cast("double") <= v }
    conds.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** '-' prefix = reverse sort (msgstore.py:490, also what the reference
    * web client sends when toggling column order); field names map from
    * the wire's message-dict keys to store columns (`timestamp`→ts,
    * `id`→uuid). */
  def ordering: Seq[Column] = {
    def field(f: String): Column = f match {
      case "timestamp" => col("ts")
      case "id" => col("uuid")
      case other => col(other)
    }
    orderBy match {
      case "timestamp" => Seq(col("ts"), col("uuid"))
      case s if s.startsWith("-meta:") =>
        Seq(col("meta")(s.stripPrefix("-meta:")).desc, col("ts"), col("uuid"))
      case s if s.startsWith("meta:") =>
        Seq(col("meta")(s.stripPrefix("meta:")), col("ts"), col("uuid"))
      case s if s.startsWith("-") =>
        Seq(field(s.stripPrefix("-")).desc, col("ts").desc, col("uuid").desc)
      case other => Seq(field(other), col("ts"), col("uuid"))
    }
  }
}

/** Parquet-backed message store (reference msgstore.py FileMessageStore —
  * re-expressed as a columnar table instead of one file per message).
  *
  * State mutation (`changeMessageState`, msgstore.py:66/:704) and `delete`
  * (msgstore.py:297/:553) are APPEND-ONLY on parquet too: each call appends
  * one row to a `_mutations` side log under the store path (Spark's file
  * index skips `_`-prefixed dirs, so the base scan never sees it) and reads
  * reconcile latest-wins — the standard columnar upsert/tombstone pattern.
  * The append is a one-row parquet file written on the driver by parquet's
  * own writer and renamed into place, so a state change runs no Spark job.
  * At 100 TB this is the only shape that works: a point update rewrites
  * ~100 bytes, not a partition, and the log (admin actions — replays, acks,
  * purges) stays orders of magnitude smaller than the store, and at most
  * [[autoCompactMutationFiles]] files long. `compact()` folds the log into
  * the base table when it grows. Mutations are sequenced by an in-process
  * monotonic counter seeded from wall-clock micros (single admin writer,
  * the reference's deployment shape too).
  *
  * Reads resolve the store once per version, so a warm read costs only the
  * query's own Spark job:
  *   - the base table's schema (with `day`) is kept; reads pass it to the
  *     scan, which skips the inference job. The first `save` into a store
  *     without base data seeds it with what inference would report (the
  *     written schema, every field nullable, then `day: date`); otherwise
  *     the first read infers and keeps it. Without `mergeSchema` Spark
  *     already takes one footer's schema for the whole table. A compact,
  *     or a read that finds the store empty, drops the kept schema.
  *   - the mutation log is read on the driver by parquet's own reader and
  *     folded into the set of tombstoned uuids and each other uuid's
  *     highest-`seq` state, kept under the log's listing: the sorted (file
  *     name, length) pairs of `_mutations`. Every read lists the directory
  *     and, only when the listing changed, reads exactly the listed files
  *     (no Spark job), so appends by another instance or process on the
  *     same path are seen on the next read. Logs written by Spark's parquet
  *     writer in older stores fold the same.
  *   - the fold is applied as column expressions (hash-set membership
  *     tests on `uuid`), not a join, so no broadcast job runs.
  *
  * The single-admin-writer assumption is ENFORCED, not just documented
  * (round-12): every mutation append and every compact runs under a
  * sibling `<path>.lock` file lease acquired by atomic create-exclusive.
  * Competing writers SERIALIZE (bounded wait), then FAIL LOUDLY
  * (`ConcurrentModificationException`) — never silently interleave with
  * a compact's read→swap window, where a lost-update (mutation appended
  * after the fold's read, removed by the swap) was otherwise possible.
  * A lease older than `staleLockMs` is presumed crashed and broken. */
final class MessageStore(
    spark: SparkSession, path: String,
    /** Auto-compact policy (round-11): once the mutation log holds this
      * many FILES (one per mutation append — the natural unit of log
      * growth and of reconcile-side file-listing cost), the next mutation
      * triggers a synchronous [[compact]]. Bounds the log under continuous
      * `changeMessageState`/`delete` churn without an operator-run cron:
      * the log can never exceed `autoCompactMutationFiles` files between
      * reads. 0 disables (manual `compact()` / the CLI recipe only).
      * Single-admin-writer assumption as for all mutations. */
    val autoCompactMutationFiles: Int = MessageStore.DefaultAutoCompactMutationFiles,
    /** How long a writer waits for the store lease before failing loudly.
      * Brief overlaps (two admin actions racing) serialize inside this
      * window; longer contention is a deployment error and surfaces as
      * `ConcurrentModificationException`. */
    val lockWaitMs: Long = MessageStore.DefaultLockWaitMs,
    /** Lease age after which the holder is presumed crashed and the lock
      * is broken (a crash between acquire and release must not wedge the
      * store forever). */
    val staleLockMs: Long = MessageStore.DefaultStaleLockMs) {

  private val mutPath = s"$path/_mutations"
  private val seqGen =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000L)

  /** Append messages, partitioned by day for time-range pruning. A frame
    * without a `state` column is stored all-PENDING — the reference marks
    * every stored message pending at store time (msgstore.py:630) — so the
    * table schema stays uniform across appends. */
  def save(msgs: DataFrame): Unit = {
    val seed = !baseExists
    val withState =
      if (msgs.columns.contains("state")) msgs
      else msgs.withColumn("state", lit(graft.model.Msg.PENDING))
    val rows = withState.withColumn("day", to_date(col("ts")))
    rows.write.mode("append").partitionBy("day").parquet(path)
    // the first write into a store without base data keeps the schema a
    // read would infer, so that read runs no inference job
    if (seed) baseSchema = Some(ColumnBridge.asNullable(
      StructType(rows.schema.filterNot(_.name == "day"))).add("day", DateType))
  }

  /** Streaming append into the store (exactly-once via checkpoint) — the
    * channel-attached message store, continuously fed. */
  def saveStream(msgs: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    msgs.withColumn("day", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("day")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** True iff the store has BASE DATA — not merely the directory: a
    * mutation appended to an empty store creates `$path/_mutations` (and
    * with it `$path`), which the base scan's file index ignores, so the
    * directory alone proves nothing and reading it would fail schema
    * inference. Only non-`_`/`.` children count as data. */
  private def baseExists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Base-table schema kept from the seeding save or the first read (see
    * the class doc). */
  @volatile private var baseSchema: Option[StructType] = None
  private[graft] def keptSchema: Option[StructType] = baseSchema

  /** The reconciled store, or None for the empty store. */
  private def current(): Option[DataFrame] =
    if (!baseExists) { baseSchema = None; None }
    else {
      val base = baseSchema match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          baseSchema = Some(df.schema)
          df
      }
      Some(applyMutations(base.drop("day")))
    }

  def all(): DataFrame = current().getOrElse(
    throw new NoSuchElementException(s"message store at $path is empty"))

  def search(q: Search): DataFrame = MessageStore.search(all(), q)

  def total(): Long = current().fold(0L)(_.count())

  /** change_message_state (msgstore.py:66, FileMessageStore :704): set one
    * message's state. Appends to the mutation log; visible to every
    * subsequent read. */
  def changeMessageState(uuid: String, newState: String): Unit =
    appendMutation(uuid, Some(newState), tombstone = false)

  /** delete (msgstore.py:297, FileMessageStore :553): drop a message by id.
    * A tombstone is terminal — later state changes cannot resurrect the
    * row (reference semantics: change_message_state on a deleted id is an
    * operator error). */
  def delete(uuid: String): Unit = appendMutation(uuid, None, tombstone = true)

  /** get (msgstore.py:132): one message with its current (reconciled)
    * state, or None if absent/deleted. */
  def get(uuid: String): Option[Row] =
    all().filter(col("uuid") === uuid).limit(1).collect().headOption

  /** Append one mutation row to the log, under the store lease: parquet's
    * own writer puts a one-row file on the driver (no Spark job) under a
    * hidden `.…tmp` name, which is renamed into the log when complete. A
    * crash before the rename leaves only the hidden file, which every
    * listing and scan skips and the next compact removes with the log. */
  private def appendMutation(
      uuid: String, newState: Option[String], tombstone: Boolean): Unit =
    withStoreLock("mutate") {
      val seq = seqGen.incrementAndGet()
      val conf = spark.sessionState.newHadoopConf()
      val name = s"part-$seq-${java.util.UUID.randomUUID()}.parquet"
      val tmp = new org.apache.hadoop.fs.Path(mutPath, s".$name.tmp")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(MessageStore.MutationParquetSchema).build()
      try {
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(
          MessageStore.MutationParquetSchema)
        Option(uuid).foreach(g.add("uuid", _))
        newState.foreach(g.add("new_state", _))
        g.add("tombstone", tombstone)
        g.add("seq", seq)
        w.write(g)
      } finally w.close()
      val fs = tmp.getFileSystem(conf)
      if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(mutPath, name))) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"mutation log: rename of $tmp failed")
      }
      maybeAutoCompact()
    }

  /** Serialize store WRITERS (mutation appends and compacts) across
    * threads AND processes via a sibling `<path>.lock` lease: acquisition
    * is `FileSystem.create(…, overwrite = false)` — atomic on HDFS and
    * object-store semantics-equivalent layers — except on the local
    * `file` scheme, where that call is check-then-create and the acquire
    * instead uses `java.io.File.createNewFile` (O_CREAT|O_EXCL at the
    * syscall level, see the branch comment below). Sibling,
    * not child: compact() deletes and renames the store directory itself,
    * so a lock inside it would vanish mid-operation. Re-entrant per
    * thread (the auto-compact path runs inside the mutation's lease).
    * Waits up to [[lockWaitMs]] (serializing brief overlaps), breaks
    * leases older than [[staleLockMs]] (crashed holder), then throws
    * `ConcurrentModificationException` — a competing writer is a
    * deployment error that must be loud, never a silent lost update. */
  private def withStoreLock[T](op: String)(body: => T): T = {
    if (lockHeld.get()) return body // re-entrant: already under this store's lease
    val lockP = new org.apache.hadoop.fs.Path(path + ".lock")
    val fs = lockP.getFileSystem(spark.sessionState.newHadoopConf())
    // Hadoop create(…, overwrite=false) is atomic on HDFS (namenode
    // arbitration) but CHECK-THEN-CREATE on the local filesystem
    // (RawLocalFileSystem tests existence, then opens) — two racers can
    // both pass the check and both "acquire". On the file scheme the
    // acquire must be java.io.File.createNewFile, which is O_CREAT|O_EXCL
    // at the syscall level; the lease content is written after the
    // atomic win (mtime — the staleness clock — updates with it).
    val localLock = "file".equalsIgnoreCase(lockP.toUri.getScheme) ||
      fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    def tryAcquire(): Boolean =
      if (localLock) {
        val f = new java.io.File(fs.makeQualified(lockP).toUri.getPath)
        Option(f.getParentFile).foreach(_.mkdirs())
        f.createNewFile() && {
          // lease content is best-effort metadata written AFTER the atomic
          // win. If the write throws (disk full, fs error) the lock file
          // already exists — leaving it would wedge every waiter until
          // staleLockMs — so release the just-won lease before failing.
          try java.nio.file.Files.writeString(f.toPath,
            s"$op ${System.currentTimeMillis()} ${
              java.lang.ProcessHandle.current().pid()}")
          catch {
            case e: Throwable =>
              f.delete()
              throw e
          }
          true
        }
      } else {
        val out = fs.create(lockP, false) // atomic create-exclusive (HDFS)
        // same orphan hazard as the local branch: the create won the
        // lease, so a failed content write must release it before failing
        try {
          out.write(s"$op ${System.currentTimeMillis()} ${
            java.lang.ProcessHandle.current().pid()}".getBytes("UTF-8"))
          out.close()
        } catch {
          case e: Throwable =>
            try out.close() catch { case _: Throwable => () }
            try fs.delete(lockP, false) catch { case _: Throwable => () }
            throw e
        }
        true
      }
    val deadline = System.currentTimeMillis() + lockWaitMs
    var acquired = false
    while (!acquired) {
      val won = try tryAcquire() catch { case _: java.io.IOException => false }
      if (won) acquired = true
      else {
          val held = try Some(fs.getFileStatus(lockP))
            catch { case _: java.io.FileNotFoundException => None }
          held match {
            case Some(st) if System.currentTimeMillis() - st.getModificationTime > staleLockMs =>
              // Holder presumed crashed: break the lease and re-race. The
              // break is rename-then-delete, not a bare delete — two
              // waiters that both observe the stale lock would each run
              // the delete, and the slower delete could remove the lock
              // the faster waiter just re-created, putting BOTH under the
              // lease. Rename is atomic per source: exactly one waiter's
              // rename succeeds (the other's source is gone), so exactly
              // one stale lease is retired per observation.
              val grave = new org.apache.hadoop.fs.Path(
                s"$path.lock.stale.${st.getModificationTime}.${
                  java.lang.ProcessHandle.current().pid()}.${
                  System.nanoTime()}")
              if (try fs.rename(lockP, grave) catch { case _: java.io.IOException => false })
                fs.delete(grave, false): Unit
            case _ if System.currentTimeMillis() > deadline =>
              throw new java.util.ConcurrentModificationException(
                s"message store at $path: another writer holds $lockP " +
                  s"(waited ${lockWaitMs} ms); concurrent admin writers " +
                  "are not supported — serialize them or remove the stale lock")
            case _ => Thread.sleep(25)
          }
      }
    }
    lockHeld.set(true)
    try body
    finally {
      lockHeld.set(false)
      fs.delete(lockP, false): Unit
    }
  }

  private val lockHeld = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Mutation-log size in FILES (the policy unit: one append = one file;
    * listing is one namenode/listStatus call, no data read). */
  def mutationLogFiles: Int = mutationListing.size

  /** The log's data files as sorted (name, length) pairs — one listing
    * call, no data read. */
  private def mutationListing: Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(mutPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.listStatus(p).toSeq.collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") => (st.getPath.getName, st.getLen)
    }.sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  private def maybeAutoCompact(): Unit =
    if (autoCompactMutationFiles > 0 &&
        mutationLogFiles >= autoCompactMutationFiles && baseExists)
      // The triggering mutation is already durably appended; a compaction
      // failure (e.g. a rename race) must not surface as a failed state
      // change the caller would wrongly retry. Log and move on — the next
      // append re-crosses the threshold and retries the fold.
      try compactLocked() // already under the mutation's lease
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[message-store] auto-compact failed (mutation is durable; " +
              s"will retry on next append): ${e.getClass.getSimpleName}: ${e.getMessage}")
      }

  /** The mutation log's fold, under the listing it was read at. */
  @volatile private var folded: (Seq[(String, Long)], MessageStore.Fold) =
    (Seq.empty, MessageStore.Fold.empty)

  /** Fold of the log as it is now: the directory is listed on every call,
    * and only when the listing changed are exactly the listed files read,
    * with parquet's reader on the driver (no Spark job), so the fold and
    * its key come from one listing. */
  private def mutationFold(): MessageStore.Fold = {
    val listing = mutationListing
    val (key, fold) = folded
    if (listing == key) fold
    else {
      val conf = spark.sessionState.newHadoopConf()
      val next = MessageStore.Fold(listing.toArray.flatMap { case (name, _) =>
        MessageStore.readMutations(new org.apache.hadoop.fs.Path(mutPath, name), conf)
      })
      folded = (listing, next)
      next
    }
  }

  /** Latest-wins reconcile: any tombstone kills the row; otherwise the
    * highest-seq state change overrides the stored state. Both are column
    * expressions over the driver-side fold — a hash-set filter, and one
    * hash-set test per changed-to state — so the base table is neither
    * joined nor shuffled, a row costs O(distinct states) lookups however
    * long the log, and a null uuid matches no mutation. A store written
    * without a `state` column (bare Msg frames in tests) is treated as
    * all-PENDING, the state the reference assigns at store time
    * (msgstore.py:630). */
  private def applyMutations(base: DataFrame): DataFrame = {
    val fold = mutationFold()
    val withState =
      if (base.columns.contains("state")) base
      else base.withColumn("state", lit(graft.model.Msg.PENDING))
    val live =
      if (fold.tombstones.isEmpty) withState
      else withState.filter(
        col("uuid").isNull || !ColumnBridge.inSet(col("uuid"), fold.tombstones))
    if (fold.latest.isEmpty) live
    else live.withColumn("state", coalesce(fold.latest.toSeq.map { case (state, uuids) =>
      when(ColumnBridge.inSet(col("uuid"), uuids), state)
    } :+ col("state"): _*))
  }

  /** Fold the mutation log into the base table and clear it (the periodic
    * maintenance job a long-lived store runs: rewrite once, and reads stop
    * carrying the log's expressions). The kept base schema is dropped, so
    * the next read infers the rewritten table's schema again.
    *
    * Crash-safe by staging: ONE pass writes the reconciled table into a
    * SIBLING directory from the untouched base, then delete+rename swaps
    * it in. The crash window between delete and rename is covered by the
    * recovery step at the top of the next compact(): if the base is gone
    * but a staged copy exists, that copy is the ONLY copy and is promoted
    * — never deleted. A store whose every row is tombstoned compacts to
    * the removed directory (the empty store); `total()` reads that as 0. */
  def compact(): Unit = withStoreLock("compact")(compactLocked())

  private def compactLocked(): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val storeDir = new org.apache.hadoop.fs.Path(path)
    val fs = storeDir.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(path + ".compacting")
    if (!baseExists) {
      if (fs.exists(staging)) {
        // interrupted swap: the staged copy is the only data — finish it
        fs.delete(storeDir, true) // clear a possible _mutations-only shell
        if (!fs.rename(staging, storeDir))
          throw new java.io.IOException(
            s"compact recovery: rename $staging -> $storeDir failed")
        baseSchema = None
      }
      return
    }
    fs.delete(staging, true) // clear any dead pre-swap attempt
    // single pass over base + log; the durable copy is the base itself
    all().withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(staging.toString)
    val stagedHasData = fs.listStatus(staging).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!stagedHasData) { // all rows tombstoned → the empty store
      fs.delete(staging, true)
      fs.delete(storeDir, true)
    } else {
      if (!fs.delete(storeDir, true))
        throw new java.io.IOException(s"compact: could not remove $storeDir")
      if (!fs.rename(staging, storeDir))
        throw new java.io.IOException(
          s"compact: rename $staging -> $storeDir failed; staged copy retained " +
            "(the next compact() will promote it)")
    }
    baseSchema = None
  }

  /** Replay (channels.py:857): re-run a channel on stored messages. The
    * results are RENEWED (fresh uuid + timestamp, message.py:80) and saved
    * back as `processed` — the reference flow, where handle() stores the
    * renewed message and the worst-sub-state recompute marks it processed
    * (channels.py:697-714, :828-832). */
  def replay(q: Search, channel: graft.api.Channel): DataFrame =
    replayFrame(search(q), channel)

  /** Replay one message by id (the remote-admin `replay_msg` path,
    * remoteadmin.py:169). */
  def replayById(msgId: String, channel: graft.api.Channel): DataFrame =
    replayFrame(all().filter(col("uuid") === msgId), channel)

  private def replayFrame(src: DataFrame, channel: graft.api.Channel): DataFrame = {
    val renewed = MessageStore
      .renewProcessed(channel.runMain(src), seqGen.incrementAndGet())
      .localCheckpoint(true) // pin uuid/ts before the side-effecting save
    save(renewed)
    renewed
  }

  /** `pypeman.tools.send_from_store` parity: POST each selected message's
    * payload to `url`, optionally pre-filtered by a payload JSON field
    * equality (`tools/view_store.py` Filter `name=value`). Sends are
    * partition-parallel through the pluggable transport; the returned
    * frame carries response status/url in meta (check it — nothing is
    * swallowed). */
  def sendTo(
      q: Search,
      transport: graft.net.HttpTransport,
      url: String,
      payloadFilter: Option[(String, String)] = None): DataFrame = {
    val base = search(q)
    val selected = payloadFilter.fold(base) { case (k, v) =>
      base.filter(get_json_object(col("payload"), "$." + k) === v)
    }
    graft.net.Http.request(transport, url = url, method = "POST")(selected)
  }
}

object MessageStore {
  /** Default writer-lease wait: 30 s serializes brief admin overlaps
    * (a compact takes seconds at admin-log scale); anything longer is
    * contention worth failing loudly over. */
  val DefaultLockWaitMs = 30000L
  /** Default stale-lease age: 10 min >> any healthy compact/mutation,
    * so breaking an older lease only ever evicts a crashed holder. */
  val DefaultStaleLockMs = 600000L
  /** Default auto-compact threshold: 64 mutation files ≈ 64 admin actions
    * between folds — the driver-side fold and its literal expressions stay
    * a few KB, and a compact (one base rewrite) amortizes over 64 point
    * updates. Tune per store via the constructor. */
  val DefaultAutoCompactMutationFiles = 64

  /** The `_mutations` log's rows, as `appendMutation` writes them (the
    * columns Spark's writer gave the same rows in older logs). */
  private val MutationParquetSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("""message spark_schema { optional binary uuid (STRING);
      optional binary new_state (STRING); optional boolean tombstone; optional int64 seq; }""")

  /** One log file's rows as (uuid, new_state, tombstone, seq), a missing
    * value read as null — driver-written and Spark-written files alike. */
  private def readMutations(
      file: org.apache.hadoop.fs.Path, conf: org.apache.hadoop.conf.Configuration): Seq[Row] = {
    val r = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), file)
      .withConf(conf).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
      def has(f: String) = g.getFieldRepetitionCount(f) > 0
      Row(
        if (has("uuid")) g.getString("uuid", 0) else null,
        if (has("new_state")) g.getString("new_state", 0) else null,
        if (has("tombstone")) g.getBoolean("tombstone", 0) else null,
        if (has("seq")) g.getLong("seq", 0) else null)
    }.toVector
    finally r.close()
  }

  /** The mutation log folded by the latest-wins rules: every uuid with a
    * tombstone, and the other uuids grouped by their latest state: the one
    * of highest `seq`, ties going to the greater `new_state`. A tombstone
    * is terminal, so a tombstoned uuid has no state, and a latest state of
    * null keeps the stored one. Rows
    * without a uuid, flag or seq (which `appendMutation` never writes)
    * match nothing. */
  private final case class Fold(tombstones: Set[String], latest: Map[String, Set[String]])

  private object Fold {
    val empty: Fold = Fold(Set.empty, Map.empty)

    def apply(log: Array[Row]): Fold = {
      val rows = log.filterNot(r => r.isNullAt(0) || r.isNullAt(2) || r.isNullAt(3))
      val tombstones = rows.filter(_.getBoolean(2)).map(_.getString(0)).toSet
      val states = rows.filterNot(r => r.getBoolean(2) || tombstones(r.getString(0)))
        .groupBy(_.getString(0))
        .flatMap { case (uuid, rs) =>
          Option(rs.maxBy(r => (r.getLong(3), Option(r.getString(1)))).getString(1))
            .map(uuid -> _)
        }
      Fold(tombstones, states.groupBy(_._2).map { case (s, us) => s -> us.keySet })
    }
  }

  /** Search over any Msg-shaped DataFrame (store-backed or in-flight). */
  def search(df: DataFrame, q: Search): DataFrame = {
    // Keyset anchors must advance in the DISPLAY order: under the
    // '-timestamp' reverse listing, "after the anchor" means strictly
    // OLDER rows — a forward filter there would re-serve page 1 forever.
    val reverse = q.orderBy == "-timestamp"
    def afterAnchor(ts0: Column, uuid0: String): Column =
      if (reverse)
        col("ts") < ts0 || (col("ts") === ts0 && col("uuid") < uuid0)
      else
        col("ts") > ts0 || (col("ts") === ts0 && col("uuid") > uuid0)
    val timeOrdered = q.orderBy == "timestamp" || reverse
    val afterStartId = (q.startAfter, q.startId) match {
      case (Some(_), _) if !timeOrdered =>
        // same refusal as startId below: the (ts, uuid) anchor predicate
        // only matches the display order under a timestamp ordering —
        // applying it under '-id'/'meta:' orderings would silently skip
        // or duplicate rows across pages
        throw new IllegalArgumentException(
          s"startAfter pagination requires a timestamp ordering, got '${q.orderBy}'")
      case (Some((tsMs, uuid0)), _) =>
        // caller-supplied keyset anchor: pure filter, no anchor lookup —
        // the 100 TB pagination path (the previous page's last row is the
        // anchor, so paging a petabyte store never re-scans)
        df.filter(afterAnchor(timestamp_millis(lit(tsMs)), uuid0))
      case (None, Some(id)) if timeOrdered =>
        // id-only anchor (reference start_id): resolving it costs one
        // lookup scan of the store — convenient locally, prefer startAfter
        // at scale
        val anchor = df.filter(col("uuid") === id).select(col("ts"), col("uuid")).head()
        df.filter(afterAnchor(lit(anchor.getTimestamp(0)), anchor.getString(1)))
      case (None, Some(_)) =>
        // anchors under meta/field orderings are not keyset-resolvable
        // (the sort key need not be unique); refuse loudly rather than
        // silently ignoring the caller's anchor
        throw new IllegalArgumentException(
          s"startId pagination requires a timestamp ordering, got '${q.orderBy}'")
      case _ => df
    }
    val filtered = afterStartId.filter(q.predicate).orderBy(q.ordering: _*)
    val paged = if (q.start > 0) filtered.offset(q.start) else filtered
    paged.limit(q.count)
  }

  /** get_preview_str (msgstore.py:140). */
  def preview(payload: Column, n: Int = 1000): Column = substring(payload, 1, n)

  /** message.py:80 renew() + the handle()-flow save-back state: fresh uuid
    * (deterministic per nonce) + now() timestamp, marked processed. Shared
    * by the parquet and memory stores' replay paths so the renewal
    * semantics cannot drift between them. */
  private[store] def renewProcessed(df: DataFrame, nonce: Long): DataFrame =
    df.withColumn("uuid", md5(concat(col("uuid"), lit(s":replay:$nonce"))))
      .withColumn("ts", current_timestamp())
      .withColumn("state", lit(graft.model.Msg.PROCESSED))

  /** Store meta-infos for nodes' `store_meta` option (nodes.py:117,215-220):
    * for each message id and requested meta name, the stored values as a
    * LIST — a yielded message's sub-messages each append their value, which
    * is why the reference always stores a list. Relational form: one narrow
    * (uuid, name, value) relation aggregated per (uuid, name); values are
    * sorted for deterministic list order (the reference's append order is
    * processing order, which a distributed engine cannot reproduce). */
  def metaInfos(msgs: DataFrame, names: Seq[String]): DataFrame = {
    val narrow = names.map { n =>
      msgs.select(col("uuid"), lit(n).as("name"), col("meta")(n).as("value"))
    }.reduce(_ unionByName _)
    narrow.filter(col("value").isNotNull)
      .groupBy(col("uuid"), col("name"))
      .agg(sort_array(collect_list(col("value"))).as("values"))
  }
}
