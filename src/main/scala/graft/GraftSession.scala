package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's required configuration. */
object GraftSession {

  /** Settings every graft session needs; callable on any builder so the
    * driver-owned mains (Verify/Bench) and tests share one definition.
    *
    * `file:` paths go through graft's local filesystem
    * ([[graft.store.GraftLocalFileSystem]] for `FileSystem`,
    * [[graft.store.GraftLocalFs]] for `FileContext`): without the native
    * Hadoop library, Hadoop's own runs `chmod` in a child process for
    * every file and directory it creates and `readlink` on every
    * FileContext rename, which made each store write and each streaming
    * checkpoint log write cost several ms of forks. Both are set as
    * `spark.hadoop.*` JVM properties only if absent, which a `SparkConf`
    * reads under its explicit settings: a user's `spark.hadoop.fs.file.impl`
    * or `spark.hadoop.fs.AbstractFileSystem.file.impl` (builder option,
    * `--conf`, or `-D`) wins. Hadoop keeps one cached `FileSystem` per
    * scheme and user in a JVM, so a `file:` filesystem made before the
    * first graft session is built keeps Hadoop's class. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    // TCP_NODELAY for [[graft.net.HttpEndpoint]]'s kept-alive replies. The
    // JDK reads this JVM-wide property once, at the process's first
    // `HttpServer.create`, so it is set where the session is built, before
    // any JDK server can exist; a user's setting wins.
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    System.getProperties.putIfAbsent("spark.hadoop.fs.file.impl",
      classOf[graft.store.GraftLocalFileSystem].getName)
    System.getProperties.putIfAbsent("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.store.GraftLocalFs].getName)
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long (see Tables)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // pandas/pyarrow write naive (isAdjustedToUTC=false) timestamps by
      // default, which Spark 4 infers as TIMESTAMP_NTZ — a type rejected by
      // watermarks and unix_micros/unix_millis. Read them as plain TIMESTAMP
      // in the pinned-UTC session instead: naive-µs-under-UTC is exactly the
      // reference's naive local datetime semantics (message.py:16).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // single-file test tables are ~25 MB — below the 128 MB default split
      // size, which would serialize every scan onto one core. 8 MB splits
      // restore scan parallelism locally; on a real cluster with many files
      // per table the default is appropriate (see SURVEY §5).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // TypedImperativeAggregates (TopKByScore et al.) plan as
      // ObjectHashAggregate, whose partial (map-side) phase falls back to
      // SORT-based aggregation after only 128 distinct keys per partition
      // (Spark default). For the k-NN family the group key is the probe id
      // — thousands of keys per partition by design — so the fallback
      // externally sorts the whole |probes|×|corpus| pair relation, exactly
      // the shuffle-every-row plan the k-bounded heap exists to avoid
      // (guide §2.3 "aggregate before you shuffle"). 2^20 keeps the hash
      // path: the high-cardinality-group aggregates here are all k≤10
      // bounded heaps (≲600 B/key → ≲0.6 GB/task at the cap); the
      // heavy-state aggregates (VecGram/HLL/CMS, KBs per key) only run in
      // global or low-cardinality groupings that never near the cap.
      // A session can still override it per workload.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.ui.enabled", "false")
  }

  /** RocksDB state store provider — the production state backend for the
    * stateful streaming tier (ChangeFeed, Sessionize, HeavyHittersStream,
    * stream-stream joins, dedup-at-ingest). The default
    * HDFSBackedStateStoreProvider keeps EVERY key's state on executor
    * heap (two copies during maintenance); at 100 TB key cardinality
    * that is a designed-in OOM. RocksDB holds state off-heap in a native
    * LSM tree with disk spill and changelog/snapshot checkpointing to
    * the same checkpoint location, so state size is bounded by local
    * disk, not heap. Spark ships the provider + rocksdbjni in its
    * standard distribution (structured-streaming docs, "RocksDB state
    * store implementation") — no extra dependency.
    *
    * The conf is read per streaming QUERY at start, so it can be set on
    * a live session before `.start()`; existing HDFS-backed checkpoints
    * are not migrated (provider choice is pinned by the checkpoint —
    * switch providers only with a fresh checkpoint dir). */
  val RocksDBStateProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch the session's stateful streaming queries (started AFTER this
    * call, with fresh checkpoints) to the RocksDB state store. Returns
    * the previous provider conf (None = Spark default) for restore. */
  def useRocksDBStateStore(s: SparkSession): Option[String] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, RocksDBStateProvider)
    prev
  }

  /** Restore a provider conf captured by [[useRocksDBStateStore]]. */
  def restoreStateStore(s: SparkSession, prev: Option[String]): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Post-build session setup: installs graft's optimizer rules (inert
    * until their confs are set — see `plans.RangeJoinRule`). Idempotent;
    * needed because `withExtensions` cannot apply to an already-built
    * session and the shared-JVM `getOrCreate` usually returns one. */
  def install(s: SparkSession): SparkSession = {
    if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.RangeJoinRule]))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.RangeJoinRule()
    if (!s.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    s
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    install(s)
  }
}
