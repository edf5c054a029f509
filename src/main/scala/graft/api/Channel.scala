package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A named `DataFrame => DataFrame` transform — graft's re-expression of
  * pypeman's `BaseNode` (reference: pypeman/nodes.py:104). One node processes
  * the whole distributed relation instead of one message at a time; all
  * built-in nodes compile to Catalyst expressions (whole-stage codegen), so a
  * chain of nodes fuses into a single physical stage wherever possible.
  *
  * Node options mirror `BaseNode.__init__` (nodes.py:114-180):
  *   - `passthrough` (nodes.py:116): the node's effect is discarded and the
  *     input row continues unchanged.
  *   - `storeInputAs` / `storeOutputAs` (nodes.py:114-115): snapshot the
  *     message (payload+meta) into the ctx map before / after the node runs.
  *   - `autoRetryOn` (nodes.py:132 `auto_retry_exceptions`): the relational
  *     re-expression of "node raises a retryable exception" — rows matching
  *     the predicate are diverted (pre-node, as the reference parks the OLD
  *     message) to the channel's retries side-output tagged with this node's
  *     name; see [[ChannelResult.retries]] and graft.store.RetryDriver.
  *   - `storeMeta` (nodes.py:117 `store_meta`): names of meta entries to
  *     persist as searchable store meta-info lists — collected per channel
  *     (see [[Channel.storeMetaNames]]) and materialized by
  *     `MessageStore.metaInfos`.
  *   - `logOutput` (nodes.py:113): eager sampled show of the node output
  *     at wiring time (debug aid, like Nodes.Log).
  *
  * Wiring time is when `fn` runs: once per `Channel.run` on a batch or
  * streaming input, and once per route on the per-message ingest edge (HTTP
  * and MLLP endpoints), whose plan is compiled on the first message and
  * reused for every later one ([[MessageRunner]]). So `fn` must build its
  * plan from the input's schema, not its rows, and not from driver state
  * that changes between messages (a Scala `var`, the clock). A node that
  * does look at data while wiring — runs a Spark action (`df.first()`,
  * `df.isEmpty`, the eager show of `logOutput` and Nodes.Log), creates an
  * RDD (`df.rdd`), writes (Nodes.Save, the file nodes), or reads a table,
  * files or a view — makes the route build its channel per message instead,
  * so it sees each message and the data's current state.
  */
final case class Node(
    name: String,
    fn: DataFrame => DataFrame,
    passthrough: Boolean = false,
    storeInputAs: Option[String] = None,
    storeOutputAs: Option[String] = None,
    autoRetryOn: Option[Column] = None,
    storeMeta: Set[String] = Set.empty,
    logOutput: Boolean = false) {

  private def saveCtx(df: DataFrame, ctxName: String): DataFrame =
    df.withColumn("ctx",
      map_concat(col("ctx"), map(lit(ctxName),
        struct(col("payload").as("payload"), col("meta").as("meta")))))

  def apply(df: DataFrame): DataFrame = {
    val in = storeInputAs.fold(df)(saveCtx(df, _))
    val out = if (passthrough) in else fn(in)
    val stored = storeOutputAs.fold(out)(saveCtx(out, _))
    if (logOutput) stored.show(5, 80)
    stored
  }

  // builder-style option setters (keep call sites close to reference kwargs)
  def withStoreInputAs(n: String): Node = copy(storeInputAs = Some(n))
  def withStoreOutputAs(n: String): Node = copy(storeOutputAs = Some(n))
  def withAutoRetry(cond: Column): Node = copy(autoRetryOn = Some(cond))
  def withStoreMeta(names: String*): Node = copy(storeMeta = storeMeta ++ names)
  def withLogOutput: Node = copy(logOutput = true)
}

object Node {
  def apply(name: String)(fn: DataFrame => DataFrame): Node = Node(name, fn)

  /** Node from a column rewrite of one column — pypeman `FuncNode`
    * (nodes.py:976) where the function touches only the payload. */
  def mapColumn(name: String, column: String)(f: Column => Column): Node =
    Node(name, df => df.withColumn(column, f(col(column))))
}

/** Result of running a channel: the main output plus routed side outputs
  * (pypeman's drop/reject end-node streams and `fork` sub-channels).
  * `retries` carries rows diverted by nodes with `autoRetryOn`, tagged with
  * the node name where re-injection must resume (retry.py store_until_retry
  * records `nodename` the same way). */
final case class ChannelResult(
    main: DataFrame,
    drops: Seq[DataFrame] = Nil,
    rejects: Seq[DataFrame] = Nil,
    forks: Map[String, DataFrame] = Map.empty,
    retries: Seq[(String, DataFrame)] = Nil,
    fails: Seq[DataFrame] = Nil) {
  def dropped: Option[DataFrame] = drops.reduceOption(_ unionByName _)
  def rejected: Option[DataFrame] = rejects.reduceOption(_ unionByName _)
  def retried: Option[DataFrame] = retries.map(_._2).reduceOption(_ unionByName _)
  def failedMsgs: Option[DataFrame] = fails.reduceOption(_ unionByName _)
}

/** Declarative channel: an ordered pipeline of nodes with routing steps —
  * graft's `BaseChannel` (reference: pypeman/channels.py:45). Routing is
  * purely predicate-based: `when`/`case`/`drop`/`reject` become filters on
  * the same scan, so a channel with N branches still reads its source once
  * (Spark caches nothing implicitly; branches share the resolved plan and
  * the scan cost is per-action — callers batch-collect via `run`).
  *
  * The identical Channel value runs on a batch DataFrame or a streaming one
  * (Structured Streaming) — see graft.streaming.FileWatcherChannel.
  */
final case class Channel(
    name: String,
    steps: Vector[Channel.Step] = Vector.empty,
    initNodes: Vector[Node] = Vector.empty,
    joinNodes: Vector[Node] = Vector.empty,
    dropNodes: Vector[Node] = Vector.empty,
    rejectNodes: Vector[Node] = Vector.empty,
    failNodes: Vector[Node] = Vector.empty,
    finalNodes: Vector[Node] = Vector.empty) {

  import Channel._

  def add(nodes: Node*): Channel = copy(steps = steps ++ nodes.map(Apply))

  /** End-node hooks (channels.py:984-1043): init nodes run before the
    * pipeline; join nodes on the successful main output; drop/reject nodes
    * on those side outputs; final nodes on every output stream. */
  def addInitNodes(nodes: Node*): Channel = copy(initNodes = initNodes ++ nodes)
  def addJoinNodes(nodes: Node*): Channel = copy(joinNodes = joinNodes ++ nodes)
  def addDropNodes(nodes: Node*): Channel = copy(dropNodes = dropNodes ++ nodes)
  def addRejectNodes(nodes: Node*): Channel = copy(rejectNodes = rejectNodes ++ nodes)

  /** Fail-path end nodes (channels.py:1007 add_fail_nodes): run on the
    * FAIL side output — pypeman's "node raised a non-Dropped, non-Rejected
    * exception" path, where the message lands in state `error`
    * (channels.py:494-506 generic-except → fail nodes → worst-sub-state
    * = ERROR). Distinct from rejects: REJECT is an explicit routing verdict
    * (state `rejected`), FAIL is a processing breakdown (state `error`,
    * ranked worse by Msg.statesPriority). */
  def addFailNodes(nodes: Node*): Channel = copy(failNodes = failNodes ++ nodes)
  def addFinalNodes(nodes: Node*): Channel = copy(finalNodes = finalNodes ++ nodes)

  /** Parallel sub-channel fed with the current message stream; main flow
    * continues unchanged (pypeman channels.py:339). */
  def fork(forkName: String)(sub: Channel => Channel): Channel =
    copy(steps = steps :+ Fork(forkName, sub(Channel(s"$name.$forkName"))))

  /** Conditional sub-pipeline: rows matching `cond` get the sub-channel's
    * nodes applied, others pass through untouched (channels.py:354). */
  def when(cond: Column)(sub: Channel => Channel): Channel =
    copy(steps = steps :+ When(cond, sub(Channel(s"$name.when"))))

  /** First-match-wins multi-branch (channels.py:371 / Case at 1207). */
  def caseOf(branches: (Column, Channel => Channel)*): Channel = {
    val built = branches.zipWithIndex.map { case ((c, f), i) =>
      c -> f(Channel(s"$name.case$i"))
    }
    copy(steps = steps :+ CaseStep(built.toVector))
  }

  /** Route matching rows to the drops side-output (pypeman Dropped). */
  def dropWhen(cond: Column): Channel = copy(steps = steps :+ DropWhen(cond))

  /** Route matching rows to the rejects side-output (pypeman Rejected). */
  def rejectWhen(cond: Column): Channel = copy(steps = steps :+ RejectWhen(cond))

  /** Route matching rows to the FAILS side-output — the relational
    * re-expression of "a node raised a generic exception" (channels.py:494:
    * generic except → err_msg meta → fail_nodes → state ERROR via
    * worst-sub-state). Where pypeman detects failure by catching the raise,
    * graft detects it by predicate over the same rows: the condition names
    * the rows the node would have raised on. Same routing shape as
    * drop/reject; callers stamp `CoreOps.markState(Msg.ERROR)` on the side
    * output exactly as reject callers stamp REJECTED. */
  def failWhen(cond: Column): Channel = copy(steps = steps :+ FailWhen(cond))

  def run(input: DataFrame): ChannelResult = {
    var cur = initNodes.foldLeft(input)((df, n) => n(df))
    var drops = Vector.empty[DataFrame]
    var rejects = Vector.empty[DataFrame]
    var fails = Vector.empty[DataFrame]
    var forks = Map.empty[String, DataFrame]
    var retries = Vector.empty[(String, DataFrame)]
    steps.foreach {
      case Apply(node) =>
        node.autoRetryOn match {
          case Some(cond) =>
            // auto_retry_exceptions (nodes.py:194-201): the reference parks
            // the OLD (pre-node) message with this node's name; matching
            // rows leave the main flow here and re-enter via runFrom.
            retries :+= node.name -> cur.filter(cond)
            cur = node(cur.filter(!coalesce(cond, lit(false))))
          case None => cur = node(cur)
        }
      case Fork(n, sub) =>
        val r = sub.run(cur)
        forks = forks ++ r.forks + (n -> r.main)
        drops ++= r.drops; rejects ++= r.rejects; fails ++= r.fails
        retries ++= r.retries
      case When(cond, sub) =>
        val r = sub.run(cur.filter(cond))
        drops ++= r.drops; rejects ++= r.rejects; fails ++= r.fails
        forks ++= r.forks
        retries ++= r.retries
        cur = r.main.unionByName(cur.filter(!coalesce(cond, lit(false))))
      case CaseStep(branches) =>
        // first-true-wins: branch i sees cond_i && !cond_0 .. !cond_{i-1}
        var seen: Column = lit(false)
        val outs = branches.map { case (cond, sub) =>
          val mine = coalesce(cond, lit(false)) && !seen
          seen = seen || coalesce(cond, lit(false))
          val r = sub.run(cur.filter(mine))
          drops ++= r.drops; rejects ++= r.rejects; fails ++= r.fails
          forks ++= r.forks
          retries ++= r.retries
          r.main
        }
        val unmatched = cur.filter(!seen)
        cur = (outs :+ unmatched).reduce(_ unionByName _)
      case DropWhen(cond) =>
        drops :+= cur.filter(cond)
        cur = cur.filter(!coalesce(cond, lit(false)))
      case RejectWhen(cond) =>
        rejects :+= cur.filter(cond)
        cur = cur.filter(!coalesce(cond, lit(false)))
      case FailWhen(cond) =>
        fails :+= cur.filter(cond)
        cur = cur.filter(!coalesce(cond, lit(false)))
    }
    def pipe(nodes: Vector[Node])(df: DataFrame) = nodes.foldLeft(df)((d, n) => n(d))
    val endFn = pipe(finalNodes) _
    ChannelResult(
      endFn(pipe(joinNodes)(cur)),
      drops.map(d => endFn(pipe(dropNodes)(d))),
      rejects.map(r => endFn(pipe(rejectNodes)(r))),
      forks,
      retries,
      fails.map(f => endFn(pipe(failNodes)(f))))
  }

  /** Convenience: run and return only the main output. */
  def runMain(input: DataFrame): DataFrame = run(input).main

  /** Re-inject starting at (and including) the named node — the reference's
    * `BaseChannel.inject(msg, start_nodename)` used by the retry loop
    * (retry.py:143). Init nodes are not re-run (the reference's inject skips
    * them unless nodename is None). */
  def runFrom(nodeName: String, input: DataFrame): ChannelResult = {
    val idx = steps.indexWhere {
      case Apply(n) => n.name == nodeName
      case _ => false
    }
    require(idx >= 0, s"node $nodeName not found in channel $name")
    copy(steps = steps.drop(idx), initNodes = Vector.empty).run(input)
  }

  /** Union of `storeMeta` names over all nodes (incl. sub-channels) — the
    * meta entries to persist as store meta-infos (nodes.py:117). */
  def storeMetaNames: Set[String] = {
    val own = steps.flatMap {
      case Apply(n) => n.storeMeta
      case Fork(_, sub) => sub.storeMetaNames
      case When(_, sub) => sub.storeMetaNames
      case CaseStep(bs) => bs.flatMap(_._2.storeMetaNames)
      case _ => Set.empty[String]
    }
    (initNodes ++ joinNodes ++ dropNodes ++ rejectNodes ++ failNodes ++ finalNodes)
      .flatMap(_.storeMeta).toSet ++ own
  }

  /** All node names in order (pypeman graph.py / BaseChannel.get_node). */
  def nodeNames: Seq[String] = steps.collect { case Apply(n) => n.name }

  def getNode(nodeName: String): Option[Node] =
    steps.collectFirst { case Apply(n) if n.name == nodeName => n }

  /** Replace a node by name — the test-mode mock facility (pypeman
    * test.py / BaseNode.mock): swap any node for a stub without rebuilding
    * the channel. */
  def replaceNode(nodeName: String, replacement: Node): Channel =
    copy(steps = steps.map {
      case Apply(n) if n.name == nodeName => Apply(replacement)
      case s => s
    })

  /** DOT-compatible edge list (channels.py:921 graph_dot): a `#---`
    * header then `"a"->"b";` edges; when/case branches are dotted edges
    * that rejoin (case at the next node, when at the channel end), forks
    * recurse without a rejoin — the reference's exact emission order. */
  def graphDot: Seq[String] = graphDotImpl(Some(""))

  private def graphDotImpl(end: Option[String]): Seq[String] = {
    val out = Vector.newBuilder[String]
    var after = Vector.empty[(Option[String], Channel)]
    var cases = Vector.empty[Channel]
    var previous = name
    val endName = end.map(e => if (e.isEmpty) name else e)
    out += "#---"
    steps.foreach {
      case Apply(n) =>
        if (cases.nonEmpty) {
          cases.foreach { c =>
            out += s""""$previous"->"${c.name}" [style=dotted];"""
            after :+= (Some(n.name), c)
          }
          cases = Vector.empty
        } else out += s""""$previous"->"${n.name}";"""
        previous = n.name
      case Fork(_, sub) =>
        out += s""""$previous"->"${sub.name}";"""
        after :+= (None, sub)
      case When(_, sub) =>
        out += s""""$previous"->"${sub.name}" [style=dotted];"""
        after :+= (endName, sub)
      case CaseStep(bs) => cases ++= bs.map(_._2)
      case DropWhen(_) | RejectWhen(_) | FailWhen(_) => () // pure routing, no named node
    }
    endName.foreach(e => out += s""""$previous"->"$e";""")
    after.foreach { case (e, sub) => out ++= sub.graphDotImpl(e) }
    out.result()
  }

  /** ASCII pipeline graph (pypeman channels.py:897 BaseChannel.graph). */
  def graph(prefix: String = ""): String = {
    val sb = new StringBuilder
    steps.foreach {
      case Apply(n) => sb.append(s"$prefix|- ${n.name}\n")
      case Fork(n, sub) =>
        sb.append(s"$prefix|→ fork:$n\n").append(sub.graph(prefix + "|  "))
      case When(_, sub) =>
        sb.append(s"$prefix|? when\n").append(sub.graph(prefix + "|  "))
      case CaseStep(branches) =>
        branches.zipWithIndex.foreach { case ((_, sub), i) =>
          sb.append(s"$prefix|? case $i\n").append(sub.graph(prefix + "|  "))
        }
      case DropWhen(_) => sb.append(s"$prefix|x drop\n")
      case RejectWhen(_) => sb.append(s"$prefix|x reject\n")
      case FailWhen(_) => sb.append(s"$prefix|x fail\n")
    }
    sb.toString
  }
}

object Channel {
  sealed trait Step
  final case class Apply(node: Node) extends Step
  final case class Fork(name: String, sub: Channel) extends Step
  final case class When(cond: Column, sub: Channel) extends Step
  final case class CaseStep(branches: Vector[(Column, Channel)]) extends Step
  final case class DropWhen(cond: Column) extends Step
  final case class RejectWhen(cond: Column) extends Step
  final case class FailWhen(cond: Column) extends Step

  /** MergeChannel (channels.py:1252): union several channel outputs. */
  def merge(dfs: DataFrame*): DataFrame = dfs.reduce(_ unionByName _)
}
