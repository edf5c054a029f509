package graft.dedup

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines. Every variant is
  * blocked/bucketed so candidate generation shuffles O(n·k) rows, never
  * O(n²) pairs — the property that keeps these runnable at 100 TB.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum id. One shuffle
    * on a 128-bit hash (uniform → no skew); partial agg combines map-side. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Quality-aware exact dedup: among identical copies keep the one with
    * the highest score (source trust, freshness, quality), id as the
    * deterministic tiebreak — the "keep best, not first" policy of modern
    * curation pipelines. Same single uniform-hash shuffle as [[exact]]: the
    * argmax is `max(struct(score, -id))`, still fully partial-aggregatable. */
  def exactKeepBest(
      df: DataFrame, idCol: String, textCol: String, score: Column): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        max(struct(score.as("s"), (-col(idCol)).as("nid"))).as("w"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"), (-col("w.nid")).as("keep_id"),
        col("w.s").as("keep_score"), col("n_copies"))

  /** N-gram Jaccard near-dup pairs via shingle-explode join.
    *
    * Scale shape: explode to (shingle, id) pairs — rows = docs × shingles;
    * self-join on shingle groups only docs sharing a shingle. `blockCol`
    * (e.g. source/partition key) bounds hot-shingle fanout. Emits pairs
    * with jaccard ≥ `threshold`.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      blockCol: Option[String] = None): DataFrame = {
    val base = df.select(
      col(idCol).as("id"),
      blockCol.map(col).getOrElse(lit(0)).as("blk"),
      shingles(col(textCol), n).as("sh"))
    val sized = base.select(col("id"), col("blk"), col("sh"), size(col("sh")).as("n_sh"))
    // join on the shingle's 64-bit hash, not the string: an 8-byte shuffle
    // key instead of a variable-length one (collision probability across a
    // bucket's shingle vocabulary is ~n²/2⁶⁵ — negligible)
    // materialize the exploded (id, shingle-hash) relation once: exchange
    // reuse already dedupes the self-join's shuffle, but not the tokenize +
    // explode + hash work above it — both join sides read this checkpoint
    // (at cluster scale: a persisted intermediate table), same pattern as
    // minhashLsh's `sigs`
    val ex = sized
      .select(col("id"), col("blk"), col("n_sh"), explode(col("sh")).as("s_str"))
      .select(col("id"), col("blk"), col("n_sh"), xxhash64(col("s_str")).as("s"))
      .localCheckpoint(true)
    val a = ex.as("a"); val b = ex.as("b")
    // (round 19: a one-task posting-list pair kernel was tried here and
    // REVERTED — the tuple-keyed pair-count map could not beat the
    // 32-way partial-aggregated hash join even at sf0.1: q_containment
    // read 1.12 → 1.26 s and q_lsh_tune 1.02 → 1.24 s with it,
    // q_dedup_jaccard a wash. The distributed join IS the right shape
    // at every measured size.)
    val common = a.join(b,
        col("a.s") === col("b.s") && col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directed n-gram containment pairs (Broder 1997's "resemblance vs
    * containment" split; the signal behind doc-in-doc / quote-of-doc
    * detection that symmetric Jaccard misses: a paragraph pasted into a
    * long page scores near-zero Jaccard but containment ≈ 1 for the
    * paragraph side). For each candidate pair, containment(a⊂b) =
    * |A∩B|/|A| over DISTINCT shingle sets; emits (id_sub, id_sup) rows
    * for every direction clearing `threshold`, so mutual near-copies
    * yield two rows.
    *
    * Scale shape: identical candidate generation to [[ngramJaccard]] —
    * one exploded (id, shingle-hash) relation checkpointed once, 8-byte
    * join keys, `blockCol` bounding hot-shingle fanout — and the
    * directed scores are derived from ONE undirected (a.id < b.id) join
    * pass: both directions read the same pair aggregate, so orienting
    * the output costs zero extra shuffle.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      blockCol: Option[String] = None): DataFrame = {
    val base = df.select(
      col(idCol).as("id"),
      blockCol.map(col).getOrElse(lit(0)).as("blk"),
      shingles(col(textCol), n).as("sh"))
    val ex = base
      .select(col("id"), col("blk"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s_str"))
      .select(col("id"), col("blk"), col("n_sh"), xxhash64(col("s_str")).as("s"))
      .localCheckpoint(true)
    val a = ex.as("a"); val b = ex.as("b")
    // pair aggregate is read twice (one filter per direction): checkpoint
    // so the shingle join runs once — pairs are tiny next to the explode.
    // (round 19: the one-task pair kernel tried in [[ngramJaccard]] was
    // reverted here too — same measurement.)
    val common = a.join(b,
        col("a.s") === col("b.s") && col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .localCheckpoint(true)
    def oriented(sub: String, sup: String, nSub: String) = common
      .withColumn("c", col("n_common").cast("double") / col(nSub).cast("double"))
      .filter(col("c") >= threshold)
      .select(col(sub).as("id_sub"), col(sup).as("id_sup"),
        round(col("c"), 4).as("containment"))
    oriented("id_a", "id_b", "n_a").unionByName(oriented("id_b", "id_a", "n_b"))
  }

  /** Pick LSH (bands, rows) for a target jaccard threshold: the S-curve
    * midpoint of banding is t ≈ (1/b)^(1/r); choose the divisor pair of k
    * whose midpoint is closest to the requested threshold. */
  def lshParamsFor(k: Int, threshold: Double): (Int, Int) = {
    val candidates = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    val (b, r, _) = candidates.minBy { case (_, _, t) => math.abs(t - threshold) }
    (b, r)
  }

  /** Portable LSH band keys: (band, dash-joined signature slice) — no
    * band hash at all, so band agreement is bit-for-bit reproducible.
    * Key width is r decimal longs (~2.4 bytes/char of overhead vs the
    * 8-byte xxhash64 band hash) — the portability price. */
  private def portableBands(sig: Column, b: Int, r: Int): Column =
    array((0 until b).map { band =>
      struct(lit(band).as("band"),
        array_join(transform(slice(sig, band * r + 1, r),
          v => v.cast("string")), "-").as("band_hash"))
    }: _*)

  /** MinHash + LSH candidate pairs: k-perm signature, b bands × r rows.
    * Docs agreeing on any band become candidates; exact signature overlap
    * then estimates jaccard. Shuffle volume: b rows per doc.
    *
    * `portable = true` swaps xxhash64 permutations + band hashes for the
    * md5 convention ([[graft.plans.PortableMinHashSig]], oracle-checkable);
    * the default lane keeps the cheaper engine hashes. */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      portable: Boolean = false): DataFrame = {
    val r = k / bands
    // materialize the shingle array first: the signature references it k
    // times, and an attribute reference stops Catalyst collapsing the
    // projection back into k copies of the tokenization. The signature
    // table itself is materialized once (at cluster scale: a persisted
    // table) — it is read three times below (banding + both rejoins).
    // parallelism floor for the md5-per-shingle portable scan; the xxhash64
    // lane's scan is cheap enough that the extra exchange isn't worth it at
    // local scale (at corpus scale the floor is a no-op either way)
    val spreadDf =
      if (portable) graft.ops.Spread.toSessionParallelism(df, idCol) else df
    val shingled = spreadDf
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
      // shingle-less docs can never pair; dropping them keeps the
      // portable signature total (no null minima in any engine)
      .filter(size(col("sh")) > 0)
    val sigs = (if (portable)
        shingled.select(col("id"),
          graft.plans.TextNative.portableMinhashSig(col("sh"), k).as("sig"))
      else shingled
        .select(col("id"), minhashSignature(col("sh"), k).as("sig")))
      .localCheckpoint(true)
    val banded = sigs.select(col("id"),
      explode(
        (if (portable) portableBands(col("sig"), bands, r)
         else lshBands(col("sig"), bands, r))).as("b"))
    val a = banded.as("a"); val b = banded.as("b")
    // candidate pairs agree on ≥1 band; dedupe on the bare (id_a, id_b) —
    // a 16-byte distinct key — and only then rejoin the k-long signatures
    val cand = a.join(b,
        col("a.b") === col("b.b") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // estimated jaccard = fraction of agreeing signature positions
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _),
          b => b)).cast("double") / lit(k.toDouble), 4))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** SimHash near-dup candidates: fingerprint, chunk-block join, hamming
    * filter. Shuffles `chunks` rows per doc.
    *
    * `portable = true` derives a 60-BIT fingerprint whose token hashes
    * follow the md5 convention (15 hex chars → 60-bit long, ops/Hll
    * precedent) instead of the fused xxhash64 native expression, so the
    * bit-vote — and therefore every candidate pair and hamming distance —
    * is reproducible by any engine with md5. Chunk width scales to the
    * fingerprint (15 vs 16 bits at chunks=4); the pigeonhole guarantee
    * (hamming < chunks ⇒ shared chunk) holds in both lanes. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8,
      chunks: Int = 4,
      portable: Boolean = false): DataFrame = {
    val fpBits = if (portable) 60 else 64
    val spreadDf = graft.ops.Spread.toSessionParallelism(df, idCol)
    val fps =
      if (portable)
        // fused tokenize + md5 + 60-bit vote; NULL = token-less doc (no
        // votes — every engine must agree it emits nothing rather than a
        // zero fingerprint)
        spreadDf.select(col(idCol).as("id"),
            graft.plans.TextNative.portableSimhash60(col(textCol)).as("fp"))
          .filter(col("fp").isNotNull)
      else spreadDf.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
    val chunked = fps.select(col("id"), col("fp"),
      explode(simhashChunks(col("fp"), chunks, fpBits)).as("c"))
    val a = chunked.as("a"); val b = chunked.as("b")
    // hamming filter BEFORE the pair distinct: hamming64 is a scan-stage
    // expression on already-joined rows, so filtering first costs nothing
    // extra per candidate, while distinct-first shuffles the FULL
    // candidate set (every pair sharing any chunk — the dominant volume;
    // survivors are typically a tiny fraction). Result is identical:
    // hamming is a pure function of the pair, so duplicates agree on it.
    a.join(b, col("a.c") === col("b.c") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.fp"), col("b.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup candidates at PRODUCTION fingerprint width — the
    * scale-path sibling of [[simhashPairs]] (the q_srp_lsh_scaled /
    * IVF-nlist pattern applied to fingerprint sizing): a 120-BIT portable
    * fingerprint (two 60-bit md5 lanes, ONE digest per token —
    * [[graft.plans.PortableSimHash120]]) blocked on `chunks` equal
    * bit-chunks laid across both lanes, hamming over all 120 bits.
    *
    * Why width is THE scale lever: the candidate census is Σ over chunk
    * buckets of C(n,2) — quadratic in corpus at fixed chunk width, since
    * bucket space is pinned at 2^width while occupants grow ∝ n.
    * [[simhashPairs]]' 60-bit portable lane caps chunks at 15 bits
    * (measured: SCALE_DECADE_r15 slope2 13.5× at the second decade,
    * ~1.3 G candidate pairs projected at the third). At 120 bits the
    * default 6 chunks are 20 bits wide: 2^20 bucket space = 32× the
    * 15-bit form, so random-pair collisions per chunk drop 32× and the
    * quadratic knee moves 32× further out in corpus size — while the
    * pigeonhole guarantee (hamming < chunks ⇒ some chunk equal) holds
    * verbatim. maxHamming defaults to 32/120 bits = the registry form's
    * 16/60 fraction.
    *
    * Same shuffle shape as [[simhashPairs]]: `chunks` rows per doc into
    * one equi-join, hamming filtered BEFORE the pair distinct. `chunks`
    * must be even (each 60-bit lane carries chunks/2 whole chunks) and
    * divide 120. Every stage — digest, vote, chunk slice, hamming — is
    * md5-portable, so the operator carries a full DuckDB oracle
    * (q_dedup_simhash_scaled). */
  def simhashPairsWide(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 32,
      chunks: Int = 6): DataFrame = {
    require(chunks >= 2 && chunks % 2 == 0 && 120 % chunks == 0,
      s"chunks must be even and divide 120 (each 60-bit lane carries " +
        s"chunks/2 whole chunks), got $chunks")
    val perLane = chunks / 2
    val width = 120 / chunks
    val mask = (1L << width) - 1
    val spreadDf = graft.ops.Spread.toSessionParallelism(df, idCol)
    val fps = spreadDf.select(col(idCol).as("id"),
        graft.plans.TextNative.portableSimhash120(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("id"), element_at(col("fp"), 1).as("fp0"),
        element_at(col("fp"), 2).as("fp1"))
    // chunk c < perLane slices lane 0, c >= perLane lane 1 — same
    // (chunk, chunk_val) struct key as the 60-bit blocker
    val chunkArr = array(
      ((0 until perLane).map { i =>
        struct(lit(i).as("chunk"),
          shiftright(col("fp0"), i * width).bitwiseAND(lit(mask)).as("chunk_val"))
      } ++ (0 until perLane).map { i =>
        struct(lit(perLane + i).as("chunk"),
          shiftright(col("fp1"), i * width).bitwiseAND(lit(mask)).as("chunk_val"))
      }): _*)
    val chunked = fps.select(col("id"), col("fp0"), col("fp1"),
      explode(chunkArr).as("c"))
    val a = chunked.as("a"); val b = chunked.as("b")
    // hamming-filter-before-distinct, the simhashPairs convention: the
    // filter is scan-stage on joined rows; distinct-first would shuffle
    // the full candidate set
    a.join(b, col("a.c") === col("b.c") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (hamming64(col("a.fp0"), col("b.fp0")) +
          hamming64(col("a.fp1"), col("b.fp1"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Prefix-filtering token-set similarity self-join (Chaudhuri et al.
    * ICDE 2006; Bayardo et al. WWW 2007 "All-Pairs"): EXACT Jaccard ≥ t
    * pairs without the full inverted-index fanout. Tokens are globally
    * ordered by (document frequency, token) — rarest first — and a doc
    * with m distinct tokens only indexes its first m − ⌈t·m⌉ + 1 tokens
    * in that order: any pair with Jaccard ≥ t shares ≥ ⌈t·m⌉ tokens (from
    * J ≥ t ⟹ overlap ≥ t·max(ma,mb)), so skipping the last ⌈t·m⌉ − 1
    * tokens of each side cannot skip every shared token — the prefixes
    * must intersect (prefix-filtering principle), making candidate
    * generation a superset and the verify pass exact.
    *
    * Why this beats the full inverted-index join at 100 TB: (1) only the
    * (1−t) prefix fraction of each doc is indexed, shrinking the exploded
    * relation and its self-join quadratically in hot buckets; (2) the
    * rarest-first order means the corpus-hottest tokens — exactly the
    * skew bombs that melt a full token join — fall OUTSIDE almost every
    * prefix and never enter the index at all. Join keys are 64-bit token
    * hashes (8-byte shuffle rows; collision odds ~m²/2⁶⁵ — the
    * ngramJaccard argument). Candidates are `distinct`-ed before the
    * verify join, which fetches each side's hash array by id and scores
    * `array_intersect` exactly.
    *
    * The float guards lean SAFE: prefix length uses ceil(t·m − 1e−9)
    * (an IEEE product landing a hair ABOVE an exact integer would
    * otherwise shorten the prefix — a false-negative bug), and the
    * length filter uses floor slack. Both only ever ADD candidates.
    *
    * Returns (id_a, id_b, jaccard r4) with id_a < id_b.
    */
  def prefixFilterJoin(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    // distinct per-doc token sets, hashed; reused by prefix AND verify →
    // checkpoint once (at cluster scale: a persisted intermediate table)
    val (docs, nDocs) = graft.ops.Materialize.counted(df.select(
        col(idCol).as("id"),
        transform(array_distinct(split(trim(col(textCol)), "\\s+")),
          t => xxhash64(t)).as("hs"))
      .select(col("id"), col("hs"), size(col("hs")).as("m")))
    // below-threshold fast path (round 19, LocalSolve): posting lists +
    // exact-Jaccard verification in one task over the SAME checkpointed
    // hashed-token relation (the prefix filter is lossless, so both
    // paths emit exactly the J ≥ t pairs). Tighter cap than the shared
    // default: candidate volume is Σ df(token)², super-linear in the doc
    // count, so one task only wins while that stays small.
    if (docs.schema("id").dataType == org.apache.spark.sql.types.LongType &&
        graft.graph.LocalSolve.fits(nDocs, 1L << 14)) {
      return graft.graph.LocalSolve.prefixJoinLocal(docs, threshold)
    }
    val dfreq = docs.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc (df, h)-sorted token list → keep the m − ⌈t·m⌉ + 1 prefix
    val prefixLen = greatest(lit(1),
      (col("m") - ceil(col("m") * lit(threshold) - lit(1e-9)) + 1).cast("int"))
    // deliberately NOT checkpointed (unlike ngramJaccard's `ex`): both
    // self-join sides recompute this projection from the checkpointed
    // `docs`, but it is scan-stage work over in-memory blocks plus the
    // dfreq join, and measured 1.8 s vs 2.3 s with an eager checkpoint —
    // materializing the exploded prefix relation costs more than
    // rebuilding it; at cluster scale AQE's exchange reuse dedupes the
    // dfreq shuffle between the two sides
    val prefixes = docs.select(col("id"), col("m"), explode(col("hs")).as("h"))
      .join(dfreq, "h")
      .groupBy(col("id"), col("m"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col("id"), col("m"),
        explode(slice(transform(col("ord"), e => e.getField("h")),
          lit(1), prefixLen)).as("h"))
    val a = prefixes.as("a"); val b = prefixes.as("b")
    val cand = a.join(b,
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          // J ≥ t ⟹ min(ma,mb) ≥ t·max(ma,mb); floor = slack-safe prune
          least(col("a.m"), col("b.m")) >=
            floor(greatest(col("a.m"), col("b.m")) * lit(threshold)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(docs.select(col("id").as("id_a"), col("hs").as("ha"),
        col("m").as("ma")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("hs").as("hb"),
        col("m").as("mb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("ma") + col("mb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Duplicate-cluster assignment: connected components over a candidate
    * pair graph — the dedup-flavored face of
    * [[graft.graph.Graph.connectedComponents]] (one uniform shuffle per
    * round, observed-metric convergence, per-round checkpoints; see there
    * for the scale argument). Near-dup graphs are shallow (dup clusters
    * are cliques from pair generation), so this converges in 2-3 rounds.
    *
    * Returns (id, cluster) where cluster = min id reachable.
    */
  def clusters(ids: DataFrame, pairs: DataFrame, maxIter: Int = 10): DataFrame =
    graft.graph.Graph.connectedComponents(
      ids.select(col("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      maxIter)
      .select(col("id"), col("component").as("cluster"))

  /** Benchmark decontamination: flag training documents that share any
    * word n-gram with an evaluation/benchmark set (the standard 13-gram
    * overlap check; `n` is a parameter since the right value tracks the
    * benchmark's answer length).
    *
    * Scale shape: the benchmark set is SMALL by construction, so its
    * distinct n-gram hashes broadcast; the training side's shingles are
    * scan-stage work (native one-pass expression, already distinct per
    * doc), and the broadcast join prunes to contaminated occurrences
    * before any aggregation — the corpus is never shuffled, only the
    * (tiny) hit set. Returns every training id with its distinct
    * contaminated-gram count and a flag. */
  /** Semantic (embedding-space) decontamination — the paraphrase-robust
    * sibling of the n-gram [[decontaminate]]: flag every training vector
    * whose max cosine against ANY benchmark/eval vector clears the
    * threshold. N-gram overlap misses reworded test items; embedding
    * similarity is the standard second screen (e.g. the GPT-4/Llama
    * contamination audits).
    *
    * Scale shape: benchmark sets are SMALL by construction (test suites,
    * ~10⁴-10⁵ vectors) — broadcast them whole; the corpus is scanned ONCE
    * with per-row norms precomputed on each side before the nested-loop
    * pass, and the per-id max is a partial-aggregatable struct max
    * (map-side combine collapses the |bench| fanout before the exchange).
    * The corpus never self-joins. A benchmark too big to broadcast
    * drops in the IVF index (knnJoinIvf) with the same downstream max.
    *
    * Output: one row per corpus vector — vec id, argmax benchmark id
    * (ties → smaller id), max_cos (4-decimal-floored), contaminated. */
  def semanticDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    import graft.plans.VectorFunctions._
    val fl = (x: Column) => floor(x * 10000 + lit(0.5)) / 10000
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nv", sqrt(vecDot(col("v"), col("v"))))
    val b = broadcast(bench.select(col(idCol).as("bid"), col(vecCol).as("bv"))
      .withColumn("nb", sqrt(vecDot(col("bv"), col("bv")))))
    c.crossJoin(b)
      .withColumn("cos",
        vecDot(col("v"), col("bv")) / (col("nv") * col("nb")))
      .groupBy(col("id"))
      .agg(max(struct(col("cos").as("c"), (-col("bid")).as("nid"))).as("w"))
      .select(col("id").as("vec_id"),
        (-col("w.nid")).as("bench_id"),
        fl(col("w.c")).as("max_cos"),
        (fl(col("w.c")) >= threshold).as("contaminated"))
  }

  def decontaminate(
      train: DataFrame,
      trainId: String,
      trainText: String,
      test: DataFrame,
      testText: String,
      n: Int = 13): DataFrame = {
    val testGrams = test
      .select(explode(shingles(col(testText), n)).as("g"))
      .select(xxhash64(col("g")).as("gh"))
      .distinct()
    val trainGrams = train
      .select(col(trainId).as("id"), explode(shingles(col(trainText), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("gh"))
    // shingles() is distinct-per-doc, so (id, gh) needs no pre-join distinct
    val hits = trainGrams.join(broadcast(testGrams), "gh")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    train.select(col(trainId).as("id")).join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_hits") > 0, lit(false)).as("contaminated"))
  }

  /** Line-level exact dedup (C4-style): each distinct line survives only
    * at its FIRST occurrence in corpus order (min (id, line_no)); documents
    * are reassembled from their surviving lines in original order.
    *
    * Input is (idCol, linesCol: array<string>) — callers pre-split (and
    * pre-filter ragged/low-quality lines) however their corpus demands.
    *
    * Scale shape: the first occurrence per line is a PARTIAL-AGGREGATABLE
    * `min(struct(doc_id, line_no))` keyed on the line — duplicate-heavy
    * lines collapse map-side before the shuffle, so a boilerplate line with
    * 10⁹ copies contributes one row per map partition instead of one sorted
    * window partition (the window form row_number-over-partitionBy(line)
    * both sorts raw strings and concentrates every copy of a hot line in a
    * single task). The keeper rows ARE the surviving lines, so no join back
    * to the exploded relation is needed: reassembly groups keepers by their
    * keeping doc, and per-doc totals come from `size(lines)` at scan stage.
    * Three skew-safe shuffles (line-keyed combine, doc-keyed rebuild,
    * doc-keyed join of two doc-partitioned sides), none carrying duplicate
    * line text. At 100 TB this is the cheapest possible global line dedup.
    */
  def lineDedup(df: DataFrame, idCol: String, linesCol: Column): DataFrame = {
    val ex = df.select(col(idCol).as("doc_id"), posexplode(linesCol).as(Seq("line_no", "line")))
    // one row per distinct line: where it survives
    val keepers = ex
      .groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.line_no").as("line_no"), col("line"))
    // array_sort on the (line_no, line) struct restores document order
    val rebuilt = keepers
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    // per-doc line totals never need the exploded relation
    val counts = df
      .select(col(idCol).as("doc_id"), size(linesCol).cast("long").as("n_lines"))
      .filter(col("n_lines") > 0) // docs with no lines are absent, as before
    counts.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Per-document boilerplate profile (the C4 / RefinedWeb "frequent
    * lines" curation signal: headers, cookie banners, nav chrome repeat
    * verbatim across pages). A line is boilerplate when its exact text
    * occurs in ≥ `minDocs` DISTINCT documents; each document reports its
    * line count, boilerplate-line count, and boilerplate ratio — the
    * per-doc score a quality gate thresholds on.
    *
    * Scale shape: the exploded relation carries (doc_id, line-hash) —
    * 8-byte hashes, never line text — checkpointed once and read twice
    * (corpus frequency + per-doc join-back). Document frequency is a
    * two-phase partial agg (per-doc distinct collapses map-side, bounded
    * by doc length). The verdict side of the join-back is only lines
    * CLEARING the threshold — at web scale the Zipf head, which AQE
    * auto-broadcasts from its runtime size; no hint is hard-coded
    * because a low `minDocs` on a huge corpus can make the set large,
    * and then a plain 8-byte-key shuffle join is the correct plan.
    */
  def boilerplateProfile(
      df: DataFrame, idCol: String, linesCol: Column, minDocs: Int): DataFrame =
    boilerplateProfileHashed(df, idCol,
      transform(linesCol, l => xxhash64(l)), minDocs)

  /** [[boilerplateProfile]] over PRE-HASHED lines — for callers whose
    * line text exists only to be hashed (q_boilerplate synthesizes
    * pseudo-lines by slicing+concatenating token triples; hashing the
    * triple directly skips one string allocation per line across the
    * whole corpus — tokens contain no whitespace, so triple → joined
    * string is injective and the equality semantics are identical).
    * Line identity is whatever the caller's hash encodes; everything
    * downstream of the hash is unchanged. */
  def boilerplateProfileHashed(
      df: DataFrame, idCol: String, lineHashesCol: Column,
      minDocs: Int): DataFrame = {
    // ONE (doc, h)-keyed shuffle carries the corpus: per-doc line
    // multiplicities collapse map-side (partial agg bounded by doc
    // length), and everything downstream — the document-frequency
    // aggregate, the verdict join-back, the per-doc rollup — operates on
    // DISTINCT (doc, line) pairs, not line instances. (The r16 shape
    // checkpointed the per-LINE exploded relation and shuffled it twice,
    // distinct + join-back; the r17 cluster gate priced that at 3.1 s of
    // real-exchange cost against a 0.5 s local control.)
    val exd = df
      .select(col(idCol).as("doc_id"), explode(lineHashesCol).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // tokenized + deduped once, read by both branches
    val boiler = exd
      .groupBy(col("h"))
      .agg(count(lit(1)).as("dfd")) // rows are distinct (doc, h) ⇒ doc freq
      .filter(col("dfd") >= minDocs)
      .select(col("h"), lit(1).as("is_b"))
    exd.join(boiler, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_lines"),
        coalesce(sum(when(col("is_b").isNotNull, col("cnt"))), lit(0L))
          .as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_lines").cast("double"), 4))
  }

  /** Exact-substring span removal (Lee et al. 2022 "Deduplicating Training
    * Data", at token-k-gram granularity): any k-token substring occurring
    * more than once in the corpus — across documents or within one — marks
    * its token span as duplicated; duplicated spans are cut and documents
    * reassembled from the surviving tokens, in order. The gram-hash
    * map-reduce form of the paper's suffix-array pass.
    *
    * Scale shape: the gram relation carries (doc_id, start, xxhash64) —
    * 8-byte hashes, never gram text — and is localCheckpointed once so the
    * duplicate-count aggregate and the occurrence join don't re-derive the
    * tokenize+explode work (same pattern as [[minhashLsh]]). Covered
    * positions collapse map-side (distinct per doc bounded by doc length);
    * the final doc_id-keyed join is the single corpus-bearing shuffle, and
    * span cutting is per-row array math (index filter) on the doc's own
    * token array.
    *
    * Output: doc_id, n_tokens, n_removed, clean_text. */
  def substringSpanDedup(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val toks = split(trim(col(textCol)), "\\s+")
    val base = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
    val grams = base
      .select(col("doc_id"), col("__toks"),
        explode(when(size(col("__toks")) >= k,
            sequence(lit(0), size(col("__toks")) - k))
          .otherwise(array().cast("array<int>"))).as("__s"))
      .select(col("doc_id"), col("__s"),
        xxhash64(array_join(slice(col("__toks"), col("__s") + 1, lit(k)), " ")).as("__gh"))
      .localCheckpoint(true)
    val dupGrams = grams.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("__gh"))
    val covered = grams.join(dupGrams, "__gh")
      .select(col("doc_id"), explode(sequence(col("__s"), col("__s") + (k - 1))).as("__pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("__pos")).as("__cov"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"),
        array_join(
          filter(col("__toks"),
            (_, i) => !coalesce(array_contains(col("__cov"), i), lit(false))),
          " ").as("clean_text"))
  }

  /** Incremental exact dedup at ingest: drop incoming documents whose
    * content hash already exists in the seen-hash history, then keep the
    * first occurrence within the batch — the production shape of exact
    * dedup when a corpus grows batch by batch (the batch analogue of
    * streaming `dropDuplicates`).
    *
    * Scale shape: the anti join keys on the 16-byte md5 — uniform, so the
    * shuffle never skews even though the history side is the whole corpus'
    * hash set. The batch side is small relative to history; Spark's
    * runtime bloom-filter join (`spark.sql.optimizer.runtime.bloomFilter`)
    * or a persisted bloom sketch of the history cuts the history scan to
    * candidate partitions. Within-batch keep is the same partial-agg
    * min-id as [[exact]]. */
  def incrementalExact(
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      seenHashes: DataFrame): DataFrame = {
    val hashed = incoming.select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"))
    hashed.join(seenHashes, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_in_batch"))
  }

  /** Cross-document duplicated-text profile (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" building
    * block, map-reduce form): for every document, how much of it is text
    * that also occurs in ANOTHER document — per doc: distinct n-gram count,
    * how many of those n-grams appear in some other doc, and the duplicated
    * fraction. Complements `decontaminate` (corpus-vs-benchmark): this is
    * corpus-vs-itself, the signal behind substring-level dedup policies.
    *
    * Scale shape: n-grams leave the scan as 8-byte xxhash64 keys (the text
    * never shuffles). Two passes over the corpus, like the original
    * map-reduce formulation: the gram→doc-count aggregation is partial (a
    * boilerplate gram with 10⁹ copies collapses map-side before its
    * shuffle), then the exploded (id, gram-hash) relation semi-joins the
    * >1 grams. The semi join's probe side concentrates a hot gram's rows
    * in one partition by construction — that is exactly what AQE skew-join
    * splitting handles (left-semi probe-side split; enabled in
    * GraftSession). Per-doc rollup is one uniform shuffle on doc id. No
    * pair joins anywhere: O(total tokens). */
  def duplicatedNgramProfile(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // shingles() is distinct-per-doc, so gram doc-counts need no pre-distinct
    val ex = df.select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("gh"))
    val shared = ex.groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
    val dup = ex.join(shared, Seq("gh"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup_grams"))
    df.select(col(idCol).as("id"),
        size(shingles(col(textCol), n)).cast("long").as("n_grams"))
      .join(dup, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        (floor(coalesce(col("n_dup_grams"), lit(0L)) /
          greatest(col("n_grams"), lit(1L)).cast("double") * 10000 + lit(0.5)) / 10000)
          .as("dup_frac"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * k-means-cluster the embeddings, then prune near-identical vectors
    * WITHIN each cluster only. Survivor rule is keep-min-id: a vector is
    * dropped iff some smaller-id vector in its cluster has cosine ≥
    * threshold — deterministic and engine-portable, so with the
    * deterministic first-k centroid init (trainIters = 0) the whole path
    * has a relational oracle.
    *
    * Scale shape: clustering is the IVF build (zero-shuffle assignment
    * projection, driver-resident centroids); the pair join is blocked by
    * cid, so candidate pairs are O(n²/nlist) not O(n²) — with nlist ~ √n
    * (the IVF invariant) that is O(n^1.5) spread uniformly over clusters.
    * Pass `nlist = 0` to apply that invariant automatically (the build
    * sizes the codebook to ⌈√n⌉ — the measured PLANS.md sizing law; the
    * registry query pins nlist=16 for oracle enumerability).
    * The loser set is a narrow distinct on ids, and survivors come from a
    * broadcast-able anti join at realistic dup rates. */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      threshold: Double,
      trainIters: Int = 0): DataFrame = {
    val index = graft.sim.Ann.ivfBuild(df, idCol, vecCol, nlist, trainIters)
    val dups = embeddingDups(index.assigned, "id", "v", "cid", threshold)
    val losers = dups.select(col("id_b").as("id")).distinct()
    index.assigned.join(losers, Seq("id"), "left_anti")
      .select(col("id"), col("cid"))
  }

  /** Embedding cosine near-dup pairs, blocked by a coarse key (cluster id /
    * label / LSH bucket) so the pair join stays bounded. */
  def embeddingDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double): DataFrame = {
    import graft.plans.VectorFunctions._
    // norms precomputed once per vector; per-pair work is one fused
    // codegen'd dot-product loop. The O(block²) pair work rides the stream
    // side's split count (the planner broadcasts the other copy at local
    // sizes) — spread it (identity at production split counts; see
    // Ann.knnJoinExact)
    val v = graft.ops.Spread.toSessionParallelism(
        df.select(col(idCol).as("id"), col(blockCol).as("blk"),
          col(vecCol).as("v")), "id")
      .withColumn("norm", sqrt(vecDot(col("v"), col("v"))))
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        vecDot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** LSH parameter tuning via the S-curve (Leskovec/Rajaraman/Ullman,
    * MMDS §3.4.2): before committing a 100 TB corpus to a MinHash band
    * plan, estimate each (rows r, bands b) config's recall and
    * false-candidate load from the corpus's OWN similarity profile. A
    * pair with Jaccard s collides in at least one band with probability
    * P(s) = 1 − (1 − s^r)^b; integrating P against the measured pair-
    * similarity histogram gives the expected recall above the dedup
    * threshold and the expected below-threshold candidate pairs each
    * config would feed the verify join — the two numbers that decide r×b.
    *
    * The similarity profile comes from the same shingle-blocked exact
    * pair census [[ngramJaccard]] runs (threshold 0 keeps every
    * overlapping pair); disjoint pairs (zero shared shingles) have
    * s = 0 exactly, so P(0) = 0 and they contribute to neither number —
    * the census join's absence of them is lossless, not an
    * approximation. Pairs bin at `floor(round(s,4)·bins)` (the round-4
    * lane keeps binning engine-portable at bin edges).
    *
    * Scale shape: in production this runs on a fixed-size corpus sample
    * (tuning needs ~10⁴ pairs, not the corpus), so the census is
    * constant work; here the histogram is `bins`-sized and the config
    * grid crosses it broadcast — nothing downstream of the census
    * depends on corpus size.
    *
    * Output: one row per config — rows_r, bands_b, k (= r·b hash
    * budget), n_above (true pairs at/above threshold), exp_recall
    * (mean P over those), exp_fp (expected below-threshold candidates),
    * 4-decimal-floored. */
  def lshTune(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      configs: Seq[(Int, Int)],
      threshold: Double,
      bins: Int = 20): DataFrame = {
    require(configs.nonEmpty, "empty config grid")
    val spark = df.sparkSession
    import spark.implicits._
    val fl = (c: Column) => floor(c * 10000 + lit(0.5)) / 10000
    val tBin = math.floor(threshold * bins).toInt
    val hist = ngramJaccard(df, idCol, textCol, n, threshold = 0.0)
      .select(least(floor(col("jaccard") * bins), lit(bins - 1))
        .cast("int").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val grid = configs.toDF("rows_r", "bands_b")
    grid.crossJoin(broadcast(hist))
      .withColumn("p", lit(1.0) - pow(lit(1.0)
        - pow((col("bin") + lit(0.5)) / bins, col("rows_r")), col("bands_b")))
      .groupBy(col("rows_r").cast("long").as("rows_r"),
        col("bands_b").cast("long").as("bands_b"))
      .agg(
        sum(when(col("bin") >= tBin, col("cnt")).otherwise(0L)).as("n_above"),
        (sum(when(col("bin") >= tBin, col("p") * col("cnt")).otherwise(0.0)) /
          greatest(sum(when(col("bin") >= tBin, col("cnt")).otherwise(0L)),
            lit(1L)).cast("double")).as("rec"),
        sum(when(col("bin") < tBin, col("p") * col("cnt")).otherwise(0.0))
          .as("fp"))
      .select(col("rows_r"), col("bands_b"),
        (col("rows_r") * col("bands_b")).as("k"),
        col("n_above"), fl(col("rec")).as("exp_recall"),
        fl(col("fp")).as("exp_fp"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a normalized prefix
    * sketch — the fuzzy-matching pass record-linkage pipelines run where
    * token-set measures (Jaccard/MinHash) miss character-level edits
    * (typos, OCR noise, template fill-ins).
    *
    * Candidates are bounded two ways, both exact (no recall loss):
    *   - equality on caller-supplied block columns (language, source,
    *     domain…) — never all-pairs;
    *   - length blocking: `|len(a) − len(b)| > maxDist` implies
    *     `levenshtein > maxDist`, so each side keys on
    *     `floor(len / (maxDist+1))` and the left side explodes to its
    *     adjacent buckets (length difference ≤ maxDist can never span
    *     more than one bucket boundary when the bucket width exceeds it —
    *     each qualifying pair meets in EXACTLY one bucket, no dedup pass
    *     needed).
    * The Levenshtein DP runs only on surviving candidates, over the
    * `prefixLen`-char sketch (not full documents), and in the banded
    * threshold form — O(len·maxDist) per pair with early exit, not
    * O(len²).
    *
    * Scale shape: one equi-join shuffle on (block…, bucket) — a uniform
    * key (3× explode on the left only); per-pair cost capped by
    * `prefixLen²`. Output: id_a < id_b, dist ≤ maxDist. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      prefixLen: Int,
      maxDist: Int): DataFrame = {
    val w = maxDist + 1
    val base = df.select(
      (col(idCol).as("id") +: blockCols.map(c => col(c))) :+
        substring(regexp_replace(trim(col(textCol)), "\\s+", " "), 1, prefixLen)
          .as("pre"): _*)
      .withColumn("bkt", floor(length(col("pre")) / w))
    val joinKeys = blockCols :+ "bkt"
    // Hash-repartition the probe (streamed, DP-carrying) side on the join
    // keys: a big-big run shuffles there anyway, and when AQE broadcasts
    // the build side instead (small corpus), this keeps the Levenshtein
    // work spread across cores rather than serialized into however few
    // splits the input file happens to have. The partition count is given
    // EXPLICITLY (shuffle.partitions): by-column repartition is subject to
    // AQE coalescing, which optimizes for bytes and would re-serialize
    // this CPU-bound stage back into one tiny partition.
    val nShuffle = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = base.withColumn("bkt",
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
      .repartition(nShuffle, joinKeys.map(col): _*)
    probe.as("a").join(base.as("b"),
        joinKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id") &&
          abs(length(col("a.pre")) - length(col("b.pre"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("a.pre"), col("b.pre"), maxDist))
      // threshold form returns -1 iff dist > maxDist, so ONE predicate
      // suffices — a second bound would re-evaluate the DP per pair
      // (Catalyst does not CSE inside join conditions)
      .filter(col("dist") =!= -1)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("long").as("dist"))
  }
}
