package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Parallelism floor for heavy scan-side compute stages.
  *
  * Operators like winnowing, MinHash and SimHash do their dominant work
  * (per-gram/per-token hashing) in the SCAN stage — zero or few shuffles is
  * exactly the 100 TB design. But scan-stage parallelism is the input split
  * count, and a small local file (sf0.1 documents.parquet is 584 KB → ONE
  * split under the 8 MB `maxPartitionBytes`) pins millions of md5 calls to
  * a single core while 31 idle (measured: 2× on q_winnow_pairs, ~4× on the
  * portable simhash lane).
  *
  * [[Spread.toSessionParallelism]] is the guard: when the input already has
  * at least `spark.sql.shuffle.partitions` partitions — any real corpus;
  * 100 TB of parquet is ~10⁵ splits — it is the identity and costs nothing.
  * Below that it hash-repartitions on the given key column (keyed, not
  * round-robin, so downstream per-doc grouping can reuse the distribution
  * and a task retry replays deterministically), shuffling only the raw
  * input — kilobytes, orders of magnitude below the per-row work a single
  * core would otherwise serialize.
  */
object Spread {

  def toSessionParallelism(df: DataFrame, keyCol: String): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // getNumPartitions runs no job for a leaf or a pinned input, but
    // under AQE `.rdd` finalizes the adaptive plan, which can run the
    // shuffle stages below `df` as jobs of their own
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col(keyCol))
  }
}
