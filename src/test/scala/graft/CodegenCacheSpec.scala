package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Spark keeps generated classes in one LRU cache per JVM, sized by
  * `spark.sql.codegen.cache.maxEntries` (default 100). A workload that
  * cycles through more distinct classes than that recompiles every one
  * of them on every cycle; `GraftSession.configure` sizes the cache to
  * graft's working set. Compiles are read from Spark's codegen counter,
  * which runs no job. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a 150-plan cycle compiles once: the second round reuses every generated class") {
    // primitive literals are inlined into the generated code, so each
    // plan compiles its own whole-stage class
    val plans = (1 to 150).map(i => spark.range(4).selectExpr(s"id * $i + $i AS v"))
    def round(): Seq[Long] = plans.map(_.collect().map(_.getLong(0)).sum)
    val c0 = compiles()
    val first = round()
    val c1 = compiles()
    val second = round()
    val c2 = compiles()
    assert(c1 - c0 >= 150, "every plan compiles in the first round")
    assert(c2 - c1 == 0, s"the second round recompiled ${c2 - c1} classes")
    assert(first == second)
    assert(first == (1 to 150).map(i => (0L until 4L).map(_ * i + i).sum))
  }

  test("configure keeps an explicit spark.sql.codegen.cache.maxEntries") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val prev = Option(System.getProperty(key))
    System.setProperty(key, "4096")
    try {
      GraftSession.configure(SparkSession.builder())
      assert(System.getProperty(key) == "4096")
    } finally prev match {
      case Some(v) => System.setProperty(key, v)
      case None => System.clearProperty(key)
    }
  }
}
