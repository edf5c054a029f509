package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Pin a relation AND read a number about it in one Spark job: an eager
  * `localCheckpoint` with `Dataset.observe` attached, so a caller that
  * sizes (or tests convergence of) what it just pinned pays no second
  * count job. Use it only where the number is read: on a shuffle-fed input
  * the observed checkpoint can take one job more than a bare one. */
object Materialize {

  /** Pin `df` and return it with the row of `metrics` (each one named)
    * over exactly the rows pinned. Over zero rows an aggregate observes its
    * empty value: 0 for `count`/`count_if`, null for `sum`. */
  def observed(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) = {
    val name = s"materialize_${java.util.UUID.randomUUID()}"
    val watched = df.observe(name, metric, more: _*)
    val pinned = watched.localCheckpoint(true)
    // the checkpoint ran `watched`'s own executed plan, whose collector now
    // holds the row (an `Observation` would wait for the listener bus)
    (pinned, watched.queryExecution.observedMetrics(name))
  }

  /** [[observed]] for the row count. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (pinned, m) = observed(df, count(lit(1)).as("rows"))
    (pinned, m.getLong(0))
  }
}
