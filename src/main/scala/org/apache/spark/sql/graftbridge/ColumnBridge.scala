package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import java.util.concurrent.atomic.AtomicLong

/** Bridge to the `private[sql]` Column↔Expression converters — the standard
  * pattern for libraries that define custom Catalyst expressions (a file in
  * an `org.apache.spark.sql` subpackage; cf. public Spark extension projects
  * doing the same for `Dataset`/`Column` factories). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` is one of `values`, as one hash-set expression. `isin` builds an
    * `In` over one literal per value, which the analyzer and optimizer walk
    * value by value before it becomes a hash set — seconds of planning at
    * tens of thousands of values. */
  def inSet(c: Column, values: Set[String]): Column =
    column(InSet(expression(c), values.map(UTF8String.fromString)))

  /** `s` with every nested field nullable: the schema a file read reports
    * for data written as `s`. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** DataFrame over a custom LogicalPlan (for operators that introduce
    * their own plan nodes, e.g. the native as-of join). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Run `body` and tell whether Spark work happened meanwhile: an RDD was
    * created or a SQL execution (any Dataset action or write) started. Work
    * on other threads counts too. */
  def withWorkCheck[T](spark: SparkSession)(body: => T): (T, Boolean) = {
    val sc = spark.sparkContext
    val rdd0 = sc.newRddId()
    val exec0 = executionIds.get()
    val out = body
    (out, sc.newRddId() != rdd0 + 1 || executionIds.get() != exec0)
  }

  /** SQLExecution's id counter: every execution draws the next id. */
  private lazy val executionIds: AtomicLong = {
    val f = SQLExecution.getClass.getDeclaredField("_nextExecutionId")
    f.setAccessible(true)
    f.get(SQLExecution).asInstanceOf[AtomicLong]
  }
}
