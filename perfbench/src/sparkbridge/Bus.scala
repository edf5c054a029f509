package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: wait until every event
  * posted so far has reached the listeners, so totals read afterwards are
  * complete. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
