package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: wait until every event
  * posted so far has reached the listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
