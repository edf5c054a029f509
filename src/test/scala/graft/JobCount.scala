package graft

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches: a direct guard on per-job driver
  * overhead. Only jobs submitted under this call's thread-local tag count
  * (Spark hands local properties to the threads a query spawns), so jobs
  * that other threads run meanwhile do not. */
object JobCount {
  private val Tag = "graft.test.jobCount"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) jobs.incrementAndGet()
    }
    val prior = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try {
      val out = body
      Bus.drain(sc)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
