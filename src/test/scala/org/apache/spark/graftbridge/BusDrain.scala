package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Blocks until every queued listener event has been delivered, so a
  * spec's job and task counts are complete before it reads them. The
  * listener bus is `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The number of Spark jobs that start while `f` runs, counted by a
    * listener registered after the bus has drained and read after it has
    * drained again, so no earlier job leaks in and none of `f`'s is lost. */
  def jobsOf(sc: SparkContext)(f: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { f; drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }
}
