package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so a
  * span's job/task totals are complete before the span's metrics are read.
  * The listener bus is `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
