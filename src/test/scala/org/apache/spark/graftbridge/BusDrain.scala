package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so a
  * spec's job and task counts are complete before it reads them. The
  * listener bus is `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
