package org.apache.spark.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** The broadcast values the driver's BlockManager holds, by broadcast id.
  * The BlockManager is `private[spark]`, hence this package. */
object DriverBlocks {
  def broadcastValues(): Map[Long, Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect { case b @ BroadcastBlockId(id, "") =>
      bm.getLocalValues(b).map { r =>
        val v = r.data.next()
        bm.releaseLock(b)
        id -> v
      }
    }.flatten.toMap
  }
}
