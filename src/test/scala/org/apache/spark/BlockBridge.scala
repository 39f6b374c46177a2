package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block manager: the ids of the broadcast
  * variables whose blocks it still stores.
  */
object BlockBridge {
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: BroadcastBlockId => b.broadcastId }.toSet
}
