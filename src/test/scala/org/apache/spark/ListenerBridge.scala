package org.apache.spark

/** Test access to Spark internals: block until the listener bus has
  * delivered every queued event, so a listener's counts are complete;
  * count the persisted RDDs a build pins.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The persisted RDDs of `sc` other than local checkpoints, whose RDDs
    * (a failed checkpoint's too) the ContextCleaner frees once they are
    * unreachable. */
  def pinnedRdds(sc: SparkContext): Int =
    sc.getPersistentRDDs.values.count(!_.checkpointData.exists(
      _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
}
