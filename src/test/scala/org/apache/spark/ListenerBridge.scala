package org.apache.spark

/** Test access to one Spark internal: block until the listener bus has
  * delivered every queued event, so a listener's counts are complete.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
