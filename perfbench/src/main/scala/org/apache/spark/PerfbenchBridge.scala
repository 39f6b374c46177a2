package org.apache.spark

/** The one Spark-internal the harness needs: blocking until the listener
  * bus has delivered every queued event, so counters read after a timed
  * region include all of its jobs.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
