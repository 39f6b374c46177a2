package graft.core

import org.apache.spark.sql.{DataFrame, GraftCheckpointBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped cache of deterministic intermediate frames shared by
  * several registered queries (a materialized CTE: the sessionized
  * interval frame, the co-order edge list), built once per key through
  * [[SessionCache]]. At cluster scale that is one shuffle of the fact
  * table instead of one per consumer query. Each entry is materialized
  * eagerly as a local checkpoint (MEMORY_AND_DISK: memory pressure
  * degrades to disk reads, never OOM) whose plan is a single `LogicalRDD`
  * leaf declaring the build's partitioning, ordering, row count and size
  * ([[GraftCheckpointBridge.checkpoint]]): consumers only read it, joins
  * keyed on its partitioning need no exchange, and nothing holds the
  * build's executed plan, so the build's broadcast tables and shuffles
  * are freed. A local checkpoint cannot be recomputed, so a hit whose
  * blocks are gone (a lost executor) drops the entry and builds afresh.
  */
object FrameCache {

  private[core] val cache =
    new SessionCache[String, DataFrame](release, GraftCheckpointBridge.live)

  /** Completed builds this JVM: (applicationId, key) -> build seconds. */
  def buildLog: Map[(String, String), Double] = cache.buildLog

  def cached(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame =
    cache(spark, key)(GraftCheckpointBridge.checkpoint(build))

  /** Drop and release everything (tests / memory pressure); a frame
    * handed out before can no longer be read.
    */
  def clear(): Unit = cache.clear()

  /** Free what `df` pins: its `persist`ed relation and the blocks of the
    * checkpoint at its plan root, which `Dataset.unpersist` leaves alone.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
