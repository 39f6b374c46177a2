package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache of deterministic intermediate frames shared by
  * several registered queries (a materialized CTE: the sessionized
  * interval frame, the co-order edge list), built once per key through
  * [[SessionCache]]. At cluster scale that is one shuffle of the fact
  * table instead of one per consumer query. Entries are persisted
  * MEMORY_AND_DISK (memory pressure degrades to disk reads, never OOM)
  * and materialized eagerly, so later consumers only read.
  */
object FrameCache {

  private val cache =
    new SessionCache[String, DataFrame](_.unpersist(blocking = false))

  /** Completed builds this JVM: (applicationId, key) -> build seconds. */
  def buildLog: Map[(String, String), Double] = cache.buildLog

  def cached(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = cache(spark, key) {
    val df = build.persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize now: consumers must only read
    df
  }

  /** Drop and unpersist everything (tests / memory pressure). */
  def clear(): Unit = cache.clear()
}
