package graft.core

import org.apache.spark.BlockBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** FrameCache contract: one materialization per (session, key), hits are
  * the same checkpointed frame, consumers' plans scan the checkpoint
  * instead of re-running the build, the entry holds none of its build,
  * releasing an entry frees its blocks, and a hit whose blocks are gone
  * is rebuilt.
  */
class FrameCacheSpec extends SparkSpec {

  private def checkpointOf(df: DataFrame): RDD[_] =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  private def persisted(rdd: RDD[_]): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rdd.id)

  test("second lookup is a cache hit: same frame, builder runs once") {
    var builds = 0
    def build = {
      builds += 1
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    }
    val key = s"framecache-spec-hit-${System.nanoTime()}"
    val a = FrameCache.cached(spark, key)(build)
    val b = FrameCache.cached(spark, key)(build)
    assert(builds == 1)
    assert(a eq b)
    assert(checkpointOf(a).getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(b.count() == 100)
  }

  test("consumer plans scan the cached relation, not the build lineage") {
    val key = s"framecache-spec-scan-${System.nanoTime()}"
    val f = FrameCache.cached(spark, key) {
      spark.range(1000).select(col("id"),
        (col("id") % 7).as("g"))
    }
    val consumer = f.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val plan = consumer.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"), plan.take(2000))
    assert(!plan.contains("Range"), plan.take(2000))
  }

  test("distinct keys build distinct frames") {
    val k1 = s"framecache-spec-a-${System.nanoTime()}"
    val k2 = s"framecache-spec-b-${System.nanoTime()}"
    val a = FrameCache.cached(spark, k1)(spark.range(10).toDF())
    val b = FrameCache.cached(spark, k2)(spark.range(20).toDF())
    assert(a.count() == 10 && b.count() == 20)
  }

  test("an entry holds its rows, not its build: one LogicalRDD leaf, " +
      "and the build's broadcast tables are freed") {
    val before = BlockBridge.broadcastIds(spark.sparkContext)
    val key = s"framecache-spec-nobuild-${System.nanoTime()}"
    val f = FrameCache.cached(spark, key) {
      val a = spark.range(200).select(col("id").as("ka"),
        (col("id") * 3).as("a"))
      val b = spark.range(300).select(col("id").as("kb"),
        (col("id") * 5).as("b"))
      spark.range(5000).select(col("id"))
        .join(broadcast(a), col("id") % 200 === col("ka"))
        .join(broadcast(b), col("id") % 300 === col("kb"))
        .select(col("id"), col("a"), col("b"))
    }
    val plan = f.queryExecution.logical
    assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty,
      plan.treeString)
    assert(f.count() == 5000)
    // the build's broadcasts are freed once its plan is collected: poll
    // through a few collections, bounded
    def held = BlockBridge.broadcastIds(spark.sparkContext) -- before
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (held.nonEmpty && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(held.isEmpty, s"broadcast blocks still held: $held")
  }

  test("remove() and clear() unpersist the entry's checkpoint RDD") {
    val k1 = s"framecache-spec-rm-${System.nanoTime()}"
    val a = checkpointOf(FrameCache.cached(spark, k1)(spark.range(10).toDF()))
    assert(persisted(a))
    FrameCache.cache.remove(spark, k1)
    assert(!persisted(a))
    val k2 = s"framecache-spec-clear-${System.nanoTime()}"
    val b = checkpointOf(FrameCache.cached(spark, k2)(spark.range(10).toDF()))
    assert(persisted(b))
    FrameCache.clear()
    assert(!persisted(b))
  }

  test("a hit whose checkpoint blocks are gone builds once more and " +
      "serves the same rows") {
    var builds = 0
    def build = {
      builds += 1
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    }
    val key = s"framecache-spec-lost-${System.nanoTime()}"
    val a = FrameCache.cached(spark, key)(build)
    val rows = a.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    checkpointOf(a).unpersist(blocking = true) // behind FrameCache's back
    val b = FrameCache.cached(spark, key)(build)
    assert(builds == 2)
    assert(!(a eq b) && persisted(checkpointOf(b)))
    assert(b.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      .sameElements(rows))
    assert(FrameCache.cached(spark, key)(build) eq b)
    assert(builds == 2)
  }
}
