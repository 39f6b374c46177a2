package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Single-flight memo of deterministic per-SparkSession intermediates,
  * the one protocol behind FrameCache, ml.ModelCache and ml.TrainingCache.
  * Keys must fully determine the value (input dir, every build parameter)
  * and builders be deterministic, so a hit equals a rebuild.
  *
  * The map holds a PROMISE per (applicationId, key), installed with a
  * cheap `putIfAbsent`; the build runs OUTSIDE the map's bin locks, so a
  * hit never waits behind another key's build, and racing callers of one
  * key park on the winner's future (one build per key, no duplicate
  * persisted frame or fit to leak). A build that throws removes its
  * promise, so waiters see the cause and the next caller retries. A
  * builder may request a DIFFERENT key mid-build (its own key would
  * self-deadlock). Entries whose SparkContext has stopped, finished or in
  * flight, are dropped lazily; live sessions never evict each other, and
  * an owner drops a superseded key with [[remove]].
  *
  * Ledger: each completed build's start and end `nanoTime` per key;
  * [[buildLog]] gives their lengths, [[SessionCache.buildUnionSec]] the
  * union over every cache, so concurrent or nested builds count once.
  * @param release frees a finished value of a live context when its
  *   entry is dropped
  * @param live whether a finished value can still be served; a hit on
  *   one that cannot drops that entry, releases it and builds afresh
  */
final class SessionCache[K, V](release: V => Unit,
    live: V => Boolean = (_: V) => true) {

  private val cache =
    new ConcurrentHashMap[(String, K), (SparkContext, CompletableFuture[V])]()
  private val spans = new ConcurrentHashMap[(String, K), (Long, Long)]()

  SessionCache.all.add(this)

  /** Completed builds this JVM: (applicationId, key) -> build seconds. */
  def buildLog: Map[(String, K), Double] =
    spans.asScala.map { case (k, (t0, t1)) => k -> (t1 - t0) / 1e9 }.toMap

  /** Get-or-build the value of `key` in `spark`'s context. */
  def apply(spark: SparkSession, key: K)(build: => V): V = {
    cache.values.removeIf(_._1.isStopped)
    val sc = spark.sparkContext
    val k = (sc.applicationId, key)
    val mine = (sc, new CompletableFuture[V]())
    val existing = cache.putIfAbsent(k, mine)
    if (existing != null) {
      val v = try existing._2.join() catch {
        case e: CompletionException => throw Option(e.getCause).getOrElse(e) }
      if (live(v)) v
      else {
        // drop exactly this entry: a racing caller may have replaced it
        if (cache.remove(k, existing)) release(v)
        apply(spark, key)(build)
      }
    } else try {
      val t0 = System.nanoTime()
      val v = build
      spans.put(k, (t0, System.nanoTime()))
      mine._2.complete(v)
      v
    } catch {
      case t: Throwable =>
        cache.remove(k, mine); mine._2.completeExceptionally(t); throw t
    }
  }

  /** Whether `key` has an entry, built or in flight, in `spark`'s context. */
  def contains(spark: SparkSession, key: K): Boolean =
    cache.containsKey((spark.sparkContext.applicationId, key))

  /** Drop `key`'s entry in `spark`'s context, releasing a finished value;
    * an in-flight build still returns to its waiters, and the ledger keeps
    * the completed build. The next caller of `key` builds afresh.
    */
  def remove(spark: SparkSession, key: K): Unit =
    Option(cache.remove((spark.sparkContext.applicationId, key))).foreach {
      case (sc, f) =>
        if (!sc.isStopped && f.isDone && !f.isCompletedExceptionally)
          release(f.join())
    }

  /** Drop every entry and this cache's ledger, releasing finished values
    * of live contexts; an in-flight build still returns to its waiters.
    */
  def clear(): Unit = {
    cache.values.asScala.foreach { case (sc, f) =>
      if (!sc.isStopped && f.isDone && !f.isCompletedExceptionally)
        release(f.join())
    }
    cache.clear(); spans.clear()
  }
}

object SessionCache {
  private val all = new ConcurrentLinkedQueue[SessionCache[_, _]]()

  /** Seconds covered by the union of every cache's build intervals. */
  def buildUnionSec: Double = {
    val spans = all.asScala.toSeq.flatMap(_.spans.values.asScala).sortBy(_._1)
    var (end, covered) = (Long.MinValue, 0L)
    spans.foreach { case (t0, t1) =>
      if (t1 > end) { covered += t1 - math.max(t0, end); end = t1 }
    }
    covered / 1e9
  }
}
