package graft.ml

import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentHashMap}

import org.apache.spark.SparkContext
import org.apache.spark.ml.Transformer
import org.apache.spark.sql.SparkSession

/** Session-scoped cache of fitted models, one level above TrainingCache:
  * the same (input dir, model type, params, fit-input) always yields the
  * same fitted model because every trainer is seeded (seed 42 throughout,
  * matching the reference protocol) and the cached prepared/SMOTE'd
  * matrices are themselves deterministic. Mirrors the reference's
  * persisted-model reuse (/root/reference/src/train.py:96-105 pickles the
  * preprocessor+models precisely so later requests skip refitting): a
  * serving session fits each model once, then every scoring/importance
  * query reuses it. DeterminismSpec pins fresh-fit == refit model
  * fingerprints, so cache hits are observationally identical to fresh
  * fits. GraftServer keeps its loaded models here too, one per registry
  * entry: key = the entry's path, tag = `load@<createdAtMs>`.
  */
object ModelCache {

  private val cache =
    new ConcurrentHashMap[
      (String, String, String),
      (SparkContext, CompletableFuture[Transformer])]()

  private val fitSecs =
    new ConcurrentHashMap[(String, String, String), Double]()

  /** Completed fits this JVM: (applicationId, key, tag) -> fit seconds —
    * the bench reads this so shared-model fit cost is reported as its
    * own line instead of billed to whichever consumer ran first.
    */
  def buildLog: Map[(String, String, String), Double] = {
    import scala.jdk.CollectionConverters._
    fitSecs.asScala.toMap
  }

  /** Get-or-fit the model for (session, input key, model tag). The tag
    * must encode model type, params, and which cached matrix the fit
    * consumes (e.g. "RAND_FOREST:n=20:smoted").
    *
    * Same promise-per-key protocol as core.FrameCache: `putIfAbsent`
    * installs a cheap promise and the multi-second fit runs OUTSIDE the
    * map's bin locks — single-fit-per-key still holds (racers park on
    * the winner's future), a hit on one model never waits behind another
    * model's fit even when their keys share a hash bin, and a fit that
    * throws removes its promise so the next caller retries. Eviction is
    * lazy and targets only entries whose owning SparkContext has
    * stopped: one JVM cycling sessions (test runners, driver restarts)
    * must not pin dead apps' models forever, but two concurrently live
    * sessions with different applicationIds must not thrash-evict each
    * other's entries either.
    */
  def fitted(spark: SparkSession, key: String, modelTag: String)
      (fit: => Transformer): Transformer = {
    val sc = spark.sparkContext
    cache.values.removeIf(_._1.isStopped)
    val k = (sc.applicationId, key, modelTag)
    val promise = new CompletableFuture[Transformer]()
    val existing = cache.putIfAbsent(k, (sc, promise))
    if (existing != null) {
      try existing._2.join()
      catch {
        case e: CompletionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    } else {
      try {
        val t0 = System.nanoTime()
        val m = fit
        fitSecs.put(k, (System.nanoTime() - t0) / 1e9)
        promise.complete(m)
        m
      } catch {
        case t: Throwable =>
          cache.remove(k, (sc, promise))
          promise.completeExceptionally(t)
          throw t
      }
    }
  }

  /** Drop all cached models (tests / memory pressure). */
  def clear(): Unit = { cache.clear(); fitSecs.clear() }
}
