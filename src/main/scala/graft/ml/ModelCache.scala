package graft.ml

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.sql.SparkSession

import graft.core.SessionCache

/** Session-scoped cache of fitted models, built once per key through
  * [[graft.core.SessionCache]]. Trainers are seeded (42, the reference
  * protocol) over cached matrices that are deterministic for a fixed scan
  * partition count (the seed-42 split follows it), so on one host a hit
  * equals a refit (DeterminismSpec); it mirrors the reference pickling
  * its fitted models so later requests skip refitting.
  *
  * Saved inference pipelines live here too: key = the model's saved path,
  * tag = [[Saved]]. [[MultiModel.save]] hands the pipeline it just wrote
  * to its entry and [[MultiModel.load]] reads through it, so the model a
  * chain or `/train/` fitted is served without a disk load. Saved paths
  * are write-once (a save refuses an existing path), so a hit equals a
  * load from disk. Next to each saved model sits its confusion counts
  * over a held-out split ([[confusion]]), the one scoring pass behind
  * GraftServer's smoke replies and `/metrics/`. A retrain supersedes a
  * path for good ([[evict]]): a late reader that resolved it before the
  * retrain still gets its model and confusion, but neither is held.
  */
object ModelCache {

  /** The tag of a saved inference pipeline's entry. */
  val Saved = "saved"

  private val cache = new SessionCache[(String, String), Transformer](_ => ())
  private val confusions =
    new SessionCache[(String, String), Seq[(Double, Double, Long)]](_ => ())
  // (applicationId, path) of every saved pipeline a retrain superseded
  private val superseded = ConcurrentHashMap.newKeySet[(String, String)]()

  /** `c`'s value of `key`, dropped from `c` again when the saved `path`
    * it belongs to is superseded: [[evict]] marks the path before it
    * removes, so a reader that installs after the removal sees the mark.
    */
  private def unlessSuperseded[K, V](c: SessionCache[K, V],
      spark: SparkSession, path: String, key: K)(build: => V): V = {
    val v = c(spark, key)(build)
    if (superseded.contains((spark.sparkContext.applicationId, path)))
      c.remove(spark, key)
    v
  }

  /** Completed fits this JVM: (applicationId, key, tag) -> fit seconds. */
  def buildLog: Map[(String, String, String), Double] =
    cache.buildLog.map { case ((app, (key, tag)), s) => (app, key, tag) -> s }

  /** Get-or-fit the model for (session, input key, model tag); the tag
    * encodes type, params and input matrix ("RAND_FOREST:n=20:smoted"). */
  def fitted(spark: SparkSession, key: String, modelTag: String)
      (fit: => Transformer): Transformer = cache(spark, (key, modelTag))(fit)

  /** Get-or-load the inference pipeline saved at `path`. */
  def saved(spark: SparkSession, path: String)
      (load: => PipelineModel): PipelineModel =
    unlessSuperseded(cache, spark, path, (path, Saved))(load)
      .asInstanceOf[PipelineModel]

  /** Whether the pipeline saved at `path` is held (loaded or loading). */
  def holds(spark: SparkSession, path: String): Boolean =
    cache.contains(spark, (path, Saved))

  /** Get-or-count the confusion of the pipeline saved at `path` over the
    * held-out split `heldOut` names, as (label, prediction, n). */
  def confusion(spark: SparkSession, path: String, heldOut: String)
      (count: => Seq[(Double, Double, Long)]): Seq[(Double, Double, Long)] =
    unlessSuperseded(confusions, spark, path, (path, heldOut))(count)

  /** Drop the pipeline saved at `path` and its confusion over `heldOut`
    * (a retrain superseded it), and hold neither again: a later reader
    * loads and counts afresh each time. */
  def evict(spark: SparkSession, path: String, heldOut: String): Unit = {
    superseded.add((spark.sparkContext.applicationId, path))
    cache.remove(spark, (path, Saved))
    confusions.remove(spark, (path, heldOut))
  }

  /** Drop all cached models and confusions (tests / memory pressure). */
  def clear(): Unit = {
    cache.clear(); confusions.clear(); superseded.clear()
  }
}
