package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.sql.SparkSession

import graft.core.SessionCache

/** Session-scoped cache of fitted models, built once per key through
  * [[graft.core.SessionCache]]. Trainers are seeded (42, the reference
  * protocol) over deterministic cached matrices, so a hit equals a refit
  * (DeterminismSpec); it mirrors the reference pickling its fitted models
  * so later requests skip refitting. GraftServer keeps its loaded models
  * here too: key = the registry entry's path, tag = `load@<createdAtMs>`.
  */
object ModelCache {

  private val cache = new SessionCache[(String, String), Transformer](_ => ())

  /** Completed fits this JVM: (applicationId, key, tag) -> fit seconds. */
  def buildLog: Map[(String, String, String), Double] =
    cache.buildLog.map { case ((app, (key, tag)), s) => (app, key, tag) -> s }

  /** Get-or-fit the model for (session, input key, model tag); the tag
    * encodes type, params and input matrix ("RAND_FOREST:n=20:smoted"). */
  def fitted(spark: SparkSession, key: String, modelTag: String)
      (fit: => Transformer): Transformer = cache(spark, (key, modelTag))(fit)

  /** Drop all cached models (tests / memory pressure). */
  def clear(): Unit = cache.clear()
}
