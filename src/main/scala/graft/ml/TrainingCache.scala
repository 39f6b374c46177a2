package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SessionCache

/** Session-scoped cache of fit inputs ([[MultiModel.FitInput]]) per
  * (session, input key, feature set, rebalance strategy), built once
  * through [[graft.core.SessionCache]]: the seed-42 split, then
  * [[MultiModel.fitInput]] on its train half with the held-out half
  * prepared beside it, so `fitOn` is the very input `MultiModel.train`
  * fits a classifier on. The trainer queries and `/train/` read it; the
  * reference rebuilds all of it per request, here N trainings on the
  * same data pay scan/impute/scale/rebalance once. The split and the
  * oversample are functions of the rows and the seed alone (hash-based),
  * so their rows are the same at any core or partition count; the
  * classifier a fit input gives still follows its partition layout.
  */
object TrainingCache {

  private type Key = (String, Seq[String], Option[String])

  private val cache =
    new SessionCache[Key, MultiModel.FitInput](_.release())

  /** Completed fit-input builds this JVM: (applicationId, "<input
    * key>:<strategy or none>", feature set) -> build seconds. */
  def buildLog: Map[(String, String, Seq[String]), Double] =
    cache.buildLog.map { case ((app, (key, fc, r)), s) =>
      (app, s"$key:${r.getOrElse("none")}", fc) -> s }

  /** Get-or-build the fit input of `labeled`'s train split, a
    * deterministic function of `key` (the caller's input). */
  private[graft] def entry(spark: SparkSession, key: String,
      featureCols: Seq[String], rebalance: Option[String])
      (labeled: => DataFrame): MultiModel.FitInput =
    cache(spark, (key, featureCols, rebalance)) {
      val (tr, te) = MultiModel.split(labeled)
      MultiModel.fitInput(tr, featureCols, rebalance, Some(te))
    }

  /** Drop and release the fit inputs of `key` under every strategy. */
  private[graft] def remove(spark: SparkSession, key: String,
      featureCols: Seq[String]): Unit =
    (None +: Smote.Strategies.map(Some(_))).foreach(r =>
      cache.remove(spark, (key, featureCols, r)))

  /** Drop and unpersist every cached fit input (tests / memory pressure). */
  def clear(): Unit = cache.clear()
}
