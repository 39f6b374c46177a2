package graft.ml

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Preprocess

/** L8/A10 — feature-importance ranking + pruning loop (reference notebook
  * cells 26-29: train RF → rank `feature_importances_` → drop < 0.001).
  */
object Importance {

  /** Importances of a fitted RF zipped with feature names, ranked desc
    * (ties by name for determinism). Driver-side: the importance vector is
    * |features|-sized metadata, not data.
    */
  def ranked(spark: SparkSession, model: RandomForestClassificationModel,
      featureNames: Seq[String]): DataFrame = {
    val imp = model.featureImportances.toArray
    val rows = featureNames.zip(imp).sortBy { case (n, i) => (-i, n) }
    spark.createDataFrame(rows).toDF("feature", "importance")
  }

  /** The pruning decision: features whose importance < threshold
    * (notebook cell 27 `Importance < 0.001`), to feed
    * Preprocess.dropTolerant (P2).
    */
  def dropList(model: RandomForestClassificationModel,
      featureNames: Seq[String], threshold: Double = 0.001): Seq[String] =
    featureNames.zip(model.featureImportances.toArray)
      .filter(_._2 < threshold).map(_._1)

  /** L8 — the full pruning loop (notebook cells 26-29): fit an RF on the
    * labeled frame, rank importances, drop features below threshold from
    * the frame (tolerant P2 projection). Returns the pruned frame and the
    * surviving feature list.
    */
  def pruneFeatures(labeled: DataFrame, featureCols: Seq[String],
      threshold: Double = 0.001, nTrees: Int = 20)
      : (DataFrame, Seq[String]) = {
    val prepped = PrepPipeline.matrix(
      PrepPipeline.fit(labeled, featureCols), labeled)
    val rf = Trainers.randomForest(nEstimators = nTrees).fit(prepped)
    val drop = dropList(rf, featureCols, threshold)
    (Preprocess.dropTolerant(labeled, drop),
      featureCols.filterNot(drop.contains))
  }
}
