package graft.ml

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A10 — feature-importance ranking (reference notebook cells 26-29:
  * train RF → rank `feature_importances_`), read by q_a10_importance.
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
}
