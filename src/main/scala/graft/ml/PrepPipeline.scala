package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{Imputer, StandardScaler, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** L1 — the reference's preprocessing pipeline re-expressed as spark.ml
  * stages: mean-impute → assemble → standardize
  * (reference /root/reference/src/train.py:61-66 `SimpleImputer(mean)` +
  * `StandardScaler` fit; persisted with the feature list at train.py:98).
  *
  * All three stages are single-pass fitted transforms; at scale the fit
  * costs two scans (impute means, scaler stats) and transform is a narrow
  * map — no shuffle.
  */
object PrepPipeline {

  val FeaturesCol = "features"

  /** Fit mean-impute → assemble → standardize (zero mean, unit variance,
    * sklearn's StandardScaler defaults) over the given numeric feature
    * columns of `df`.
    */
  def fit(df: DataFrame, featureCols: Seq[String]): PipelineModel = {
    val imputed = featureCols.map(c => s"imp_$c")
    val imputer = new Imputer()
      .setInputCols(featureCols.toArray)
      .setOutputCols(imputed.toArray)
    val assembler = new VectorAssembler()
      .setInputCols(imputed.toArray)
      .setOutputCol("assembled")
      .setHandleInvalid("keep")
    val scaler = new StandardScaler()
      .setInputCol("assembled")
      .setOutputCol(FeaturesCol)
      .setWithMean(true)
    new Pipeline().setStages(Array(imputer, assembler, scaler)).fit(df)
  }

  /** The prepared matrix `(label: double, features)` of `df` under a
    * fitted prep: what SMOTE, every classifier fit and every held-out
    * score read.
    */
  def matrix(prep: PipelineModel, df: DataFrame): DataFrame =
    prep.transform(df).select(col("label").cast("double").as("label"),
      col(FeaturesCol))
}
