package org.apache.spark.ml

import org.apache.spark.ml.classification.ClassificationModel
import org.apache.spark.ml.feature.{ImputerModel, StandardScalerModel}
import org.apache.spark.ml.linalg.Vector

/** Bridge to the row-level arithmetic behind spark.ml stage transforms,
  * which Spark keeps `private[ml]`, `private[spark]` or `protected`:
  * graft.ml.LocalScorer applies these functions on the driver, so a few
  * rows score with no Spark job and the very arithmetic `transform` runs.
  */
object GraftMlBridge {

  /** The surrogate `ImputerModel.transform` fills `inputCol` with. */
  def surrogate(m: ImputerModel, inputCol: String): Double =
    m.surrogates(m.columnNames.indexOf(inputCol))

  /** `StandardScalerModel.transform`'s per-vector function, over the
    * shift and scale that transform derives from the model. */
  def scale(m: StandardScalerModel): Vector => Vector = {
    val shift = if (m.getWithMean) m.mean.toArray else Array.emptyDoubleArray
    val scale =
      if (m.getWithStd) m.std.toArray.map(v => if (v == 0) 0.0 else 1.0 / v)
      else Array.emptyDoubleArray
    StandardScalerModel.getTransformFunc(shift, scale, m.getWithMean,
      m.getWithStd)
  }

  // `raw2prediction` is Scala-protected (public in bytecode), so it is
  // reached by reflection; dispatch stays virtual
  private val raw2prediction = classOf[ClassificationModel[_, _]]
    .getMethod("raw2prediction", classOf[Vector])

  /** A classifier's prediction for one feature vector along its
    * `transform`'s path when `rawPredictionCol` is set (the default):
    * `raw2prediction(predictRaw(features))`. Its `predict` is not that
    * path everywhere: binary logistic regression's `predict` thresholds
    * the sigmoid, `transform` the margin.
    */
  def predict(m: ClassificationModel[_, _], features: Vector): Double = {
    val raw = m.asInstanceOf[ClassificationModel[Vector, _]].predictRaw(features)
    raw2prediction.invoke(m, raw).asInstanceOf[Double]
  }
}
