package graft.ml

import scala.collection.mutable

import org.apache.spark.ml.{GraftMlBridge, PipelineModel, Transformer}
import org.apache.spark.ml.classification.ClassificationModel
import org.apache.spark.ml.feature.{ImputerModel, StandardScalerModel,
  VectorAssembler}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.Row

/** Scores a few rows on the driver over a fitted inference pipeline's own
  * stages, with no Spark job and no query planning: the serving path for
  * request-sized inputs (GraftServer's `upload`). Each stage applies the
  * row-level arithmetic its `transform` runs, so the predictions equal
  * [[MultiModel.score]]'s exactly (LocalScorerSpec):
  *   - Imputer: a null or missing value (NaN by default) becomes the
  *     column's surrogate;
  *   - VectorAssembler: concatenation of scalar columns, a null cell NaN
  *     under `handleInvalid = keep`;
  *   - StandardScaler: Spark's own per-vector transform function;
  *   - a classifier: `raw2prediction(predictRaw(features))`, the path its
  *     `transform` takes.
  * The stages [[PrepPipeline]] and [[Trainers]] fit are the supported set;
  * any other stage is an IllegalArgumentException.
  */
object LocalScorer {

  private type Cols = mutable.HashMap[String, Any]

  /** The prediction of `model` for each row of `inputCols` values (a
    * `java.lang.Double` or null), in row order. */
  def predict(model: PipelineModel, inputCols: Seq[String],
      rows: Seq[Row]): Seq[Double] = {
    val all = stages(model)
    val steps = all.map(step)
    val out = all.collect {
      case m: ClassificationModel[_, _] => m.getPredictionCol
    }.lastOption.getOrElse(throw new IllegalArgumentException(
      "the pipeline has no classifier stage"))
    rows.map { r =>
      val cols = new Cols()
      inputCols.indices.foreach(i => cols(inputCols(i)) = r.get(i))
      steps.foreach(_(cols))
      cols(out).asInstanceOf[Double]
    }
  }

  private def stages(t: Transformer): Seq[Transformer] = t match {
    case p: PipelineModel => p.stages.toSeq.flatMap(stages)
    case s => Seq(s)
  }

  private def step(t: Transformer): Cols => Unit = t match {
    case m: ImputerModel =>
      val (ins, outs) =
        if (m.isSet(m.inputCols)) (m.getInputCols, m.getOutputCols)
        else (Array(m.getInputCol), Array(m.getOutputCol))
      val fill = ins.map(GraftMlBridge.surrogate(m, _))
      val missing = m.getMissingValue
      // Spark SQL equality: NaN equals NaN
      def isMissing(v: Double) =
        v == missing || (v.isNaN && missing.isNaN)
      cols => ins.indices.foreach { i =>
        cols(outs(i)) = cols(ins(i)) match {
          case null => fill(i)
          case v: Double if isMissing(v) => fill(i)
          case v => v
        }
      }
    case m: VectorAssembler =>
      val keep = m.getHandleInvalid == "keep"
      val ins = m.getInputCols
      cols => {
        val values = ins.map { c =>
          cols(c) match {
            // the assembler stores only non-zero values: -0.0 reads +0.0
            case v: Double if v == 0.0 => 0.0
            case v: Double if keep || !v.isNaN => v
            case null if keep => Double.NaN
            case v => throw new IllegalArgumentException(
              s"VectorAssembler cannot assemble $c = $v under " +
                s"handleInvalid=${m.getHandleInvalid}")
          }
        }
        cols(m.getOutputCol) = Vectors.dense(values)
      }
    case m: StandardScalerModel =>
      val f = GraftMlBridge.scale(m)
      cols => cols(m.getOutputCol) = f(cols(m.getInputCol).asInstanceOf[Vector])
    case m: ClassificationModel[_, _] =>
      cols => cols(m.getPredictionCol) = GraftMlBridge.predict(m,
        cols(m.getFeaturesCol).asInstanceOf[Vector])
    case other => throw new IllegalArgumentException(
      s"no local scoring for stage ${other.getClass.getSimpleName}")
  }
}
