package graft.ml

import org.apache.spark.SparkException
import org.apache.spark.ml.{GraftMlBridge, PipelineModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** L1 — the reference's preprocessing pipeline re-expressed as spark.ml
  * stages: mean-impute → assemble → standardize
  * (reference /root/reference/src/train.py:61-66 `SimpleImputer(mean)` +
  * `StandardScaler` fit; persisted with the feature list at train.py:98).
  *
  * The fit costs one scan: a single aggregate yields each feature's
  * non-missing count, mean and second moment, merged on the driver into
  * the imputer's surrogates and the scaler's means and stds, and the
  * stages are Spark's own `ImputerModel` and `StandardScalerModel` built
  * from them (`GraftMlBridge`). Mean imputation fills a column with its
  * own mean, which adds nothing to its second moment, so one pass serves
  * both stages. Transform is a narrow map — no shuffle.
  */
object PrepPipeline {

  val FeaturesCol = "features"

  /** The count, mean and sum of squared deviations of a set of values;
    * `merge` is the pairwise update of Chan, Golub and LeVeque, sound
    * where Σx² − n·μ² cancels. */
  private final case class Moments(n: Long, mean: Double, m2: Double) {
    def merge(o: Moments): Moments =
      if (o.n == 0) this
      else if (n == 0) o
      else {
        val total = n + o.n
        val d = o.mean - mean
        Moments(total, mean + d * o.n / total,
          m2 + o.m2 + d * d * n / total * o.n)
      }
  }

  /** Fit mean-impute → assemble → standardize (zero mean, unit variance,
    * sklearn's StandardScaler defaults) over the given numeric feature
    * columns of `df`: the models `Imputer` and `StandardScaler` fit, from
    * one aggregate.
    */
  def fit(df: DataFrame, featureCols: Seq[String]): PipelineModel =
    fitCounting(df, featureCols, Nil)._1

  /** [[fit]], with the aggregate grouped by `keys`: the fitted prep, and
    * each group's key values with its row count.
    */
  private[ml] def fitCounting(df: DataFrame, featureCols: Seq[String],
      keys: Seq[Column]): (PipelineModel, Seq[(Row, Long)]) = {
    // Imputer's missing cells: null, and NaN (its default missingValue)
    val moments = featureCols.flatMap { c =>
      val v = col(c).cast(DoubleType)
      val present = when(!isnan(v), v)
      Seq(count(present), avg(present), var_pop(present))
    }
    val k = keys.size
    val rows = df.groupBy(keys: _*)
      .agg(count(lit(1)), moments: _*).collect().toSeq
    val n = rows.map(_.getLong(k)).sum
    val observed = featureCols.indices.map { i =>
      val at = k + 1 + 3 * i
      rows.map { r =>
        val m = r.getLong(at)
        if (m == 0) Moments(0, 0.0, 0.0)
        else Moments(m, r.getDouble(at + 1), r.getDouble(at + 2) * m)
      }.foldLeft(Moments(0, 0.0, 0.0))(_ merge _)
    }
    val empty = featureCols.zip(observed).collect { case (c, m) if m.n == 0 => c }
    if (empty.nonEmpty)
      throw new SparkException("surrogate cannot be computed. All the " +
        s"values in ${empty.mkString(",")} are Null, Nan or missingValue(NaN)")
    // the scaler sees every row: the observed values, then each missing
    // cell as the imputer writes it, the surrogate cast to the column's
    // type — a block with no spread of its own
    val filled = featureCols.zip(observed).map { case (c, m) =>
      val surrogate = Cast(Cast(Literal(m.mean), df.schema(c).dataType),
        DoubleType).eval().asInstanceOf[Double]
      m.merge(Moments(n - m.n, surrogate, 0.0))
    }
    val imputed = featureCols.map(c => s"imp_$c")
    val imputer = GraftMlBridge.imputerModel(featureCols, observed.map(_.mean))
      .setInputCols(featureCols.toArray)
      .setOutputCols(imputed.toArray)
    val assembler = new VectorAssembler()
      .setInputCols(imputed.toArray)
      .setOutputCol("assembled")
      .setHandleInvalid("keep")
    // StandardScaler's std is the sample std, 0 below two rows
    val scaler = GraftMlBridge.standardScalerModel(filled.map(_.mean),
      filled.map(m => if (m.n > 1) math.sqrt(m.m2 / (m.n - 1)) else 0.0))
      .setInputCol("assembled")
      .setOutputCol(FeaturesCol)
    (GraftMlBridge.pipelineModel(Array(imputer, assembler, scaler)),
      rows.map(r => Row.fromSeq(r.toSeq.take(k)) -> r.getLong(k)))
  }

  /** The prepared matrix `(label: double, features)` of `df` under a
    * fitted prep: what SMOTE, every classifier fit and every held-out
    * score read.
    */
  def matrix(prep: PipelineModel, df: DataFrame): DataFrame =
    prep.transform(df).select(col("label").cast("double").as("label"),
      col(FeaturesCol))
}
