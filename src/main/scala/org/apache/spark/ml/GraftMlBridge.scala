package org.apache.spark.ml

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.fs.Path
import org.json4s.{JArray, JObject, JString}

import org.apache.spark.ml.classification.ClassificationModel
import org.apache.spark.ml.feature.{ImputerModel, StandardScalerModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.util.{DefaultParamsWriter, FileSystemOverwrite,
  Identifiable, MLWritable}
import org.apache.spark.sql.SparkSession

/** Bridge to the spark.ml internals graft.ml builds on, which Spark keeps
  * `private[ml]`, `private[spark]` or `protected`:
  *   - the row-level arithmetic behind stage transforms, which
  *     graft.ml.LocalScorer applies on the driver, so a few rows score
  *     with no Spark job and the very arithmetic `transform` runs;
  *   - the fitted-model constructors, so graft.ml.PrepPipeline builds the
  *     models `Imputer` and `StandardScaler` would fit from its own
  *     aggregate;
  *   - the pipeline writer's parts, so [[save]] writes a model's stages
  *     side by side.
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

  /** The model `Imputer.fit` returns for mean imputation of `inputCols`
    * with these surrogates, before its columns are set. */
  def imputerModel(inputCols: Seq[String], surrogates: Seq[Double])
      : ImputerModel =
    new ImputerModel(Identifiable.randomUID("imputer"), inputCols.toArray,
      surrogates.toArray)

  /** The model `StandardScaler.fit` with `withMean` set returns for these
    * column means and standard deviations, before its columns are set. */
  def standardScalerModel(mean: Seq[Double], std: Seq[Double])
      : StandardScalerModel = {
    val m = new StandardScalerModel(Identifiable.randomUID("stdScal"),
      Vectors.dense(std.toArray).compressed,
      Vectors.dense(mean.toArray).compressed)
    m.set(m.withMean, true)
  }

  /** The model `Pipeline.fit` returns for stages that are all fitted. */
  def pipelineModel(stages: Array[Transformer]): PipelineModel =
    new PipelineModel(Identifiable.randomUID("pipeline"), stages)

  /** `model.write.save(path)` with its writes side by side: the pipeline
    * metadata and each stage's own writer run concurrently, nested
    * pipelines' metadata and stages included. It writes the same files
    * through the same writers, so the same Spark jobs, and fails on an
    * existing `path` as that save does; it returns once every write has
    * finished, and rethrows the first write that failed.
    */
  def save(model: PipelineModel, path: String): Unit = {
    val spark = SparkSession.active
    val writes = pipelineWrites(model, path, spark)
    new FileSystemOverwrite().handleOverwrite(path, false, spark)
    val pool = Executors.newFixedThreadPool(writes.size)
    try {
      val pending = writes.map(w => pool.submit(new Callable[Unit] {
        override def call(): Unit = w()
      }))
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }

  /** The writes `PipelineModel.write.save(path)` makes, in the layout of
    * `Pipeline.SharedReadWrite.saveImpl`: the metadata with the stage
    * uids, then each stage under its `getStagePath`. */
  private def pipelineWrites(model: PipelineModel, path: String,
      spark: SparkSession): Seq[() => Unit] = {
    val stages = model.stages.map(s => s: PipelineStage)
    Pipeline.SharedReadWrite.validateStages(stages)
    val uids = JObject("stageUids" -> JArray(stages.map(s => JString(s.uid))
      .toList))
    val stagesDir = new Path(path, "stages").toString
    (() => DefaultParamsWriter.saveMetadata(model, path, spark, None,
      Some(uids))) +: stages.toSeq.zipWithIndex.flatMap { case (stage, i) =>
      val stagePath = Pipeline.SharedReadWrite.getStagePath(stage.uid, i,
        stages.length, stagesDir)
      stage match {
        case nested: PipelineModel => pipelineWrites(nested, stagePath, spark)
        case w: MLWritable =>
          Seq(() => w.write.session(spark).save(stagePath))
      }
    }
  }
}
