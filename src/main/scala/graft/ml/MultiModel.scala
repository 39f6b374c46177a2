package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FrameCache
import graft.eval.Metrics

/** The reference's `MultiModel` + `Predictor` core re-expressed Spark-first
  * (/root/reference/src/train.py:25-218, predict.py:99-125):
  * prep-fit → SMOTE rebalance (train-only) → classifier fit → a single
  * inference PipelineModel (prep + classifier), persisted via MLWritable.
  *
  * SMOTE is deliberately NOT a stage of the persisted pipeline: it must run
  * at fit time only, never at scoring time (the reference gets this via
  * imblearn's fit_resample semantics).
  */
object MultiModel {

  final case class Trained(
      pipeline: PipelineModel,
      modelType: String,
      params: Map[String, String],
      trainAccuracy: Double)

  /** M1 — the reference's 70/30 seed-42 split (notebook cell 46). */
  def split(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val Array(tr, te) = df.randomSplit(Array(0.7, 0.3), seed)
    (tr, te)
  }

  /** A training split's fit input: the fitted prep, its prepared matrix
    * (persisted), what the classifier fits on (the matrix rebalanced and
    * materialized, or the matrix itself) and, when one was given, the
    * held-out split's prepared matrix (persisted, materialized by its
    * first reader). [[release]] frees everything the build pinned.
    */
  private[ml] final case class FitInput(prep: PipelineModel,
      matrix: DataFrame, fitOn: DataFrame, heldOut: Option[DataFrame]) {
    def release(): Unit =
      (Seq(matrix, fitOn) ++ heldOut).foreach(FrameCache.release)
  }

  /** Fit the prep on `train` and build its fit input, rebalanced by the
    * SMOTE `rebalance` strategy when one is given: the one sequence behind
    * [[train]] and [[TrainingCache]]. A build that fails releases what it
    * pinned.
    */
  private[ml] def fitInput(train: DataFrame, featureCols: Seq[String],
      rebalance: Option[String], heldOut: Option[DataFrame] = None)
      : FitInput = {
    val prep = PrepPipeline.fit(train, featureCols)
    // the prepped matrix feeds SMOTE's class histogram + neighborhood
    // pass, the classifier fit and the training-accuracy scan — persist
    // once instead of re-running impute/assemble/scale per consumer
    val matrix = PrepPipeline.matrix(prep, train).persist()
    val in = FitInput(prep, matrix, matrix,
      heldOut.map(PrepPipeline.matrix(prep, _).persist()))
    // the rebalanced fit input is materialized once: a classifier fit
    // reads its input in several jobs (partition count, instances), each
    // re-running SMOTE's plan, and SMOTE's label metadata spares it the
    // max(label) pass. localCheckpoint, not persist: it keeps the plan's
    // partition layout, which a tree's split sampling depends on
    try rebalance.fold(in)(s =>
      in.copy(fitOn = Smote.rebalance(matrix, s).localCheckpoint()))
    catch { case e: Throwable => in.release(); throw e }
  }

  /** Fit prep + (optional SMOTE) + classifier; return an inference
    * pipeline that applies prep then the classifier (no SMOTE inside).
    */
  def train(train: DataFrame, featureCols: Seq[String], modelType: String,
      params: Map[String, String] = Map.empty,
      useSmote: Boolean = true,
      smoteStrategy: String = "oversample"): Trained = {
    val in = fitInput(train, featureCols, Option.when(useSmote)(smoteStrategy))
    try {
      val clf = Trainers.byName(modelType, params).fit(in.fitOn)
        .asInstanceOf[org.apache.spark.ml.Transformer]
      // wrap the already-fitted stages: Pipeline.fit passes Transformers
      // through untouched, so nothing is re-fit here
      val inference = new Pipeline()
        .setStages(Array(in.prep, clf)).fit(train.limit(1))
      val acc = Metrics.accuracy(
        clf.transform(in.matrix).select(col("label"), col("prediction")))
        .head().getDouble(0)
      Trained(inference, modelType, params, acc)
    } finally in.release()
  }

  /** L6 — score a frame: adds `prediction` (and probability columns where
    * the classifier provides them).
    */
  def score(model: PipelineModel, df: DataFrame): DataFrame =
    model.transform(df)

  def accuracy(model: PipelineModel, df: DataFrame): Double =
    Metrics.accuracy(
      score(model, df).select(col("label").cast("double").as("label"),
        col("prediction")))
      .head().getDouble(0)

  /** S7 — persist + register (replaces config.ini mutation,
    * train.py:163-188). Each save writes a fresh directory,
    * `$dir/$name-v<createdAtMs>`, and registers it only once the write
    * has completed, so a reader of the registry never sees a partial
    * model and a retrain under the same name never overwrites the model
    * being served. A path that already exists fails the save, so a path
    * names one model for good: the fitted pipeline is handed to
    * [[ModelCache]] under it, and [[load]] serves it with no disk read.
    */
  def save(t: Trained, dir: String, registry: ModelRegistry,
      name: String, metrics: Map[String, Double] = Map.empty): String = {
    val createdAtMs = System.currentTimeMillis()
    val path = s"$dir/$name-v$createdAtMs"
    t.pipeline.write.save(path)
    ModelCache.saved(SparkSession.active, path)(t.pipeline)
    registry.append(ModelEntry(name, path, t.modelType, t.params,
      metrics ++ Map("train_accuracy" -> t.trainAccuracy), createdAtMs))
    path
  }

  /** The pipeline saved at `path`, read once per session through
    * [[ModelCache]] (the fitted model itself when this session saved it).
    */
  def load(path: String): PipelineModel =
    ModelCache.saved(SparkSession.active, path)(PipelineModel.load(path))
}
