package graft.ml

import org.apache.spark.ml.{GraftMlBridge, PipelineModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FrameCache
import graft.eval.Metrics

/** The reference's `MultiModel` + `Predictor` core re-expressed Spark-first
  * (/root/reference/src/train.py:25-218, predict.py:99-125):
  * prep-fit → SMOTE rebalance (train-only) → classifier fit → a single
  * inference PipelineModel (prep + classifier), persisted via MLWritable.
  * The first two steps are the fit input ([[fitInput]]), built once per
  * training split: [[train]] builds and releases one per call, and
  * [[TrainingCache]] holds one per input, feature set and rebalance
  * strategy for the trainer queries and `/train/`, which then pay only
  * for [[fit]].
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

  /** M1 — the reference's 70/30 seed-42 split (notebook cell 46) as a
    * narrow filter: a row trains when `pmod(xxhash64(<its columns>,
    * seed), 10⁶) < 700,000` and is held out otherwise. Its side depends on
    * the row and the seed alone, never on the partitioning, the core
    * count or AQE, as `randomSplit`'s per-partition sampler did, and it
    * needs no per-partition sort.
    */
  def split(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val draw = pmod(xxhash64(df.columns.map(c => df.col(s"`$c`")).toSeq
      :+ lit(seed): _*), lit(1000000L))
    (df.filter(draw < 700000L), df.filter(draw >= 700000L))
  }

  /** A training split's fit input: the fitted prep, its prepared matrix
    * (persisted, materialized by its first reader), what the classifier
    * fits on (the split rebalanced and materialized, or the matrix
    * itself), when one was given the held-out split's prepared matrix
    * (persisted, materialized by its first reader), and the split's row
    * count. The held-out row count is taken when it is first read.
    * [[release]] frees everything the build pinned.
    */
  private[graft] final case class FitInput(prep: PipelineModel,
      matrix: DataFrame, fitOn: DataFrame, heldOut: Option[DataFrame],
      rows: Long) {
    lazy val heldOutRows: Long = heldOut.fold(0L)(_.count())
    def release(): Unit =
      (Seq(matrix, fitOn) ++ heldOut).foreach(FrameCache.release)
  }

  /** Fit the prep on `train` and build its fit input, rebalanced by the
    * SMOTE `rebalance` strategy when one is given ("smote" interpolates
    * between each minority row and one of its `k` nearest minority
    * neighbors): the one fit-input build behind [[train]],
    * [[TrainingCache]] and q_m2_smote. One aggregate over `train` fits
    * the prep and counts its rows per class (for "oversample" per class
    * and content-hash bucket); the oversampled input is then one more
    * job, or two when it reads the bucket its cut falls in. A build that
    * fails releases what it pinned.
    */
  private[graft] def fitInput(train: DataFrame, featureCols: Seq[String],
      rebalance: Option[String], heldOut: Option[DataFrame] = None,
      k: Int = 5): FitInput = {
    val (prep, groups) = PrepPipeline.fitCounting(train, featureCols,
      Smote.keys(train, rebalance))
    // the prepped matrix feeds the training-accuracy scan and, in
    // TrainingCache, every trainer query: persist it once
    val matrix = PrepPipeline.matrix(prep, train).persist()
    val in = FitInput(prep, matrix, matrix,
      heldOut.map(PrepPipeline.matrix(prep, _).persist()),
      groups.map(_._2).sum)
    // the rebalanced fit input is materialized once: a classifier fit
    // reads its input in several jobs (split candidates, instances), each
    // re-running the rebalance's plan, and the label metadata spares it
    // the max(label) pass. localCheckpoint, not persist: it keeps the
    // plan's partition layout, which a tree's split sampling depends on
    try rebalance.fold(in) { s =>
      val rebalanced = s match {
        case "oversample" =>
          PrepPipeline.matrix(prep, Smote.oversample(train, groups))
        case "smote" => Smote.smote(matrix, Smote.classCounts(groups),
          featureCols.size, k)
        case other =>
          throw new IllegalArgumentException(s"unknown strategy: $other")
      }
      in.copy(fitOn = Smote.withNumClasses(rebalanced,
        Smote.classCounts(groups).map(_._1)).localCheckpoint())
    } catch { case e: Throwable => in.release(); throw e }
  }

  /** Fit prep + (optional SMOTE) + classifier; return an inference
    * pipeline that applies prep then the classifier (no SMOTE inside):
    * [[fitInput]], [[fit]], then the fit input's release.
    */
  def train(train: DataFrame, featureCols: Seq[String], modelType: String,
      params: Map[String, String] = Map.empty,
      useSmote: Boolean = true,
      smoteStrategy: String = "oversample"): Trained = {
    val in = fitInput(train, featureCols, Option.when(useSmote)(smoteStrategy))
    try fit(in, modelType, params) finally in.release()
  }

  /** Fit the classifier on `in`'s fit input and score its training
    * accuracy on the prepared matrix; the inference pipeline is `in`'s
    * prep then the classifier.
    */
  private[graft] def fit(in: FitInput, modelType: String,
      params: Map[String, String]): Trained = {
    val clf = Trainers.byName(modelType, params).fit(in.fitOn)
      .asInstanceOf[org.apache.spark.ml.Transformer]
    val acc = Metrics.accuracy(
      clf.transform(in.matrix).select(col("label"), col("prediction")))
      .head().getDouble(0)
    Trained(GraftMlBridge.pipelineModel(Array(in.prep, clf)), modelType,
      params, acc)
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
    * The pipeline's metadata and its stages are written side by side
    * (`GraftMlBridge.save`), in `PipelineModel.write`'s format.
    */
  def save(t: Trained, dir: String, registry: ModelRegistry,
      name: String, metrics: Map[String, Double] = Map.empty): String = {
    val createdAtMs = System.currentTimeMillis()
    val path = s"$dir/$name-v$createdAtMs"
    GraftMlBridge.save(t.pipeline, path)
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
