package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}
import graft.eval.Metrics
import graft.io.{Experiment, ExperimentManifest, RedisSink, Sinks}
import graft.ml.{ModelRegistry, MultiModel}

/** CLI batch entry points mirroring the reference's DVC/CLI surface
  * (SURVEY §3.3: `python src/preprocess.py`, `python src/train.py`,
  * `python src/predict.py -m MODEL -t smoke|db`): spark-submit-able mains
  * over the same library core the HTTP layer uses.
  */
object Jobs {

  /** The session of the long-lived mains (the CLI jobs and ServeMain):
    * `SPARK_MASTER`, else `local[SPARK_GRAFT_CPUS]`, under
    * [[GraftSession.configure]] (one shuffle partition per core), as the
    * measurement mains run.
    */
  private[graft] def session(app: String): SparkSession =
    GraftSession.configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${GraftSession.cpus}]"))
      .appName(app))
      .getOrCreate()

  /** The modeling view over the synthetic corpus (stands in for the
    * reference's preprocessed CICIDS matrix). Public: the serving entry
    * point (ServeMain), the CLI jobs and the ML gate queries must train
    * on the SAME frame.
    */
  def labeled(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem").select(
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"))

  val FeatureCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
}

/** `PreprocessJob <sfDir> <outDir>` — DataMaker parity: build the labeled
  * modeling frame, 70/30 split (seed 42), persist train/test parquet plus
  * the reference's indexed X/y CSV artifacts (preprocess.py:106-119).
  */
object PreprocessJob {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Jobs.session("graft-preprocess")
    val df = Jobs.labeled(spark, sfDir)
    val (tr, te) = MultiModel.split(df)
    // the writes count their own rows: no extra pass over the split
    val trainRows = Sinks.parquetCounted(tr, s"$outDir/train.parquet")
    val testRows = Sinks.parquetCounted(te, s"$outDir/test.parquet")
    // split-file parity: X and y separately, rejoinable on idx (S2)
    val order = Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax")
    Sinks.csvWithIndex(tr.drop("label"), s"$outDir/train_X.csv", order)
    Sinks.csvWithIndex(tr.select("label", order: _*), s"$outDir/train_y.csv",
      order)
    println(s"""{"preprocessed": true, "train": $trainRows, "test": $testRows}""")

  }
}

/** `TrainJob <dataDir> <modelDir> [modelType] [k=v ...]` — MultiModel
  * parity: read preprocessed train data, fit (SMOTE + classifier), persist
  * model + registry entry + experiment manifest, print accuracy.
  */
object TrainJob {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0); val modelDir = args(1)
    val modelType = if (args.length > 2) args(2) else "D_TREE"
    val params = args.drop(3).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val spark = Jobs.session("graft-train")
    val tr = spark.read.parquet(s"$dataDir/train.parquet")
    val t = MultiModel.train(tr, Jobs.FeatureCols, modelType, params,
      useSmote = params.getOrElse("use_smote", "true").toBoolean,
      smoteStrategy = params.getOrElse("smote_strategy", "oversample"))
    val registry = new ModelRegistry(s"$modelDir/registry.jsonl")
    val name = params.getOrElse("name", modelType.toLowerCase)
    val path = MultiModel.save(t, modelDir, registry, name)
    ExperimentManifest.write(Experiment(name, path, modelType, params,
      Map("train_accuracy" -> t.trainAccuracy),
      Seq(ExperimentManifest.pin(dataDir)),
      System.currentTimeMillis()), s"$modelDir/$name-exp")
    println(s"""{"model_trained": true, "model_type": "$modelType", "train_accuracy": ${t.trainAccuracy}}""")

  }
}

/** `ScoreJob <dataDir> <modelDir> <name> [mode]` — Predictor parity:
  * smoke = accuracy bound on the test split; db = push predictions to
  * Redis (GRAFT_REDIS_HOST, GRAFT_REDIS_PORT default 6379) with JSON
  * fallback; json = write the predictions document (predict.py:118-260).
  */
object ScoreJob {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0); val modelDir = args(1); val name = args(2)
    val mode = if (args.length > 3) args(3) else "smoke"
    val spark = Jobs.session("graft-score")
    val registry = new ModelRegistry(s"$modelDir/registry.jsonl")
    val entry = registry.latest(name).getOrElse(
      sys.error(s"model $name not in registry"))
    val model = MultiModel.load(entry.path)
    val te = spark.read.parquet(s"$dataDir/test.parquet")
    mode match {
      case "smoke" =>
        val acc = MultiModel.accuracy(model, te)
        require(acc >= 0.0 && acc <= 1.0)
        println(s"""{"mode": "smoke", "test_score": $acc}""")
      case "db" =>
        val preds = MultiModel.score(model, te)
        val pushed = RedisSink.endpointFromEnv match {
          case Some((h, p)) =>
            RedisSink.writeList(preds, "prediction", h, p)
            true
          case None =>
            Sinks.jsonPredictions(preds, "prediction",
              s"$modelDir/$name-predictions.json")
            false
        }
        println(s"""{"mode": "db", "redis": $pushed, "n": ${preds.count()}}""")
      case "json" =>
        val preds = MultiModel.score(model, te)
        Sinks.jsonPredictions(preds, "prediction",
          s"$modelDir/$name-predictions.json")
        println(s"""{"mode": "json", "n": ${preds.count()}}""")
      case other => sys.error(s"unknown mode $other")
    }

  }
}
