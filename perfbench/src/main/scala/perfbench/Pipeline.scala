package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._

import graft.cli.Jobs
import graft.io.Sinks
import graft.ml.{ModelRegistry, MultiModel}

/** `pipeline`: the reference system end to end. First its preprocess →
  * train → score chain, through the library calls PreprocessJob, TrainJob
  * and ScoreJob make with their defaults (D_TREE with SMOTE oversampling),
  * all writing under the run's temp dir; the split seed comes from the run
  * seed. Then the saved model is served over HTTP (see [[Serve]]).
  */
object Pipeline {

  def run(ctx: Harness.Ctx, report: Harness.Report,
      out: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    val seed = ctx.in.get("pipeline").get("split_seed").asLong
    val dir = s"${ctx.tmp}/pipeline"
    val modelDir = s"$dir/models"
    out("setup_end_ms") = System.currentTimeMillis()
    val trace = ctx.trace
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String, layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try trace.span(name, layer)(body)
      finally steps(name) = steps.getOrElse(name, 0.0) + Harness.seconds(t0)
    }
    report.attempted += 1
    val t0 = System.nanoTime()
    var smoke = Double.NaN
    var model: PipelineModel = null
    try {
      trace.span("pipeline", "pipeline") {
        val (tr, te) = step("etl.split", "etl") {
          MultiModel.split(Jobs.labeled(spark, ctx.dataDir), seed)
        }
        step("io.parquet_write", "io") {
          Sinks.parquet(tr, s"$dir/train.parquet")
          Sinks.parquet(te, s"$dir/test.parquet")
        }
        val order = Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax")
        step("io.csv_index_write", "io") {
          Sinks.csvWithIndex(tr.drop("label"), s"$dir/train_X.csv", order)
          Sinks.csvWithIndex(tr.select("label", order: _*),
            s"$dir/train_y.csv", order)
        }
        val trained = step("ml.train", "ml") {
          MultiModel.train(spark.read.parquet(s"$dir/train.parquet"),
            Jobs.FeatureCols, "D_TREE", Map.empty, useSmote = true,
            smoteStrategy = "oversample")
        }
        val registry = new ModelRegistry(s"$modelDir/registry.jsonl")
        step("ml.save", "ml") {
          MultiModel.save(trained, modelDir, registry, "d_tree")
        }
        model = step("ml.load", "ml") {
          MultiModel.load(registry.latest("d_tree").get.path)
        }
        val test = spark.read.parquet(s"$dir/test.parquet")
        smoke = step("eval.accuracy", "eval") { MultiModel.accuracy(model, test) }
        step("ml.score", "ml") {
          val preds = MultiModel.score(model, test)
          step("io.json_predictions", "io") {
            Sinks.jsonPredictions(preds, "prediction",
              s"$modelDir/d_tree-predictions.json")
          }
        }
      }
      out("pipeline_s") = Harness.seconds(t0)
      out("steps") = steps
      check(ctx, report, dir, modelDir, model, smoke, out)
      Serve.run(ctx, report, out, modelDir, "d_tree")
    } catch {
      case NonFatal(e) =>
        report.fail(s"pipeline threw: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** Outside the timed region: row conservation across the split, dense
    * CSV indices, one prediction per test row, and the smoke accuracy
    * against an independent count with the loaded model.
    */
  private def check(ctx: Harness.Ctx, report: Harness.Report, dir: String,
      modelDir: String, model: PipelineModel, smoke: Double,
      out: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    val labeled = Jobs.labeled(spark, ctx.dataDir).count()
    val train = spark.read.parquet(s"$dir/train.parquet").count()
    val test = spark.read.parquet(s"$dir/test.parquet")
    val nTest = test.count()
    out("labeled_rows") = labeled
    out("test_rows") = nTest
    if (train + nTest != labeled)
      report.fail(s"split lost rows: $train + $nTest != $labeled")
    Seq("train_X.csv", "train_y.csv").foreach { f =>
      val r = spark.read.option("header", "true").csv(s"$dir/$f")
        .select(col("idx").cast("long").as("idx"))
        .agg(min("idx"), max("idx"), countDistinct("idx"), count(lit(1)))
        .head()
      val dense = !r.isNullAt(0) && r.getLong(0) == 0L &&
        r.getLong(1) == train - 1 && r.getLong(2) == train && r.getLong(3) == train
      if (!dense) report.fail(s"$f idx not dense over $train rows: $r")
    }
    val preds = spark.read.json(s"$modelDir/d_tree-predictions.json")
      .select(explode(col("predictions")).as("p"))
      .agg(count(lit(1)), sum(col("p").cast("long"))).head()
    val scored = MultiModel.score(model, test).agg(
      count(lit(1)),
      sum(when(col("prediction") === col("label").cast("double"), 1L)
        .otherwise(0L)),
      sum(col("prediction").cast("long"))).head()
    if (preds.getLong(0) != nTest)
      report.fail(s"${preds.getLong(0)} predictions for $nTest test rows")
    if (preds.getLong(1) != scored.getLong(2))
      report.fail(s"predictions file has ${preds.getLong(1)} positives, " +
        s"rescoring gives ${scored.getLong(2)}")
    val recount = scored.getLong(1).toDouble / scored.getLong(0)
    if (smoke != recount)
      report.fail(s"smoke accuracy $smoke != recounted $recount")
    out("accuracy") = smoke
  }
}
