package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.cli.Jobs
import graft.core.Tables
import graft.eval.Metrics

/** L1-L6 + M1/M2 on sf0.001: every reference model type trains, scores in
  * [0,1], persists and reloads; SMOTE balances exactly and is
  * deterministic under its seed.
  */
class MlPipelineSpec extends SparkSpec {

  private val featureCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private lazy val labeled = Tables.load(spark, sf0001, "lineitem").select(
    when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
    col("l_quantity"), col("l_extendedprice"), col("l_discount"),
    col("l_tax")).cache()

  test("M1 randomSplit(seed 42) is deterministic and ~70/30") {
    val (tr1, te1) = MultiModel.split(labeled)
    val (tr2, _) = MultiModel.split(labeled)
    assert(tr1.count() === tr2.count())
    val frac = tr1.count().toDouble / labeled.count()
    assert(frac > 0.6 && frac < 0.8)
    assert(tr1.count() + te1.count() === labeled.count())
  }

  for (mt <- Trainers.ModelTypes)
    test(s"L2-L5 $mt trains and scores within [0,1]") {
      val (tr, te) = MultiModel.split(labeled)
      val t = MultiModel.train(tr, featureCols, mt,
        Map("max_iter" -> "10", "n_estimators" -> "5"),
        useSmote = true, smoteStrategy = "oversample")
      val acc = MultiModel.accuracy(t.pipeline, te)
      assert(acc >= 0.0 && acc <= 1.0)
      assert(t.trainAccuracy >= 0.0 && t.trainAccuracy <= 1.0)
    }

  test("L2/L5 model fingerprints are deterministic under seed") {
    // two independent end-to-end fits must produce bit-identical models:
    // LR coefficients and the DT structure serve as the model
    // fingerprint (the gate queries assert oracle-expressible invariants;
    // this pins the stronger full-determinism property)
    val (tr, _) = MultiModel.split(labeled)
    def lrFp(): Seq[Double] = {
      val t = MultiModel.train(tr, featureCols, "LOG_REG",
        Map("max_iter" -> "10"), useSmote = true,
        smoteStrategy = "oversample")
      val lr = t.pipeline.stages.last
        .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
      lr.coefficients.toArray.toSeq :+ lr.intercept
    }
    def dtFp(): String = {
      val t = MultiModel.train(tr, featureCols, "D_TREE",
        Map("max_depth" -> "5"), useSmote = false)
      t.pipeline.stages.last
        .asInstanceOf[org.apache.spark.ml.classification.DecisionTreeClassificationModel]
        // the debug string's header carries the per-fit random uid —
        // normalize it so the fingerprint compares tree structure only
        .toDebugString.replaceAll("uid=dtc_[0-9a-f]+", "uid=<norm>")
    }
    assert(lrFp() === lrFp())
    assert(dtFp() === dtFp())
  }

  test("ModelCache: same tag hits cache; distinct tags fit fresh") {
    import graft.ml.ModelCache
    ModelCache.clear()
    var fits = 0
    val (tr, _) = MultiModel.split(labeled)
    val prepped = PrepPipeline.matrix(PrepPipeline.fit(tr, featureCols), tr)
    def fitDt(): org.apache.spark.ml.Transformer = {
      fits += 1
      Trainers.decisionTree(maxDepth = 3).fit(prepped)
        .asInstanceOf[org.apache.spark.ml.Transformer]
    }
    val a = ModelCache.fitted(spark, "k", "dt:3")(fitDt())
    val b = ModelCache.fitted(spark, "k", "dt:3")(fitDt())
    val c = ModelCache.fitted(spark, "k", "dt:3b")(fitDt())
    assert(a eq b)           // cache hit returns the same fitted model
    assert(!(a eq c))        // a different tag never false-shares
    assert(fits === 2)
    ModelCache.clear()
  }

  test("a late reader of a path a retrain evicted leaves neither its " +
      "model nor its confusion held") {
    val dir = Files.createTempDirectory("graft-evicted").toString
    val (tr, _) = MultiModel.split(labeled)
    val path = MultiModel.save(MultiModel.train(tr, featureCols, "D_TREE",
      Map("max_depth" -> "2"), useSmote = false), dir,
      new ModelRegistry(s"$dir/registry.jsonl"), "late_reader")
    ModelCache.evict(spark, path, "held_out")
    // a request that resolved `path` before the retrain reads it now
    var counts = 0
    def confusion() = ModelCache.confusion(spark, path, "held_out") {
      counts += 1; Seq((0.0, 0.0, 1L))
    }
    assert(MultiModel.load(path).stages.length === 2)
    confusion()
    assert(!ModelCache.holds(spark, path), "the evicted model stayed held")
    confusion()
    assert(counts === 2, "the evicted confusion stayed held")
  }

  test("S7 save/load round-trip preserves predictions; registry records") {
    val dir = Files.createTempDirectory("graft-models").toString
    val reg = new ModelRegistry(s"$dir/registry.jsonl")
    val (tr, te) = MultiModel.split(labeled)
    val t = MultiModel.train(tr, featureCols, "D_TREE",
      Map("max_depth" -> "4"), useSmote = false)
    val path = MultiModel.save(t, dir, reg, "dtree_test")
    // the save handed the fitted pipeline to ModelCache, which
    // MultiModel.load reads through; the round-trip reads the disk
    assert(MultiModel.load(path) eq t.pipeline)
    val reloaded = PipelineModel.load(path)
    assert(!(reloaded eq t.pipeline))
    val a = MultiModel.score(t.pipeline, te).select("prediction")
      .collect().map(_.getDouble(0)).toSeq
    val b = MultiModel.score(reloaded, te).select("prediction")
      .collect().map(_.getDouble(0)).toSeq
    assert(a === b)
    val entry = reg.latest("dtree_test")
    assert(entry.exists(_.modelType === "D_TREE"))
    assert(entry.exists(_.params === Map("max_depth" -> "4")))
  }

  test("the D_TREE MultiModel.train fits on its materialized SMOTE " +
      "input equals a fit on the unmaterialized SMOTE frame") {
    type Dt = org.apache.spark.ml.classification.DecisionTreeClassificationModel
    def shape(m: Dt) =
      m.toDebugString.replaceAll("uid=dtc_[0-9a-f]+", "uid=<norm>")
    for (seed <- Seq(42L, 7L)) {
      val (tr, _) = MultiModel.split(labeled, seed)
      val viaTrain = MultiModel.train(tr, featureCols, "D_TREE")
        .pipeline.stages.last.asInstanceOf[Dt]
      // the fit on the lazy oversample plan, no label metadata
      val (prep, groups) = PrepPipeline.fitCounting(tr, featureCols,
        Smote.keys(tr, Some("oversample")))
      val smoted = PrepPipeline.matrix(prep, Smote.oversample(tr, groups))
        .withMetadata("label", Metadata.empty)
      val direct = Trainers.byName("D_TREE").fit(smoted).asInstanceOf[Dt]
      assert(shape(viaTrain) === shape(direct), s"split seed $seed")
    }
  }

  /** `f` of the fit input [[MultiModel.fitInput]] builds on `labeled`
    * under `strategy`, released afterwards. */
  private def withFitInput[T](strategy: String, k: Int = 5)
      (f: MultiModel.FitInput => T): T = {
    val in = MultiModel.fitInput(labeled, featureCols, Some(strategy), k = k)
    try f(in) finally in.release()
  }

  private def classCounts(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap

  test("M2 SMOTE balances classes exactly") {
    val counts = withFitInput("smote", k = 3)(in => classCounts(in.fitOn))
    assert(counts(0.0) === counts(1.0))
  }

  test("M2 SMOTE is deterministic under fixed seed") {
    def runSum() = withFitInput("smote", k = 3)(_.fitOn
      .select(explode(
        org.apache.spark.ml.functions.vector_to_array(col("features")))
        .as("v"))
      .agg(sum(floor(col("v") * 1000)).as("s")).head().getLong(0))
    assert(runSum() === runSum())
  }

  test("M2 oversample strategy duplicates real minority rows only") {
    withFitInput("oversample") { in =>
      val counts = classCounts(in.fitOn)
      assert(counts(0.0) === counts(1.0))
      // every added row is a copy of an existing minority vector
      val minority = in.matrix.filter(col("label") === 1.0)
        .select(PrepPipeline.FeaturesCol).distinct()
      val outDistinct = in.fitOn.filter(col("label") === 1.0)
        .select(PrepPipeline.FeaturesCol).distinct()
      assert(outDistinct.exceptAll(minority).count() === 0)
    }
  }

  test("A10 importances cover all features and sum to ~1") {
    val prepped = PrepPipeline.matrix(
      PrepPipeline.fit(labeled, featureCols), labeled)
    val rf = Trainers.randomForest(nEstimators = 5).fit(prepped)
    val ranked = Importance.ranked(spark, rf, featureCols).collect()
    assert(ranked.map(_.getString(0)).sorted === featureCols.sorted.toArray)
    val total = ranked.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-6)
  }

  test("A7-A9 metrics agree on a hand-built frame") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (0.0, 0.0))
      .toDF("label", "prediction")
    assert(Metrics.accuracy(df).head().getDouble(0) === 0.75)
    val cm = Metrics.confusion(df).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(cm === Seq((0.0, 0.0, 2L), (1.0, 0.0, 1L), (1.0, 1.0, 1L)))
    val rep = Metrics.classificationReport(df).collect()
      .map(r => r.getDouble(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // class 1: precision 1/1=1, recall 1/2=0.5, f1 = 2/3
    assert(rep(1.0)._2 === 1.0)
    assert(rep(1.0)._3 === 0.5)
    assert(math.abs(rep(1.0)._4 - 2.0 / 3.0) < 1e-12)
  }

  test("a D_TREE fit on TrainingCache's fitOn is the classifier " +
      "MultiModel.train fits with useSmote and oversample") {
    TrainingCache.clear()
    val e = TrainingCache.entry(spark, sf0001, Jobs.FeatureCols,
      Some("oversample"))(Jobs.labeled(spark, sf0001))
    val (tr, te) = MultiModel.split(Jobs.labeled(spark, sf0001))
    val trained = MultiModel.train(tr, Jobs.FeatureCols, "D_TREE",
      useSmote = true, smoteStrategy = "oversample")
    type Dt = org.apache.spark.ml.classification.DecisionTreeClassificationModel
    val viaTrain = trained.pipeline.stages.last.asInstanceOf[Dt]
    val viaCache = Trainers.byName("D_TREE").fit(e.fitOn)
      .asInstanceOf[Dt]
    def shape(m: Dt) =
      m.toDebugString.replaceAll("uid=dtc_[0-9a-f]+", "uid=<norm>")
    assert(shape(viaCache) === shape(viaTrain))
    // the same predictions on the held-out split, row for row
    val predicted = MultiModel.score(trained.pipeline, te)
      .select("prediction").collect().map(_.getDouble(0)).toSeq
    val cached = viaCache.transform(e.heldOut.get)
      .select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(predicted.size === e.heldOutRows)
    assert(e.rows === tr.count())
    assert(cached === predicted)
    TrainingCache.clear()
  }

  test("a TrainingCache build keeps its caller's cache of the frame it " +
      "splits") {
    TrainingCache.clear()
    val mine = Jobs.labeled(spark, sf0001).cache()
    mine.count()
    TrainingCache.entry(spark, "caller-cache", Jobs.FeatureCols,
      Some("oversample"))(Jobs.labeled(spark, sf0001))
    assert(mine.storageLevel !== StorageLevel.NONE)
    TrainingCache.clear()
    mine.unpersist()
  }
}
