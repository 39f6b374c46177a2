package graft.ml

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.ml.{GraftMlBridge, Pipeline, PipelineModel,
  Transformer}
import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.ml.feature.{Imputer, ImputerModel, StandardScaler,
  StandardScalerModel, VectorAssembler}
import org.apache.spark.ml.util.MLWriter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkSpec}
import graft.cli.Jobs

/** The fit path behind `/train/`, `TrainJob` and `TrainingCache`: the
  * one-aggregate prep against Spark's own `Imputer` + `StandardScaler`
  * fit, the oversample's balance and layout independence, the fit
  * input's job count, and the side-by-side save against
  * `PipelineModel.write`.
  */
class FitInputSpec extends SparkSpec {

  private def labeled: DataFrame = Jobs.labeled(spark, sf0001)

  private def sparkPrep(df: DataFrame, cols: Seq[String]): PipelineModel = {
    val imputed = cols.map(c => s"imp_$c")
    new Pipeline().setStages(Array(
      new Imputer().setInputCols(cols.toArray).setOutputCols(imputed.toArray),
      new VectorAssembler().setInputCols(imputed.toArray)
        .setOutputCol("assembled").setHandleInvalid("keep"),
      new StandardScaler().setInputCol("assembled")
        .setOutputCol(PrepPipeline.FeaturesCol).setWithMean(true)))
      .fit(df)
  }

  private def close(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x == y || math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    }

  private def stats(prep: PipelineModel) = {
    val imp = prep.stages(0).asInstanceOf[ImputerModel]
    val sc = prep.stages(2).asInstanceOf[StandardScalerModel]
    (imp.getInputCols.toSeq.map(GraftMlBridge.surrogate(imp, _)),
      sc.mean.toArray.toSeq, sc.std.toArray.toSeq)
  }

  /** The sample std of `c`, in exact decimal arithmetic. */
  private def exactStd(df: DataFrame, c: String): Double = {
    val mc = new java.math.MathContext(60)
    val xs = df.select(col(c).cast(DoubleType)).collect().toSeq
      .map(r => BigDecimal(r.getDouble(0), mc))
    val mean = xs.sum / xs.size
    val m2 = xs.map(x => (x - mean) * (x - mean)).sum
    math.sqrt((m2 / (xs.size - 1)).toDouble)
  }

  type Dt = DecisionTreeClassificationModel
  private def shape(m: Dt) =
    m.toDebugString.replaceAll("uid=dtc_[0-9a-f]+", "uid=<norm>")

  test("the one-pass prep matches Imputer + StandardScaler on null and " +
      "NaN cells, and an all-missing column fails as Imputer does") {
    val schema = StructType(Seq(StructField("label", DoubleType),
      StructField("a", DoubleType), StructField("b", DoubleType),
      StructField("n", IntegerType)))
    val rows = (0 until 200).map { i =>
      Row(if (i % 3 == 0) 1.0 else 0.0,
        if (i % 7 == 0) null else if (i % 11 == 0) Double.NaN
        else 1e6 + i * 0.37,
        if (i % 5 == 0) Double.NaN else math.sin(i.toDouble) * 1e-3,
        if (i % 4 == 0) null else Integer.valueOf(i % 17))
    }
    val df = spark.createDataFrame(rows.asJava, schema).repartition(3)
    val cols = Seq("a", "b", "n")
    val (s1, m1, d1) = stats(PrepPipeline.fit(df, cols))
    val fitted = sparkPrep(df, cols)
    val (s2, m2, d2) = stats(fitted)
    assert(close(s1, s2), s"surrogates $s1 vs $s2")
    assert(close(m1, m2), s"means $m1 vs $m2")
    // "a" sits at 1e6 with a spread of 19, where both fits round at
    // about 1e-12: there ours must be at least as near the exact std of
    // the imputed column the scaler sees
    val imputed = fitted.stages(0).transform(df)
    val exact = cols.map(c => exactStd(imputed, s"imp_$c"))
    for (i <- cols.indices)
      assert(close(Seq(d1(i)), Seq(d2(i))) ||
        math.abs(d1(i) - exact(i)) <= math.abs(d2(i) - exact(i)),
        s"${cols(i)}: std ${d1(i)} vs Spark's ${d2(i)}, exact ${exact(i)}")
    val allMissing = df.withColumn("z", when(col("a") > 0, Double.NaN))
    val ours = intercept[SparkException](
      PrepPipeline.fit(allMissing, Seq("a", "z")))
    val theirs = intercept[SparkException](
      sparkPrep(allMissing, Seq("a", "z")))
    assert(ours.getMessage === theirs.getMessage)
  }

  test("the one-pass prep matches Spark's fit on the sf0.01 train split, " +
      "and a D_TREE on either predicts the test split alike row for row") {
    val (tr, te) = MultiModel.split(Jobs.labeled(spark, sf001))
    val ours = PrepPipeline.fit(tr, Jobs.FeatureCols)
    val theirs = sparkPrep(tr, Jobs.FeatureCols)
    val (s1, m1, d1) = stats(ours)
    val (s2, m2, d2) = stats(theirs)
    assert(close(s1, s2) && close(m1, m2) && close(d1, d2),
      s"$s1 $m1 $d1 vs $s2 $m2 $d2")
    def predictions(prep: PipelineModel) = {
      val dt = Trainers.byName("D_TREE")
        .fit(PrepPipeline.matrix(prep, tr)).asInstanceOf[Dt]
      dt.transform(PrepPipeline.matrix(prep, te)).select("prediction")
        .collect().map(_.getDouble(0)).toSeq
    }
    assert(predictions(ours) === predictions(theirs))
  }

  /** The multiset of `df`'s rows, as sorted strings. */
  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("oversample balances the classes exactly with real minority rows, " +
      "and its rows do not depend on the input's partitioning") {
    val (tr, _) = MultiModel.split(labeled)
    def oversampled(parts: Int): DataFrame = {
      val in = tr.repartition(parts)
      val (_, groups) = PrepPipeline.fitCounting(in, Jobs.FeatureCols,
        Smote.keys(in, Some("oversample")))
      Smote.oversample(in, groups)
    }
    val out = oversampled(4)
    val counts = out.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts(0.0) === counts(1.0))
    val majority = tr.filter(col("label") === 0.0)
    assert(out.filter(col("label") === 0.0).exceptAll(majority).isEmpty &&
      majority.exceptAll(out.filter(col("label") === 0.0)).isEmpty,
      "majority rows changed")
    assert(out.filter(col("label") === 1.0).distinct()
      .exceptAll(tr.filter(col("label") === 1.0).distinct()).isEmpty,
      "an added row is not a minority row")
    val at4 = multiset(out)
    assert(multiset(oversampled(1)) === at4)
    assert(multiset(oversampled(200)) === at4)
  }

  test("oversample tops up a run of equal rows its cut splits, alike at " +
      "any partitioning") {
    import spark.implicits._
    // minority: three equal rows and one other; majority: ten rows. The
    // deficit 6 is one copy each plus 2, so the cut falls in the run
    val rows = Seq.fill(3)((1.0, 5.0)) ++ Seq((1.0, 6.0)) ++
      (1 to 10).map(i => (0.0, i.toDouble))
    val df = rows.toDF("label", "x")
    def oversampled(parts: Int) = {
      val in = df.repartition(parts)
      val (_, groups) = PrepPipeline.fitCounting(in, Seq("x"),
        Smote.keys(in, Some("oversample")))
      multiset(Smote.oversample(in, groups))
    }
    val out = oversampled(1)
    assert(out.count(_.startsWith("[1.0,")) === 10)
    assert(out.count(_ == "[1.0,5.0]") + out.count(_ == "[1.0,6.0]") === 10)
    assert(out.filter(_.startsWith("[0.0,")) ===
      (1 to 10).map(i => s"[0.0,${i.toDouble}]").sorted)
    assert(oversampled(3) === out)
    assert(oversampled(7) === out)
  }

  test("oversample cuts between two rows of one hash bucket, alike at any " +
      "partitioning") {
    import spark.implicits._
    // two minority rows that share a hash bucket, and k rows in buckets
    // below it: a deficit of one copy each plus k + 1 cuts between the two
    val bucketOf = (0 until 2000).map(i => (1.0, i.toDouble)).toDF("label", "x")
      .select(col("x"), shiftright(xxhash64(col("label"), col("x")), 52)
        .as("b"), xxhash64(col("label"), col("x")).as("h"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val (b, pair) = bucketOf.groupBy(_._2).collect {
      case (b, rs) if rs.length >= 2 => (b, rs.sortBy(_._3).take(2))
    }.minBy(_._1)
    val below = bucketOf.filter(_._2 < b).take(3)
    val minority = (below ++ pair).map(r => (1.0, r._1))
    val m = minority.size
    val majority = (1 to 2 * m + below.length + 1).map(i => (0.0, -i.toDouble))
    val df = (minority.toSeq ++ majority).toDF("label", "x")
    def oversampled(parts: Int) = {
      val in = df.repartition(parts)
      val (_, groups) = PrepPipeline.fitCounting(in, Seq("x"),
        Smote.keys(in, Some("oversample")))
      multiset(Smote.oversample(in, groups))
    }
    val out = oversampled(1)
    val copies = out.groupBy(identity).map { case (r, rs) => r -> rs.size }
    assert(out.count(_.startsWith("[1.0,")) === majority.size)
    assert(below.forall(r => copies(s"[1.0,${r._1}]") === 3))
    assert(copies(s"[1.0,${pair(0)._1}]") === 3)
    assert(copies(s"[1.0,${pair(1)._1}]") === 2)
    assert(oversampled(4) === out)
  }

  test("the oversampled fit input is three Spark jobs: the aggregate and " +
      "the checkpoint") {
    val (tr, _) = MultiModel.split(labeled)
    tr.cache().count()
    val (in, jobs) = jobsDuring(
      MultiModel.fitInput(tr, Jobs.FeatureCols, Some("oversample")))
    try {
      // the aggregate (its shuffle stage and its result) and the
      // checkpoint: on this split the cut ends a hash bucket, so no
      // bucket's rows are read (the build ran 13 jobs before)
      assert(jobs === 3)
      val counts = in.fitOn.groupBy("label").count().collect()
        .map(_.getLong(1)).toSet
      assert(counts.size === 1)
      assert(in.rows === tr.count())
    } finally { in.release(); tr.unpersist() }
  }

  test("q_m2_smote builds its SMOTE fit input on every run: the same " +
      "jobs each time, the SMOTE's own among them") {
    def run() = jobSitesDuring(
      SparkEntry.queries("q_m2_smote")(spark, sf0001).collect().toSeq)
    val (rows1, first) = run()
    val (rows2, second) = run()
    assert(rows1 === rows2)
    assert(rows1.map(_.getLong(1)).distinct.size === 1)
    // the prep aggregate, SMOTE's slab checkpoint and slab sizes, the
    // fit input's checkpoint and the class count, each shuffle stage a
    // job of its own
    assert(first.size === 10, first)
    assert(second.size === first.size, second)
    assert(second.exists(_.contains("Smote.scala")), second)
  }

  /** The files under `dir`, relative, with part-file names' unique parts
    * dropped. */
  private def tree(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => root.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+(-c\\d+)?", "part-$1"))
      .toSeq.sorted
  }

  test("the side-by-side save writes PipelineModel.write's tree, loads " +
      "back to the same model, and refuses an existing path") {
    val dir = Files.createTempDirectory("graft-save").toString
    val (tr, te) = MultiModel.split(labeled)
    val t = MultiModel.train(tr, Jobs.FeatureCols, "D_TREE")
    val path = MultiModel.save(t, dir,
      new ModelRegistry(s"$dir/registry.jsonl"), "side_by_side")
    t.pipeline.write.save(s"$dir/reference")
    assert(tree(path) === tree(s"$dir/reference"))
    val loaded = PipelineModel.load(path)
    assert(shape(loaded.stages.last.asInstanceOf[Dt]) ===
      shape(t.pipeline.stages.last.asInstanceOf[Dt]))
    def predictions(m: PipelineModel) = MultiModel.score(m, te)
      .select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(predictions(loaded) === predictions(t.pipeline))
    intercept[java.io.IOException](
      GraftMlBridge.save(t.pipeline, path))
  }

  test("a save whose stage write throws leaves no registry entry") {
    val dir = Files.createTempDirectory("graft-save-fail").toString
    val registry = new ModelRegistry(s"$dir/registry.jsonl")
    val (tr, _) = MultiModel.split(labeled)
    val t = MultiModel.train(tr, Jobs.FeatureCols, "GNB", useSmote = false)
    val failing = new VectorAssembler() {
      override def write: MLWriter = new MLWriter {
        override protected def saveImpl(path: String): Unit =
          throw new java.io.IOException("stage write failed")
      }
    }.setInputCols(Array("l_tax")).setOutputCol("unused")
    val stages: Array[Transformer] = t.pipeline.stages :+ failing
    val broken = t.copy(pipeline = GraftMlBridge.pipelineModel(stages))
    val e = intercept[java.io.IOException](
      MultiModel.save(broken, dir, registry, "broken"))
    assert(e.getMessage === "stage write failed")
    assert(registry.entries().isEmpty)
  }
}
