package graft.ml

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.cli.Jobs

/** Property: LocalScorer's driver-side predictions equal
  * MultiModel.score's exactly, for every model type, over random rows
  * with empty cells, NaN and signed zeros, for a just-fitted pipeline and
  * for the same pipeline read back from disk. Fixed seeds, so a failure
  * reproduces.
  */
class LocalScorerSpec extends SparkSpec {

  private val cols = Jobs.FeatureCols
  private val schema = StructType(cols.map(StructField(_, DoubleType)))

  // per feature: values around and beyond sf0.001's ranges (quantity
  // 1-50, price up to ~1e5, discount and tax 0-0.1), plus the cells the
  // imputer and assembler treat specially
  private val cell: Gen[java.lang.Double] = Gen.frequency(
    6 -> Gen.choose(-1.0, 2.0).map(Double.box),
    6 -> Gen.choose(0.0, 60.0).map(Double.box),
    6 -> Gen.choose(0.0, 120000.0).map(Double.box),
    2 -> Gen.const(null),
    2 -> Gen.const(Double.box(Double.NaN)),
    1 -> Gen.oneOf(0.0, -0.0).map(Double.box))
  private val rowsGen: Gen[List[Row]] = Gen.choose(1, 60).flatMap(n =>
    Gen.listOfN(n, Gen.listOfN(cols.size, cell).map(Row.fromSeq)))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(4242L + i)))

  private def offline(model: PipelineModel, rows: Seq[Row]): Seq[Double] =
    MultiModel.score(model, spark.createDataFrame(rows.asJava, schema))
      .select("prediction").collect().map(_.getDouble(0)).toSeq

  for (mt <- Trainers.ModelTypes)
    test(s"property: LocalScorer == MultiModel.score for $mt, fitted and " +
        "read from disk, over rows with empty cells and NaN") {
      val (tr, _) = MultiModel.split(Jobs.labeled(spark, sf0001))
      val fitted = MultiModel.train(tr, cols, mt,
        Map("max_iter" -> "10", "n_estimators" -> "5")).pipeline
      val path = Files.createTempDirectory("graft-local-scorer")
        .resolve("model").toString
      fitted.write.save(path)
      val fromDisk = PipelineModel.load(path)
      for (rows <- samples(rowsGen, 12); model <- Seq(fitted, fromDisk))
        assert(LocalScorer.predict(model, cols, rows) === offline(model, rows),
          rows.mkString("; "))
    }
}
