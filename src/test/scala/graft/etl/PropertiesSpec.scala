package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** ScalaCheck properties for the conform/impute/normalize transforms
  * (SURVEY §5 test plan): idempotence and shape invariants over generated
  * frames. Samples are drawn with fixed seeds (no scalatest-scalacheck
  * bridge in the offline cache), so failures are reproducible.
  */
class PropertiesSpec extends SparkSpec {

  private val valueGen: Gen[java.lang.Double] = Gen.frequency(
    5 -> Gen.choose(-1e6, 1e6).map(java.lang.Double.valueOf),
    1 -> Gen.const(java.lang.Double.valueOf(Double.PositiveInfinity)),
    1 -> Gen.const(java.lang.Double.valueOf(Double.NegativeInfinity)),
    1 -> Gen.const(java.lang.Double.valueOf(Double.NaN)),
    1 -> Gen.const(null.asInstanceOf[java.lang.Double]))

  private val frameGen: Gen[List[(java.lang.Double, java.lang.Double)]] =
    Gen.listOfN(40, Gen.zip(valueGen, valueGen))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val schema = StructType(Seq(
    StructField("a", DoubleType), StructField("b", DoubleType)))

  private def mkDf(rows: Seq[(java.lang.Double, java.lang.Double)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      schema)

  test("property: infToNull is idempotent and leaves no non-finite values") {
    for (rows <- samples(frameGen, 10)) {
      val df = mkDf(rows)
      val once = Preprocess.infToNull(df, Seq("a", "b"))
      val twice = Preprocess.infToNull(once, Seq("a", "b"))
      val bad = once.filter(
        col("a").isNaN || abs(col("a")) === Double.PositiveInfinity ||
          col("b").isNaN || abs(col("b")) === Double.PositiveInfinity)
      assert(bad.count() === 0)
      assert(once.exceptAll(twice).count() === 0)
      assert(twice.exceptAll(once).count() === 0)
    }
  }

  test("property: conform is idempotent and always yields the target schema") {
    val target = StructType(Seq(
      StructField("a", DoubleType), StructField("z", StringType)))
    for (rows <- samples(frameGen, 10)) {
      val df = mkDf(rows)
      val once = Preprocess.conform(df, target)
      val twice = Preprocess.conform(once, target)
      assert(once.schema === target)
      assert(twice.schema === target)
      assert(once.exceptAll(twice).count() === 0)
    }
  }

  test("property: dropDuplicates is idempotent (U3)") {
    for (rows <- samples(frameGen, 5)) {
      val df = mkDf(rows)
      val d1 = df.dropDuplicates()
      val d2 = d1.dropDuplicates()
      assert(d1.count() === d2.count())
    }
  }

  test("property: deriveLabel emits only {0,1} and preserves row count") {
    val strGen = Gen.listOfN(30, Gen.oneOf("BENIGN", "DDoS", "PortScan", ""))
    for (labels <- samples(strGen, 10)) {
      import spark.implicits._
      val df = labels.toDF("Label")
      val out = Preprocess.deriveLabel(df, "Label", "BENIGN", "state")
      assert(out.count() === labels.size)
      val vals = out.select("state").distinct().collect()
        .map(_.getInt(0)).toSet
      assert(vals.subsetOf(Set(0, 1)))
    }
  }
}
