package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.SparkSpec

/** Spark's `count_min_sketch` aggregate and the estimate step of
  * [[CountMinSketchEstimates]]. */
class CountMinSketchAggSpec extends SparkSpec {

  import spark.implicits._

  test("CMS estimates are exact when the vocabulary fits the width " +
      "and identical at different partitionings") {
    val toks = Seq.fill(40)("a") ++ Seq.fill(7)("b") ++ Seq.fill(1)("c")
    def estimates(parts: Int): Seq[Long] = {
      val df = spark.sparkContext.parallelize(toks, parts).toDF("tok")
      df.agg(CountMinSketchEstimates.cms_estimates(col("tok"),
          Seq("a", "b", "c", "absent")).as("e"))
        .head().getSeq[Long](0)
    }
    val e1 = estimates(1)
    val e8 = estimates(8)
    assert(e1 === e8)                 // merge-order invariance
    assert(e1.take(3) === Seq(40L, 7L, 1L)) // no collisions at this width
    assert(e1(3) >= 0L && e1(3) <= 1L)      // absent term: bounded by eps*N
  }

  test("CMS never underestimates, even under forced collisions") {
    // width 2 forces every token into 2 buckets per row: estimates can
    // only inflate, never undercount
    val toks = (1 to 200).map(i => s"t${i % 10}")
    val df = toks.toDF("tok")
    val cms = CountMinSketch.readFrom(df.agg(
        CountMinSketchEstimates.sketch(col("tok"), depth = 3, width = 2))
      .head().getAs[Array[Byte]](0))
    assert((cms.depth, cms.width) === ((3, 2)))
    val est = df.agg(CountMinSketchEstimates.cms_estimates(col("tok"),
        Seq("t0", "t5"), depth = 3, width = 2).as("e"))
      .head().getSeq[Long](0)
    assert(est.forall(_ >= 20L)) // true count of each is 20
  }
}
