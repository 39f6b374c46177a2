package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{count_min_sketch, lit, udf}
import org.apache.spark.util.sketch.CountMinSketch

/** Count-Min sketch point estimates of a fixed probe-term list, as one
  * aggregate column: Spark's in-plan `count_min_sketch` aggregate builds
  * a depth×width counter matrix in one pass over a token column, and a
  * small step reads each probe's estimate from the finished sketch.
  *
  * Why an aggregate and not explode+groupBy: at 100 TB the exact
  * heavy-hitter count shuffles |distinct| rows; the sketch reduces each
  * partition to a fixed 256 KB buffer (4×8192 longs) that merges by
  * ELEMENTWISE SUM — commutative and associative, so results are
  * bit-identical at any partitioning or merge order (unlike
  * SpaceSaving-style top-k buffers, whose contents depend on arrival
  * order). Estimates carry the standard guarantees: never below the true
  * count, above it by more than 2N/width with probability ≤ (1/2)^depth
  * per probe.
  */
object CountMinSketchEstimates {

  /** CMS estimates (array<long>, aligned with `probes`) of the probe
    * terms' frequencies in the string column `tokens`, from a sketch of
    * `depth` rows of `width` counters (seed 42).
    */
  def cms_estimates(tokens: Column, probes: Seq[String], depth: Int = 4,
      width: Int = 8192): Column = {
    val estimate = udf { (bytes: Array[Byte]) =>
      val cms = CountMinSketch.readFrom(bytes)
      probes.map(p => cms.estimateCount(p))
    }
    estimate(sketch(tokens, depth, width))
  }

  /** The serialized sketch: Spark sizes it as width = ceil(2/eps) and
    * depth = ceil(-log2(1 - confidence)). */
  private[functions] def sketch(tokens: Column, depth: Int, width: Int)
      : Column =
    count_min_sketch(tokens, lit(2.0 / width),
      lit(1.0 - math.pow(2.0, -depth)), lit(42))
}
