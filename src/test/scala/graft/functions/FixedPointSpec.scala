package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.FixedPoint.{ldiv, scaledDiv}

/** FixedPoint helpers: exactness and the round-10 overflow regression.
  *
  * The sf10 sweep caught q_cohens_kappa failing with ARITHMETIC_OVERFLOW:
  * the pre-round-10 scaledDiv split-division identity computed
  * (a mod b) * scale in LONG, which exceeds 2^63 once b*scale does
  * (there b ≈ n² of a 200k-row table under a 1e9 scale). The helpers
  * now run internally in decimal(38,0); these tests pin both the exact
  * values and the formerly-overflowing regime.
  */
class FixedPointSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Long =
    Seq(1).toDF("x").select(c.as("r")).head().getLong(0)

  test("ldiv: floor division matches BigInt on representative pairs") {
    val cases = Seq[(Long, Long)](
      (0L, 7L), (6L, 7L), (7L, 7L), (8L, 7L),
      (Long.MaxValue, 3L), (Long.MaxValue, Long.MaxValue),
      (1234567890123456789L, 97L))
    cases.foreach { case (a, b) =>
      assert(one(ldiv(lit(a), lit(b))) ===
        (BigInt(a) / BigInt(b)).toLong, s"ldiv($a, $b)")
    }
  }

  test("scaledDiv: floor(scale*a/b) matches BigInt on representative pairs") {
    val scale = 1000000000L
    val cases = Seq[(Long, Long)](
      (1L, 3L), (2L, 3L), (999999999L, 1000000000L),
      (40000000000L, 80000000000L))
    cases.foreach { case (a, b) =>
      assert(one(scaledDiv(lit(a), lit(b), scale)) ===
        (BigInt(a) * scale / BigInt(b)).toLong, s"scaledDiv($a, $b)")
    }
  }

  test("regression: the kappa sf10 regime (b*scale > 2^63) stays exact") {
    // the exact shape that failed: b ~ n² at n = 200k, scale 1e9 —
    // (a mod b) * scale ≈ 4e19 > Long.MaxValue in the old long identity
    val n = 200000L
    val b = n * n // 4e10
    val a = 2L * b - 12345L // kappa's num+den ∈ [0, 2*den]
    assert(one(scaledDiv(lit(a), lit(b), 1000000000L)) ===
      (BigInt(a) * 1000000000L / BigInt(b)).toLong)
    // and far beyond long entirely: decimal(38,0) arguments
    val big = lit("99999999999999999999").cast("decimal(38,0)") // 1e20
    assert(one(scaledDiv(big, big, 1000000000L)) === 1000000000L)
  }

  test("out-of-contract inputs raise instead of returning silent nulls") {
    // round-10 advice: past 10^38 a non-ANSI decimal(38,0) product is a
    // silent NULL — the guard must turn that into a loud error, and the
    // same for a zero divisor
    val nearMax = lit("9" * 38).cast("decimal(38,0)") // 10^38 - 1
    val overflow = intercept[Exception] {
      one(scaledDiv(nearMax, lit(1L), 1000000000L))
    }
    assert(overflow.getMessage.contains("FixedPoint"),
      overflow.getMessage)
    val divZero = intercept[Exception] { one(ldiv(lit(7L), lit(0L))) }
    assert(divZero.getMessage.contains("FixedPoint"), divZero.getMessage)
    // genuine null inputs still propagate as null (in-contract)
    val r = Seq(1).toDF("x")
      .select(ldiv(lit(null).cast("long"), lit(3L)).as("r")).head()
    assert(r.isNullAt(0))
  }

  test("chaos: a registry-shaped run under cluster confs fails loudly " +
    "on an overflowed input") {
    // Round-11 verdict #6: the guard is spec-pinned on literals above,
    // but the driver-harness contract is that an out-of-contract input
    // fails the RUN — through a parquet scan, a real Exchange at the
    // cluster profile's 2000 shuffle partitions with AQE, whole-stage
    // codegen, and the same noop-write materialization Bench/Verify
    // use — never completing silently with null metrics. (The profile's
    // context-level configs — Kryo — can't be flipped in the shared test
    // JVM; the full-run proof of those is
    // `git show d06d1b8:CORRECTNESS_cluster_r11.txt`.)
    val dir = java.nio.file.Files.createTempDirectory("fp_chaos").toString
    // adversarial table: one group whose aggregate lands at 10^38 - 1
    // (max decimal(38,0)), one healthy group — the failure must surface
    // even though most of the data is in-contract
    spark.range(0, 4)
      .selectExpr("id % 2 as g",
        s"case when id % 2 = 0 then cast('${"9" * 38}' as decimal(38,0)) " +
          "else cast(id as decimal(38,0)) end as v")
      .write.mode("overwrite").parquet(s"$dir/chaos")
    // query-shaped exactly like a SparkEntry.queries entry
    val q: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = (s, d) =>
      s.read.parquet(s"$d/chaos")
        .groupBy(col("g")).agg(max(col("v")).as("mx")) // forces an Exchange
        .select(col("g"), scaledDiv(col("mx"), lit(1L), 1000000000L)
          .as("ppm"))
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "2000")
    sess.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val e = intercept[Exception] {
      q(sess, dir).write.format("noop").mode("overwrite").save()
    }
    // the raise_error message must survive Spark's job-failure wrapping
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("FixedPoint"), msgs)
  }
}
