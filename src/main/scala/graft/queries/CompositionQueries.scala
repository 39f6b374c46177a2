package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.core.{QueryDef, QueryModule, Tables}
import graft.functions.FixedPoint.scaledDiv

/** Corpus-composition planning operators: padding-waste accounting for
  * length-bucketed batching, temperature-smoothed mixture rates, and a
  * chi-square independence audit between categorical metadata columns.
  *
  * These answer the "how should the training batches be shaped and is
  * the mixture balanced" questions that sit between curation and the
  * trainer. All three are map passes + keyed integer aggregations —
  * nothing orders rows globally, and every ratio is minted once from
  * exact integer counts (see FixedPoint).
  */
object CompositionQueries extends QueryModule {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Power-of-two length buckets 32..1024 with truncation at the cap —
    * the standard bucketed-batching shape.
    */
  private def bucketOf(nt: Column): Column =
    when(nt <= 32, 32L).when(nt <= 64, 64L).when(nt <= 128, 128L)
      .when(nt <= 256, 256L).when(nt <= 512, 512L).otherwise(1024L)

  def defs: Map[String, QueryDef] = Map(

    "q_pad_waste" -> QueryDef(
      (s, dir) => {
        // padding-waste accounting: each doc lands in the smallest
        // power-of-two length bucket that fits (cap 1024 with
        // truncation); per bucket the doc count, kept tokens, padded
        // slots and the fixed-point waste rate padding/(bucket*docs).
        // This is the report that decides bucket boundaries before a
        // training run. One map pass + one keyed agg; 6 output rows
        // regardless of corpus size.
        val d = T(s, dir, "documents")
          .select(size(split(trim(col("text")), "\\s+"))
            .cast(LongType).as("nt"))
          .select(col("nt"), bucketOf(col("nt")).as("bucket"),
            least(col("nt"), lit(1024L)).as("kept"))
        d.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("tokens"),
            sum(col("nt") - col("kept")).as("truncated"))
          .select(col("bucket"), col("n_docs"), col("tokens"),
            col("truncated"),
            (col("bucket") * col("n_docs") - col("tokens")).as("padding"),
            scaledDiv(col("bucket") * col("n_docs") - col("tokens"),
              col("bucket") * col("n_docs"), 1000000L)
              .as("waste_rate_scaled"))
          .orderBy(col("bucket"))
      },
      Some("""WITH d AS (SELECT
             |     CAST(len(regexp_split_to_array(trim(text), '\s+'))
             |       AS BIGINT) AS nt
             |   FROM documents),
             | b AS (SELECT nt,
             |     CASE WHEN nt <= 32 THEN 32 WHEN nt <= 64 THEN 64
             |       WHEN nt <= 128 THEN 128 WHEN nt <= 256 THEN 256
             |       WHEN nt <= 512 THEN 512 ELSE 1024 END AS bucket,
             |     LEAST(nt, 1024) AS kept
             |   FROM d),
             | g AS (SELECT bucket, COUNT(*) AS n_docs,
             |     CAST(SUM(kept) AS BIGINT) AS tokens,
             |     CAST(SUM(nt - kept) AS BIGINT) AS truncated
             |   FROM b GROUP BY bucket)
             | SELECT bucket, n_docs, tokens, truncated,
             |   bucket * n_docs - tokens AS padding,
             |   ((bucket * n_docs - tokens) // (bucket * n_docs)) * 1000000
             |     + (((bucket * n_docs - tokens) % (bucket * n_docs))
             |        * 1000000) // (bucket * n_docs) AS waste_rate_scaled
             | FROM g ORDER BY bucket""".stripMargin),
      "length-bucketed batching audit: per power-of-two bucket the doc " +
        "count, kept/truncated tokens and fixed-point padding waste"),

    "q_alpha_mixture" -> QueryDef(
      (s, dir) => {
        // temperature-smoothed mixture rates (alpha = 0.5): sampling
        // weight per source proportional to sqrt(count) — the standard
        // multilingual/multi-source rebalancing. sqrt is the ONLY
        // float step and is IEEE-correctly-rounded on both engines;
        // it is fixed-pointed per source BEFORE the normalizing sum,
        // so the denominator is an exact long and the rates/draws are
        // exact integer ratios. Keyed count agg + one tiny broadcast
        // total; |sources| output rows.
        val c = T(s, dir, "documents").groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("w", floor(sqrt(col("cnt").cast("double"))
            * 1000000).cast(LongType))
        val tot = c.agg(sum(col("w")).as("wsum"),
          sum(col("cnt")).as("total"))
        c.crossJoin(broadcast(tot))
          .select(col("source"), col("cnt"),
            scaledDiv(col("cnt"), col("total"), 1000000L)
              .as("share_scaled"),
            scaledDiv(col("w"), col("wsum"), 1000000L)
              .as("alpha_share_scaled"),
            scaledDiv(col("w") * 10000L, col("wsum"), 1L)
              .as("draws_per_10k"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS cnt,
             |     CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000)
             |       AS BIGINT) AS w
             |   FROM documents GROUP BY source),
             | t AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum,
             |     CAST(SUM(cnt) AS BIGINT) AS total FROM c)
             | SELECT source, cnt,
             |   (cnt // total) * 1000000 + ((cnt % total) * 1000000)
             |     // total AS share_scaled,
             |   (w // wsum) * 1000000 + ((w % wsum) * 1000000) // wsum
             |     AS alpha_share_scaled,
             |   (w * 10000) // wsum AS draws_per_10k
             | FROM c CROSS JOIN t ORDER BY source""".stripMargin),
      "temperature (alpha=0.5) mixture resampling rates per source: " +
        "sqrt weights fixed-pointed before the normalizing sum"),

    "q_chi2_independence" -> QueryDef(
      (s, dir) => {
        // chi-square independence audit between lang and source (is
        // the corpus mixture confounded?). Uses the algebraic identity
        // chi2 = n * (sum_ij n_ij^2/(r_i*c_j) - 1), which needs no
        // per-cell float expected values: each cell term is
        // fixed-pointed from exact integer counts — the nij^2 and
        // ri*cj products widen to decimal(38,0) so no cell or marginal
        // size can overflow (the count-product class the sf10 sweep
        // caught in q_cohens_kappa), terms sum as longs, and the -1
        // shift + n multiply stay integral. One grid agg + two
        // marginal aggs (all tiny) + a broadcast three-way join on
        // the cells.
        // Round-13 probe note: deriving the marginals from the cells
        // table (ri = Σ_j nij etc. — one fact scan instead of four) was
        // built and measured: 0.71-0.84 s this form vs 0.95-1.16 s
        // derived, stable across reps at sf0.1/32 cores. The four scans
        // are independent 2-column pruned reads that the scheduler runs
        // CONCURRENTLY, while the derived form serializes everything
        // behind the cells exchange — at gate scale the extra reads are
        // cheaper than the lost stage parallelism. Kept as-is per guide
        // §1.1. Round-14 measurement of the recorded "flips at scale"
        // claim (OPTIMIZATION_r14.md Item 8, sf10,
        // SPARK_GRAFT_PROFILE=cluster): the 4-scan form STILL wins,
        // 0.705 s vs 1.0 s min — no flip by sf10 even under
        // clusterDefaults, because documents stays a cheap columnar
        // scan whose 2-column pruned reads are nearly free next to the
        // lost concurrency. The flip needs the scan itself to dominate
        // (I/O-bound fact at 100 TB); until a real cluster measurement
        // shows it, this form stands on its numbers.
        val d = T(s, dir, "documents").select(col("lang"), col("source"))
        val cells = d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("nij"))
        val rows = d.groupBy(col("lang")).agg(count(lit(1)).as("ri"))
        val cols = d.groupBy(col("source")).agg(count(lit(1)).as("cj"))
        val n = d.agg(count(lit(1)).as("n"))
        val terms = cells
          .join(broadcast(rows), Seq("lang"))
          .join(broadcast(cols), Seq("source"))
          .select(scaledDiv(
            col("nij").cast(DecimalType(38, 0)) * col("nij"),
            col("ri").cast(DecimalType(38, 0)) * col("cj"),
            10000000000L).as("term"))
        terms.agg(sum(col("term")).as("sumterm"))
          .crossJoin(broadcast(
            cells.agg(countDistinct(col("lang")).as("r"),
              countDistinct(col("source")).as("c"))))
          .crossJoin(broadcast(n))
          .select(col("n"), col("r"), col("c"),
            ((col("r") - 1) * (col("c") - 1)).as("dof"),
            (col("n") * (col("sumterm") - 10000000000L))
              .as("chi2_scaled_e10"))
      },
      Some("""WITH d AS (SELECT lang, source FROM documents),
             | cells AS (SELECT lang, source, COUNT(*) AS nij FROM d
             |   GROUP BY lang, source),
             | r AS (SELECT lang, COUNT(*) AS ri FROM d GROUP BY lang),
             | c AS (SELECT source, COUNT(*) AS cj FROM d GROUP BY source),
             | nn AS (SELECT COUNT(*) AS n FROM d),
             | t AS (SELECT CAST(SUM(
             |     ((nij * nij) // (ri * cj)) * 10000000000
             |       + (((nij * nij) % (ri * cj)) * 10000000000)
             |         // (ri * cj)) AS BIGINT) AS sumterm
             |   FROM cells JOIN r USING (lang) JOIN c USING (source)),
             | rc AS (SELECT COUNT(DISTINCT lang) AS r,
             |     COUNT(DISTINCT source) AS c FROM cells)
             | SELECT nn.n, rc.r, rc.c, (rc.r - 1) * (rc.c - 1) AS dof,
             |   nn.n * (t.sumterm - 10000000000) AS chi2_scaled_e10
             | FROM t CROSS JOIN rc CROSS JOIN nn""".stripMargin),
      "chi-square independence between lang and source: per-cell " +
        "fixed-point terms via the n^2/(r*c) identity, integer reduce"))
}
