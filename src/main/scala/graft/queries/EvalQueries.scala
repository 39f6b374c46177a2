package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  TimestampNTZType}

import graft.core.{QueryDef, QueryModule, Tables}
import graft.functions.FixedPoint.{ldiv, scaledDiv}
import graft.operators.PrefixSum

/** Model-evaluation battery: exact ROC AUC, calibration bins, Cohen's
  * kappa inter-rater agreement, and Gini concentration — the metrics a
  * training pipeline computes over scored/labeled data at full corpus
  * scale (generalizing the reference's accuracy/confusion/F1 surface,
  * src/predict.py:60-76).
  *
  * Scale themes shared by all four:
  *
  *   - no per-row global sort: AUC aggregates per QUANTIZED score value
  *     first (bounded cardinality by construction), so the one ordered
  *     window runs over score groups, not rows; calibration/kappa/gini
  *     reduce to keyed integer counts before any ordering;
  *   - every ratio leaves integers exactly once, via the split
  *     floor-division identity floor(S*a/b) = (a div b)*S + (a mod b)*S
  *     div b evaluated on non-negative longs — truncating and flooring
  *     division agree on non-negatives, so Spark and the oracle cannot
  *     diverge, and no intermediate exceeds ~5e16;
  *   - the "model score" is a deterministic projection of the stored
  *     embedding (component 1), so the gate is reproducible without a
  *     fitted model in the loop.
  */
object EvalQueries extends QueryModule {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Labeled scores from the embeddings table: pos = label < 5, score
    * quantized to 1e4 fixed point (bounds the distinct-score cardinality
    * the AUC window sees — the knob that keeps exact AUC cheap at
    * 100 TB).
    */
  private def scored(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings").select(
      (col("label") < 5).cast(LongType).as("pos"),
      floor(element_at(col("embedding"), 1).cast("double") * 10000)
        .cast(LongType).as("sc"))

  def defs: Map[String, QueryDef] = Map(

    "q_auc_rank" -> QueryDef(
      (s, dir) => {
        // exact ROC AUC via the Mann-Whitney rank sum with tie
        // correction: group rows by quantized score (one partial+final
        // agg), then over score groups ASCENDING accumulate negatives
        // strictly below; 2U = sum over groups of
        // np_g * (2*cum_neg_below + nn_g); AUC = 2U / (2*P*N). The
        // ordered window runs over DISTINCT quantized scores only —
        // bounded by the 1e4 quantization, not the row count — so
        // there is no global per-row sort anywhere.
        val g = scored(s, dir).groupBy(col("sc"))
          .agg(sum(col("pos")).as("np"),
            sum(lit(1) - col("pos")).as("nn"))
        val w = Window.orderBy(col("sc"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // 2U products decimal-widened (round-8, verdict #6 cousin of
        // q_mann_whitney: u2 ≈ P·N overflows Long — an ANSI error — at
        // ~3e9 rows per class); u2 surfaces as a once-minted DOUBLE
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val terms = g
          .withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
          .select((dec(col("np")) *
            (lit(2) * dec(col("cumneg")) + dec(col("nn"))))
            .as("t"), col("np"), col("nn"))
        terms.agg(sum(col("np")).as("p_total"),
            sum(col("nn")).as("n_total"), sum(col("t")).as("u2"))
          .select(col("p_total"), col("n_total"),
            col("u2").cast(DoubleType).as("u2"),
            scaledDiv(col("u2"),
              lit(2) * dec(col("p_total")) * dec(col("n_total")),
              1000000000L).as("auc_scaled"))
      },
      Some("""WITH sc AS (SELECT
             |     CAST(label < 5 AS BIGINT) AS pos,
             |     CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 10000)
             |       AS BIGINT) AS sc
             |   FROM embeddings),
             | g AS (SELECT sc, CAST(SUM(pos) AS BIGINT) AS np,
             |     CAST(SUM(1 - pos) AS BIGINT) AS nn
             |   FROM sc GROUP BY sc),
             | t AS (SELECT np, nn,
             |     COALESCE(CAST(SUM(nn) OVER (ORDER BY sc
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |       AS BIGINT), 0) AS cumneg
             |   FROM g),
             | a AS (SELECT CAST(SUM(np) AS BIGINT) AS p_total,
             |     CAST(SUM(nn) AS BIGINT) AS n_total,
             |     SUM(CAST(np AS HUGEINT) * (2 * cumneg + nn)) AS u2
             |   FROM t)
             | SELECT p_total, n_total, CAST(u2 AS DOUBLE) AS u2,
             |   CAST((u2 // (2 * CAST(p_total AS HUGEINT) * n_total))
             |       * 1000000000
             |     + ((u2 % (2 * CAST(p_total AS HUGEINT) * n_total))
             |       * 1000000000)
             |       // (2 * CAST(p_total AS HUGEINT) * n_total)
             |     AS BIGINT) AS auc_scaled
             | FROM a""".stripMargin),
      "exact ROC AUC via tie-corrected Mann-Whitney rank sum over " +
        "quantized-score groups (no per-row global sort)"),

    "q_calibration_bins" -> QueryDef(
      (s, dir) => {
        // reliability diagram: pseudo-probability p = clip(score+0.5,
        // [0,1]) from embedding component 1, 10 equal-width bins; per
        // bin the count, positives, fixed-point mean predicted p and
        // empirical positive rate — both minted by exact integer
        // division of fixed-point sums. One map pass + one keyed agg.
        val p0 = element_at(col("embedding"), 1).cast("double") + 0.5
        val p = least(greatest(p0, lit(0.0)), lit(1.0))
        T(s, dir, "embeddings").select(
            (col("label") < 5).cast(LongType).as("pos"),
            least(floor(p * 10).cast(LongType), lit(9L)).as("bin"),
            floor(p * lit(1000000)).cast(LongType).as("p_scaled"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
            sum(col("p_scaled")).as("sp"))
          .select(col("bin"), col("n"), col("n_pos"),
            ldiv(col("sp"), col("n")).as("mean_p_scaled"),
            scaledDiv(col("n_pos"), col("n"), 1000000L)
              .as("pos_rate_scaled"))
          .orderBy(col("bin"))
      },
      Some("""WITH b AS (SELECT
             |     CAST(label < 5 AS BIGINT) AS pos,
             |     LEAST(CAST(FLOOR(LEAST(GREATEST(
             |       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0) * 10)
             |       AS BIGINT), 9) AS bin,
             |     CAST(FLOOR(LEAST(GREATEST(
             |       CAST(embedding[1] AS DOUBLE) + 0.5, 0.0), 1.0)
             |       * 1000000) AS BIGINT) AS p_scaled
             |   FROM embeddings),
             | g AS (SELECT bin, COUNT(*) AS n,
             |     CAST(SUM(pos) AS BIGINT) AS n_pos,
             |     CAST(SUM(p_scaled) AS BIGINT) AS sp
             |   FROM b GROUP BY bin)
             | SELECT bin, n, n_pos, sp // n AS mean_p_scaled,
             |   (n_pos // n) * 1000000 + ((n_pos % n) * 1000000) // n
             |     AS pos_rate_scaled
             | FROM g ORDER BY bin""".stripMargin),
      "calibration / reliability bins: fixed-point mean predicted vs " +
        "empirical positive rate per decile bucket"),

    "q_cohens_kappa" -> QueryDef(
      (s, dir) => {
        // inter-rater agreement between two deterministic binary
        // raters (label parity vs score-sign classifier): kappa =
        // (n*agree - chance) / (n^2 - chance) with chance =
        // a0*b0 + a1*b1 from the marginals. kappa can be negative, so
        // the fixed-point mints floor(1e9*(kappa+1)) — a non-negative
        // rational — then shifts back, keeping the floor/truncate
        // agreement between engines. One agg over four counts; O(1)
        // result.
        val r = T(s, dir, "embeddings").select(
          (col("label") % 2).cast(LongType).as("ra"),
          (element_at(col("embedding"), 1) > 0f).cast(LongType).as("rb"))
        val c = r.agg(count(lit(1)).as("n"),
          sum(when(col("ra") === 0 && col("rb") === 0, 1L)
            .otherwise(0L)).as("n00"),
          sum(when(col("ra") === 0 && col("rb") === 1, 1L)
            .otherwise(0L)).as("n01"),
          sum(when(col("ra") === 1 && col("rb") === 0, 1L)
            .otherwise(0L)).as("n10"),
          sum(when(col("ra") === 1 && col("rb") === 1, 1L)
            .otherwise(0L)).as("n11"))
        // marginal products widen to decimal(38,0) BEFORE multiplying:
        // chance/den are ~n^2, which leaves long at n ~ 3e9 rows — and
        // the sf10 sweep already tripped the downstream b*scale long
        // overflow at n = 200k before FixedPoint widened internally
        val dec38 = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val chance =
          (dec38(col("n00")) + col("n01")) * (dec38(col("n00")) + col("n10")) +
          (dec38(col("n10")) + col("n11")) * (dec38(col("n01")) + col("n11"))
        val num = dec38(col("n")) * (dec38(col("n00")) + col("n11")) - chance
        val den = dec38(col("n")) * dec38(col("n")) - chance
        c.select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
          (scaledDiv(num + den, den, 1000000000L) - 1000000000L)
            .as("kappa_scaled"))
      },
      Some("""WITH r AS (SELECT CAST(label % 2 AS BIGINT) AS ra,
             |     CAST(embedding[1] > 0 AS BIGINT) AS rb
             |   FROM embeddings),
             | c AS (SELECT COUNT(*) AS n,
             |     CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n00,
             |     CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n01,
             |     CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n10,
             |     CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n11
             |   FROM r),
             | k AS (SELECT n, n00, n01, n10, n11,
             |     n * (n00 + n11)
             |       - ((n00 + n01) * (n00 + n10)
             |          + (n10 + n11) * (n01 + n11)) AS num,
             |     n * n - ((n00 + n01) * (n00 + n10)
             |          + (n10 + n11) * (n01 + n11)) AS den
             |   FROM c)
             | SELECT n, n00, n01, n10, n11,
             |   ((num + den) // den) * 1000000000
             |     + (((num + den) % den) * 1000000000) // den
             |     - 1000000000 AS kappa_scaled
             | FROM k""".stripMargin),
      "Cohen's kappa between two deterministic raters: exact integer " +
        "marginal chance correction, shift-positive fixed point"),

    "q_gini_sources" -> QueryDef(
      (s, dir) => {
        // corpus concentration: Gini coefficient of per-source document
        // contribution (the "is one domain dominating the corpus"
        // audit). Per-source counts first (keyed agg), then ONE ordered
        // window over the |sources| group rows — bounded cardinality —
        // ranks ascending; G = (2*sum(i*c_i) - (k+1)*total) /
        // (k*total), non-negative, minted once via split division.
        val c = T(s, dir, "documents").groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("cnt"), col("source"))
        val ranked = c.withColumn("i", row_number().over(w))
        // k*total and 2*swc widen to decimal before the products —
        // swc ~ k*n leaves long headroom thin at corpus scale (same
        // count-product class as the kappa sf10 overflow)
        val dec38 = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        ranked.agg(count(lit(1)).as("k"), sum(col("cnt")).as("total"),
            sum(col("i") * col("cnt")).as("swc"))
          .select(col("k"), col("total"),
            scaledDiv(
              lit(2) * dec38(col("swc"))
                - (dec38(col("k")) + 1) * dec38(col("total")),
              dec38(col("k")) * dec38(col("total")),
              1000000000L).as("gini_scaled"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS cnt
             |   FROM documents GROUP BY source),
             | r AS (SELECT cnt,
             |     ROW_NUMBER() OVER (ORDER BY cnt, source) AS i
             |   FROM c),
             | a AS (SELECT COUNT(*) AS k,
             |     CAST(SUM(cnt) AS BIGINT) AS total,
             |     CAST(SUM(i * cnt) AS BIGINT) AS swc
             |   FROM r)
             | SELECT k, total,
             |   ((2 * swc - (k + 1) * total) // (k * total)) * 1000000000
             |     + (((2 * swc - (k + 1) * total) % (k * total))
             |        * 1000000000) // (k * total) AS gini_scaled
             | FROM a""".stripMargin),
      "Gini concentration of per-source corpus contribution: keyed " +
        "counts, bounded ordered window, split-division fixed point"),

    "q_psi_drift" -> QueryDef(
      (s, dir) => {
        // Population Stability Index between a reference and a current
        // period — the standard serving-drift monitor (PSI > 0.2 ⇒
        // investigate): bucket the score proxy (order value) with
        // literal bucket edges, add-1 smooth both period counts, and
        // compute per-bucket (p−q)·ln(p/q) terms with the same
        // fixed-point recipe as the KL-divergence gate: exact ppm
        // shares via ldiv, one fixed-point ln of the exact-integer
        // ratio, integer products. One scan, one keyed agg, a 10-row
        // broadcast of period totals.
        val o = T(s, dir, "orders").select(
          when(col("o_orderdate") <
            lit("1996-07-01 00:00:00").cast(TimestampNTZType), "p")
            .otherwise("q").as("period"),
          least(floor(col("o_totalprice") / 50000), lit(9))
            .cast(LongType).as("bucket"))
        val counts = o.groupBy(col("bucket")).agg(
          sum(when(col("period") === "p", 1L).otherwise(0L)).as("cp"),
          sum(when(col("period") === "q", 1L).otherwise(0L)).as("cq"))
        val tot = o.agg(
          sum(when(col("period") === "p", 1L).otherwise(0L)).as("np"),
          sum(when(col("period") === "q", 1L).otherwise(0L)).as("nq"))
        // scaledDiv, not ldiv(a*1e6, b): the pre-multiply is a LONG
        // product of a count — the overflow class the sf10 sweep caught
        // in q_cohens_kappa; scaledDiv widens internally
        val pppm = scaledDiv(col("cp") + 1, col("np") + 10, 1000000L)
        val qppm = scaledDiv(col("cq") + 1, col("nq") + 10, 1000000L)
        counts.crossJoin(broadcast(tot))
          .select(col("bucket"), col("cp"), col("cq"),
            pppm.as("p_ppm"), qppm.as("q_ppm"))
          .withColumn("term_scaled",
            (col("p_ppm") - col("q_ppm")) *
              floor(lit(1e6) * log(col("p_ppm").cast(DoubleType) /
                col("q_ppm"))).cast(LongType))
          .orderBy(col("bucket"))
      },
      Some("""WITH o AS (SELECT CASE WHEN o_orderdate <
             |       TIMESTAMP '1996-07-01 00:00:00' THEN 'p' ELSE 'q'
             |       END AS period,
             |     CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS BIGINT)
             |       AS bucket
             |   FROM orders),
             | c AS (SELECT bucket,
             |     CAST(SUM(CASE WHEN period='p' THEN 1 ELSE 0 END)
             |       AS BIGINT) AS cp,
             |     CAST(SUM(CASE WHEN period='q' THEN 1 ELSE 0 END)
             |       AS BIGINT) AS cq
             |   FROM o GROUP BY bucket),
             | t AS (SELECT
             |     CAST(SUM(CASE WHEN period='p' THEN 1 ELSE 0 END)
             |       AS BIGINT) AS np,
             |     CAST(SUM(CASE WHEN period='q' THEN 1 ELSE 0 END)
             |       AS BIGINT) AS nq FROM o),
             | s AS (SELECT bucket, cp, cq,
             |     ((cp+1)*1000000 - ((cp+1)*1000000 % (np+10)))
             |       // (np+10) AS p_ppm,
             |     ((cq+1)*1000000 - ((cq+1)*1000000 % (nq+10)))
             |       // (nq+10) AS q_ppm
             |   FROM c CROSS JOIN t)
             | SELECT bucket, cp, cq, p_ppm, q_ppm,
             |   (p_ppm - q_ppm) * CAST(FLOOR(1e6 *
             |     ln(CAST(p_ppm AS DOUBLE) / q_ppm)) AS BIGINT)
             |     AS term_scaled
             | FROM s ORDER BY bucket""".stripMargin),
      "Population Stability Index between periods: literal bucket " +
        "edges, add-1 smoothed exact ppm shares, fixed-point ln terms"),

    "q_ks_drift" -> QueryDef(
      (s, dir) => {
        // exact two-sample Kolmogorov–Smirnov distance between the
        // order-value distributions of two eras (the distribution-level
        // drift monitor next to the bucketed PSI): D = max over the
        // pooled value axis of |ECDF_a − ECDF_b|. Scale shape: reduce to
        // VALUE GRAIN first (one keyed agg; cents is then a unique order
        // key), run BOTH cumulative counts in one two-phase
        // PrefixSum.localScan pass — no single-task global window
        // anywhere — and maximize the exact integer deviation
        // |ca·nb − cb·na| (the /na·nb division happens once, at the
        // end). Ties on the max deviation break to the smallest value,
        // so the argmax row is deterministic. The deviation products
        // run DECIMAL-WIDENED in ExactStats.ksStat (round-8, verdict
        // #6: na·nb reaches Long range at ~1e9 rows per side, and ANSI
        // turns the wrap into a runtime error — the widened form is
        // proven at synthetic overflow counts in
        // ExactStatsOverflowSpec).
        val era = col("o_orderdate") <
          lit("1998-01-01 00:00:00").cast(TimestampNTZType)
        val grain = T(s, dir, "orders")
          .select(floor(col("o_totalprice") * 100).cast(LongType)
              .as("cents"),
            when(era, 1L).otherwise(0L).as("ia"))
          .groupBy(col("cents"))
          .agg(sum(col("ia")).as("da"),
            sum(lit(1L) - col("ia")).as("db"))
        graft.operators.ExactStats.ksStat(grain)
      },
      Some("""WITH g AS (SELECT
             |     CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
             |     CAST(SUM(CASE WHEN o_orderdate <
             |       TIMESTAMP '1998-01-01 00:00:00' THEN 1 ELSE 0 END)
             |       AS BIGINT) AS da,
             |     CAST(SUM(CASE WHEN o_orderdate <
             |       TIMESTAMP '1998-01-01 00:00:00' THEN 0 ELSE 1 END)
             |       AS BIGINT) AS db
             |   FROM orders GROUP BY 1),
             | c AS (SELECT cents,
             |     CAST(SUM(da) OVER (ORDER BY cents ROWS BETWEEN
             |       UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |       AS ca,
             |     CAST(SUM(db) OVER (ORDER BY cents ROWS BETWEEN
             |       UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |       AS cb
             |   FROM g),
             | t AS (SELECT MAX(ca) AS na, MAX(cb) AS nb FROM c),
             | d AS (SELECT cents, na, nb,
             |     ABS(CAST(ca AS HUGEINT) * nb
             |       - CAST(cb AS HUGEINT) * na) AS dstar
             |   FROM c CROSS JOIN t),
             | m AS (SELECT MAX(dstar) AS md FROM d)
             | SELECT na, nb, MIN(cents) AS at_cents,
             |   ROUND(CAST(md AS DOUBLE) /
             |     (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_d,
             |   ROUND(1.358 * sqrt(CAST(na + nb AS DOUBLE) /
             |     (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
             |     AS ks_crit
             | FROM d CROSS JOIN m WHERE dstar = md
             | GROUP BY na, nb, md""".stripMargin),
      "exact two-sample Kolmogorov–Smirnov drift: value-grain reduce, " +
        "both ECDFs in one two-phase prefix-sum scan, integer deviation " +
        "maximized before the single final division"),

    "q_decile_lift" -> QueryDef(
      (s, dir) => {
        // decile gains/lift table — the targeting-eval artifact next to
        // AUC/calibration: rank by score descending, cut into 10 equal
        // buckets, report per-decile response rate and cumulative lift
        // vs the base rate. Same bounded-cardinality trick as
        // q_auc_rank: the ordered window runs over quantized SCORE
        // GROUPS, a whole group lands in the decile of its first row
        // (ldiv(cum_before*10, n) — deterministic, no within-group
        // order), and every ratio is exact via ldiv/scaledDiv. The
        // decile rollup window is 10 rows. The cum_pos·n / cb·10 /
        // n_pos·1e6 products are decimal-widened (round-8, verdict #6:
        // they reach Long range — an ANSI error — at ~1e9 rows); the
        // ppm/decile OUTPUTS are bounded small, so they stay BIGINT.
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(38, 0))
        val g = scored(s, dir).groupBy(col("sc"))
          .agg(count(lit(1)).as("c"), sum(col("pos")).as("cp"))
        val descW = Window.orderBy(col("sc").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val tot = Window.partitionBy()
        val d = g
          .withColumn("cb",
            coalesce(sum(col("c")).over(descW), lit(0L)))
          .withColumn("n", sum(col("c")).over(tot))
          .withColumn("tp", sum(col("cp")).over(tot))
          .select(ldiv(dec(col("cb")) * 10, col("n")).as("decile"),
            col("c"), col("cp"), col("n"), col("tp"))
        val byDec = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)
        d.groupBy(col("decile"))
          .agg(sum(col("c")).as("n_rows"), sum(col("cp")).as("n_pos"),
            max(col("n")).as("n"), max(col("tp")).as("tp"))
          .withColumn("cum_pos", sum(col("n_pos")).over(byDec))
          .withColumn("cum_rows", sum(col("n_rows")).over(byDec))
          .select(col("decile"), col("n_rows"), col("n_pos"),
            ldiv(dec(col("n_pos")) * 1000000L, col("n_rows"))
              .as("rate_ppm"),
            scaledDiv(dec(col("cum_pos")) * dec(col("n")),
              dec(col("cum_rows")) * dec(col("tp")), 1000000L)
              .as("cum_lift_ppm"))
          .orderBy(col("decile"))
      },
      Some("""WITH sc AS (SELECT CAST(label < 5 AS BIGINT) AS pos,
             |     CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 10000)
             |       AS BIGINT) AS sc
             |   FROM embeddings),
             | g AS (SELECT sc, COUNT(*) AS c,
             |     CAST(SUM(pos) AS BIGINT) AS cp FROM sc GROUP BY sc),
             | w AS (SELECT sc, c, cp,
             |     COALESCE(SUM(c) OVER (ORDER BY sc DESC ROWS BETWEEN
             |       UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             |     SUM(c) OVER () AS n, SUM(cp) OVER () AS tp FROM g),
             | d AS (SELECT (CAST(cb AS HUGEINT)*10
             |       - (CAST(cb AS HUGEINT)*10 % n)) // n AS decile,
             |     c, cp, n, tp FROM w),
             | a AS (SELECT decile, CAST(SUM(c) AS BIGINT) AS n_rows,
             |     CAST(SUM(cp) AS BIGINT) AS n_pos,
             |     MAX(n) AS n, MAX(tp) AS tp FROM d GROUP BY decile),
             | r AS (SELECT decile, n_rows, n_pos,
             |     SUM(n_pos) OVER (ORDER BY decile ROWS BETWEEN
             |       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             |     SUM(n_rows) OVER (ORDER BY decile ROWS BETWEEN
             |       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows,
             |     n, tp FROM a)
             | SELECT CAST(decile AS BIGINT) AS decile, n_rows, n_pos,
             |   CAST((CAST(n_pos AS HUGEINT)*1000000
             |     - (CAST(n_pos AS HUGEINT)*1000000 % n_rows)) // n_rows
             |     AS BIGINT) AS rate_ppm,
             |   CAST((CAST(cum_pos AS HUGEINT)*n)
             |       // (CAST(cum_rows AS HUGEINT)*tp) * 1000000
             |     + ((CAST(cum_pos AS HUGEINT)*n)
             |       % (CAST(cum_rows AS HUGEINT)*tp)) * 1000000
             |       // (CAST(cum_rows AS HUGEINT)*tp) AS BIGINT)
             |     AS cum_lift_ppm
             | FROM r ORDER BY decile""".stripMargin),
      "decile gains/lift table: quantized-score-group deciles, exact " +
        "ppm rates and cumulative lift via ldiv/scaledDiv")
  )
}
