package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  TimestampNTZType}

import graft.core.{QueryDef, QueryModule, Tables}
import graft.functions.FixedPoint.{ldiv, scaledDiv}

/** OLAP/time-series analytics extensions: explicit GROUPING SETS (the
  * general form behind rollup/cube), time-series gap-filling with
  * last-observation-carried-forward, and nested-JSON parse/explode.
  */
object AnalyticsQueries extends QueryModule {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact linear-interpolated MEDIAN per group from a value histogram
    * `(group, v, cnt)` — `percentile(v, 0.5)` / `quantile_cont(v, 0.5)`
    * semantics on the expanded multiset, computed entirely with window
    * math over the (tiny) histogram frame. Exactness: the 0.5-quantile
    * rank r = (n-1)/2 splits into integer index i and fraction f in
    * {0, 0.5}; value-at-index is a cumulative-count range probe; with
    * small-integer-grained values the interpolation
    * v_i + f*(v_{i+1} - v_i) is an exact double, bit-identical to both
    * engines (the q_outlier_iqr argument at p=1/2). Returns
    * (group, med: double).
    */
  private def histMedian(hist: DataFrame, group: String,
      v: String): DataFrame = {
    val wg = Window.partitionBy(col(group))
    val wc = wg.orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = hist
      .withColumn("__n", sum(col("cnt")).over(wg))
      .withColumn("__cum", sum(col("cnt")).over(wc))
      .withColumn("__cum0", col("__cum") - col("cnt"))
      .withColumn("__i", expr("(__n - 1) div 2"))
      .withColumn("__f", expr("((__n - 1) % 2) / 2.0"))
      .withColumn("__iu", least(col("__i") + 1, col("__n") - 1))
    def vat(i: Column): Column =
      max(when(col("__cum0") <= i && i < col("__cum"),
        col(v).cast(DoubleType))).over(wg)
    d.withColumn("__med", vat(col("__i")) +
        col("__f") * (vat(col("__iu")) - vat(col("__i"))))
      .groupBy(col(group)).agg(first(col("__med")).as("med"))
  }

  def defs: Map[String, QueryDef] = Map(

    "q_a17_grouping_sets" -> QueryDef(
      (s, dir) => {
        // explicit GROUPING SETS — the general hierarchy-agg form (rollup
        // and cube are its special cases, both already gated). Spark
        // plans this as Expand (one input copy per set), so the fact is
        // pre-aggregated to the finest grain first: count/decimal-sum
        // re-aggregate exactly, Expand's input is |groups| rows instead
        // of |sets| x |fact|, and the shuffle carries the same
        // |sets| x |groups| partials either way. Same rewrite as
        // q_a12_rollup / q_a16_cube.
        val pre = T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("__n"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).as("__qty"))
        pre.groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).as("g_flag"),
            grouping(col("l_linestatus")).as("g_status"),
            sum(col("__n")).as("cnt"),
            sum(col("__qty")).cast(DoubleType).as("sum_qty"))
          .orderBy(col("g_flag"), col("g_status"),
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |   CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
             |   CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status,
             |   COUNT(*) AS cnt,
             |   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |     AS sum_qty
             | FROM lineitem
             | GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |   (l_returnflag), ())
             | ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
             |   l_linestatus NULLS FIRST""".stripMargin),
      "explicit GROUPING SETS with GROUPING() markers — one " +
        "expand+aggregate pass"),

    "q_ts_gapfill" -> QueryDef(
      (s, dir) => {
        // time-series regularization: a dense (user x day) spine left-
        // joins the observed daily sums and fills gaps with the last
        // observation (LOCF). The spine sides are tiny (users x days) and
        // broadcast; the fill is a per-user running window — at scale
        // each user's series fills independently after one shuffle on
        // user_id. Sums go through exact decimals; the fill copies
        // values, so every output is exactly an observed sum (or 0).
        val ev = T(s, dir, "events").filter(col("user_id") < 20)
        val daily = ev.groupBy(col("user_id"),
            date_format(col("event_time"), "yyyy-MM-dd").as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("dval"))
        val bounds = T(s, dir, "events").agg(
          to_date(min(col("event_time"))).as("d0"),
          to_date(max(col("event_time"))).as("d1"))
        val spine = bounds.select(explode(
            expr("sequence(d0, d1, interval 1 day)")).as("d"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
        val grid = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(spine))
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)
        grid.join(daily, Seq("user_id", "day"), "left")
          .withColumn("filled", last(col("dval"), ignoreNulls = true).over(w))
          .select(col("user_id"), col("day"),
            col("dval").isNotNull.cast("int").as("observed"),
            coalesce(col("filled"), lit(0).cast(DecimalType(18, 2)))
              .cast(DoubleType).as("locf_value"))
          .orderBy(col("user_id"), col("day"))
      },
      Some("""WITH ev AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             |     value FROM events WHERE user_id < 20),
             | daily AS (SELECT user_id, day,
             |     SUM(CAST(value AS DECIMAL(18,2))) AS dval
             |   FROM ev GROUP BY 1, 2),
             | b AS (SELECT CAST(MIN(ts) AS DATE) AS d0,
             |     CAST(MAX(ts) AS DATE) AS d1 FROM events),
             | spine AS (SELECT strftime(unnest(
             |     generate_series(d0, d1, INTERVAL 1 DAY)), '%Y-%m-%d')
             |     AS day FROM b),
             | grid AS (SELECT user_id, day
             |   FROM (SELECT DISTINCT user_id FROM ev) CROSS JOIN spine),
             | j AS (SELECT g.user_id, g.day, d.dval
             |   FROM grid g LEFT JOIN daily d USING (user_id, day))
             | SELECT user_id, day,
             |   CAST(CASE WHEN dval IS NOT NULL THEN 1 ELSE 0 END AS INT)
             |     AS observed,
             |   CAST(COALESCE(last_value(dval IGNORE NULLS) OVER (
             |     PARTITION BY user_id ORDER BY day
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |     0) AS DOUBLE) AS locf_value
             | FROM j ORDER BY user_id, day""".stripMargin),
      "time-series gap-fill: dense day spine + LOCF window, exact " +
        "decimal sums"),

    "q_f13_json_nested" -> QueryDef(
      (s, dir) => {
        // nested-JSON handling beyond scalar extraction: construct a
        // deterministic nested document (array of per-event structs) as
        // a STRING, parse it with a declared schema (from_json), explode
        // the nested array, and aggregate. The construction is plain
        // concat so both engines parse byte-identical input; parse +
        // explode are map-only.
        val ev = T(s, dir, "events").filter(col("event_id") < 500)
        val doc = concat(lit("{\"uid\":"), col("user_id"),
          lit(",\"items\":[{\"t\":\""), col("event_type"),
          lit("\",\"v\":"), col("value").cast(DecimalType(18, 2)),
          lit("},{\"t\":\"dup\",\"v\":"),
          (col("value").cast(DecimalType(18, 2)) * 2)
            .cast(DecimalType(18, 2)),
          lit("}]}"))
        val parsed = ev.select(col("event_id"), doc.as("j"))
          .withColumn("p", from_json(col("j"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("uid",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("items",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("t",
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField("v",
                      DecimalType(18, 2))))))))))
        parsed.select(col("p.uid").as("uid"),
            explode(col("p.items")).as("item"))
          .groupBy(col("item.t").as("t"))
          .agg(count(lit(1)).as("n"),
            sum(col("item.v")).cast(DoubleType).as("total"))
          .orderBy(col("t"))
      },
      Some("""WITH doc AS (SELECT event_id,
             |     '{"uid":' || user_id || ',"items":[{"t":"' || event_type
             |     || '","v":' || CAST(value AS DECIMAL(18,2))
             |     || '},{"t":"dup","v":'
             |     || CAST(CAST(CAST(value AS DECIMAL(18,2)) * 2
             |          AS DECIMAL(18,2)) AS VARCHAR)
             |     || '}]}' AS j
             |   FROM events WHERE event_id < 500),
             | items AS (
             |   SELECT json_extract_string(j, '$.items[0].t') AS t,
             |     CAST(json_extract(j, '$.items[0].v') AS DECIMAL(18,2)) AS v
             |   FROM doc
             |   UNION ALL
             |   SELECT json_extract_string(j, '$.items[1].t'),
             |     CAST(json_extract(j, '$.items[1].v') AS DECIMAL(18,2))
             |   FROM doc)
             | SELECT t, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
             | FROM items GROUP BY t ORDER BY t""".stripMargin),
      "nested JSON: schema'd from_json parse + array explode + agg " +
        "over byte-identical constructed docs"),

    "q_f14_array_funcs" -> QueryDef(
      (s, dir) => {
        // array-function battery over token arrays: sort, dedup, slice,
        // position, reverse, flatten-ish concat — all codegen'd
        // projections, gated element-for-element against DuckDB's list
        // functions. Array columns are joined to strings for the gate:
        // the harness hashes scalar cells (list cells break its sort),
        // and a space-joined rendering is still element-exact.
        val d = T(s, dir, "documents").filter(col("doc_id") < 50)
        val toks = split(trim(lower(col("text"))), "\\s+")
        d.select(
            col("doc_id"),
            size(toks).as("n"),
            concat_ws(" ", array_sort(array_distinct(toks)))
              .as("sorted_vocab"),
            concat_ws(" ", slice(toks, 1, 5)).as("first5"),
            array_position(toks, "the").cast("long").as("the_pos"),
            concat_ws(" ", reverse(slice(toks, 1, 3))).as("rev3"),
            concat_ws(" ", concat(slice(toks, 1, 2), slice(toks, 3, 2)))
              .as("cat4"),
            array_contains(toks, "spark").as("has_spark"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |   regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             |   FROM documents WHERE doc_id < 50)
             | SELECT doc_id, len(ts) AS n,
             |   COALESCE(array_to_string(
             |     list_sort(list_distinct(ts)), ' '), '') AS sorted_vocab,
             |   COALESCE(array_to_string(ts[1:5], ' '), '') AS first5,
             |   CAST(COALESCE(list_position(ts, 'the'), 0) AS BIGINT)
             |     AS the_pos,
             |   COALESCE(array_to_string(list_reverse(ts[1:3]), ' '), '')
             |     AS rev3,
             |   COALESCE(array_to_string(
             |     list_concat(ts[1:2], ts[3:4]), ' '), '') AS cat4,
             |   list_contains(ts, 'spark') AS has_spark
             | FROM t ORDER BY doc_id""".stripMargin),
      "array-function battery: sort/distinct/slice/position/reverse/" +
        "concat/contains, element-for-element vs list functions"),

    "q_cms_heavy_hitters" -> QueryDef(
      (s, dir) => {
        // mergeable Count-Min sketch (Spark's count_min_sketch
        // aggregate) vs exact counts, both computed in one pass each:
        // the sketch's estimates must bracket the exact frequency (est
        // >= exact always; est <= exact + 5N/width by the CMS bound with
        // slack). Counter merges are elementwise sums, so the estimates
        // are bit-stable at any partitioning — the 100 TB path needs
        // only the fixed 256 KB (depth 4 × width 8192 × 8 B) buffer per
        // partition, never a |vocab| shuffle.
        val probes = Seq("spark", "join", "window", "table", "data")
        val toks = T(s, dir, "documents")
          .select(explode(graft.text.TextStats.tokens(lower(col("text"))))
            .as("tok"))
        val sketch = toks.agg(
          graft.functions.CountMinSketchEstimates
            .cms_estimates(col("tok"), probes).as("est"),
          count(lit(1)).as("n_total"))
        val exact = toks.filter(col("tok").isin(probes: _*))
          .groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
        val probeIdx = probes.zipWithIndex.map { case (p, i) =>
          struct(lit(p).as("tok"), lit(i).as("idx"))
        }
        sketch.select(explode(array(probeIdx: _*)).as("p"),
            col("est"), col("n_total"))
          .select(col("p.tok").as("tok"),
            element_at(col("est"), col("p.idx") + 1).as("__est"),
            col("n_total"))
          .join(exact, Seq("tok"))
          .select(col("tok"), col("exact_count"),
            (col("__est") >= col("exact_count")).as("lower_ok"),
            (col("__est") <= col("exact_count") +
              lit(5.0) * col("n_total") / lit(8192)).as("upper_ok"))
          .orderBy(col("tok"))
      },
      Some("""WITH toks AS (SELECT
             |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
             |   FROM documents)
             | SELECT tok, COUNT(*) AS exact_count,
             |   TRUE AS lower_ok, TRUE AS upper_ok
             | FROM toks WHERE tok IN ('spark','join','window','table','data')
             | GROUP BY tok ORDER BY tok""".stripMargin),
      "mergeable Count-Min sketch aggregate: estimates bracket " +
        "exact counts, bit-stable under any merge order"),

    "q_corr_matrix" -> QueryDef(
      (s, dir) => {
        // full pairwise correlation matrix (4 measures, 6 pairs) from
        // ONE scan: all 15 sufficient statistics (4 sums, 4 sums of
        // squares, 6 cross-products, count) accumulate as exact
        // decimals in a single partial+final agg — the one-pass
        // profiling shape; a naive per-pair corr() would scan 6 times
        // and double-accumulate non-deterministically (see q_a18).
        val li = T(s, dir, "lineitem")
        val d4 = DecimalType(28, 4)
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val aggs =
          Seq(count(lit(1)).as("n")) ++
          cols.map(c => sum(col(c).cast(d4)).as(s"s_$c")) ++
          cols.map(c =>
            sum(col(c).cast(d4) * col(c).cast(d4)).as(s"ss_$c")) ++
          cols.combinations(2).map { case Seq(a, b) =>
            sum(col(a).cast(d4) * col(b).cast(d4)).as(s"sx_${a}_$b")
          }.toSeq
        val stats = li.agg(aggs.head, aggs.tail: _*)
        def r(a: String, b: String) = {
          val n = col("n").cast(DoubleType)
          val sa = col(s"s_$a").cast(DoubleType)
          val sb = col(s"s_$b").cast(DoubleType)
          val saa = col(s"ss_$a").cast(DoubleType)
          val sbb = col(s"ss_$b").cast(DoubleType)
          val sab = col(s"sx_${a}_$b").cast(DoubleType)
          round((n * sab - sa * sb) /
            sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)), 8)
        }
        // one stats row -> 6 pair rows via a map-side explode: a
        // union of per-pair selects would RE-RUN the full aggregation
        // once per branch (6 scans of the fact table per execution —
        // caught when the full-sweep median blew up under memory
        // pressure; the isolated plan hid it behind scan caching)
        val pairs = cols.combinations(2).toSeq
        stats.select(explode(array(pairs.map { case Seq(a, b) =>
            struct(lit(a).as("var_a"), lit(b).as("var_b"),
              r(a, b).as("pearson_r"))
          }: _*)).as("__p"))
          .select(col("__p.var_a"), col("__p.var_b"),
            col("__p.pearson_r"))
          .orderBy(col("var_a"), col("var_b"))
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val sums =
          (cols.map(c => s"SUM(CAST($c AS DECIMAL(28,4))) AS s_$c") ++
           cols.map(c => s"SUM(CAST($c AS DECIMAL(28,4)) * " +
             s"CAST($c AS DECIMAL(28,4))) AS ss_$c") ++
           cols.combinations(2).map { case Seq(a, b) =>
             s"SUM(CAST($a AS DECIMAL(28,4)) * " +
               s"CAST($b AS DECIMAL(28,4))) AS sx_${a}_$b"
           }).mkString(", ")
        val branches = cols.combinations(2).map { case Seq(a, b) =>
          s"""SELECT '$a' AS var_a, '$b' AS var_b,
             | ROUND((CAST(n AS DOUBLE) * sx_${a}_$b - s_$a * s_$b)
             |   / sqrt((CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)
             |        * (CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)), 8)
             |   AS pearson_r FROM st""".stripMargin
        }.mkString("\n UNION ALL ")
        s"""WITH st AS (SELECT COUNT(*) AS n, $sums FROM lineitem)
           | $branches
           | ORDER BY var_a, var_b""".stripMargin
      },
      "pairwise correlation matrix from one scan of exact-decimal " +
        "sufficient statistics (15 aggregates, single pass)"),

    "q_outlier_iqr" -> QueryDef(
      (s, dir) => {
        // Tukey-fence outlier profile per group from ONE fact scan.
        // l_quantity is integral with a small domain (<=50 distinct
        // values), so a grouped value-histogram — (group, value, cnt),
        // |groups| x |domain| rows — is a sufficient statistic for
        // BOTH exact linear-interpolated quartiles AND the outlier
        // counts. The old plan scanned lineitem twice (percentile
        // pass, then a broadcast-fence recount); this one aggregates
        // once with map-side partial combine and does everything else
        // with window functions over the tiny histogram frame.
        //
        // Quartile semantics match `percentile` / quantile_cont
        // exactly: for the 0-indexed sorted multiset of size n, the
        // p-quantile sits at rank r = p*(n-1); with p in {1/4, 3/4}
        // the rank splits into an integer index i = floor(r) and a
        // fractional part f = r - i that is an exact multiple of 1/4,
        // and value-at-index lookups are cumulative-count range
        // probes on the histogram. All inputs are small integers, so
        // the double interpolation v_i + f*(v_{i+1} - v_i) is exact
        // (bit-identical to both engines' formula).
        val li = T(s, dir, "lineitem")
        val hist = li.groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("cnt"))
        val wg = Window.partitionBy(col("l_returnflag"))
        val wc = wg.orderBy(col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val qty = col("l_quantity").cast(DoubleType)
        // cumulative-count range of each histogram row: this row
        // covers sorted indices [cum0, cum)
        val d = hist
          .withColumn("n", sum(col("cnt")).over(wg))
          .withColumn("cum", sum(col("cnt")).over(wc))
          .withColumn("cum0", col("cum") - col("cnt"))
          .withColumn("i25", expr("(n - 1) div 4"))
          .withColumn("f25", expr("((n - 1) % 4) / 4.0"))
          .withColumn("i75", expr("(3 * (n - 1)) div 4"))
          .withColumn("f75", expr("((3 * (n - 1)) % 4) / 4.0"))
          .withColumn("i25u", least(col("i25") + 1, col("n") - 1))
          .withColumn("i75u", least(col("i75") + 1, col("n") - 1))
        def vat(i: Column): Column =
          max(when(col("cum0") <= i && i < col("cum"), qty)).over(wg)
        val f = d
          .withColumn("q1", vat(col("i25")) +
            col("f25") * (vat(col("i25u")) - vat(col("i25"))))
          .withColumn("q3", vat(col("i75")) +
            col("f75") * (vat(col("i75u")) - vat(col("i75"))))
          .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
          .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
        f.groupBy(col("l_returnflag"))
          .agg(first(col("q1")).as("q1"), first(col("q3")).as("q3"),
            sum(col("cnt")).as("n"),
            sum(when(qty < col("lo") || qty > col("hi"), col("cnt"))
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH f AS (SELECT l_returnflag,
             |     quantile_cont(l_quantity, 0.25) AS q1,
             |     quantile_cont(l_quantity, 0.75) AS q3
             |   FROM lineitem GROUP BY l_returnflag)
             | SELECT li.l_returnflag, f.q1, f.q3, COUNT(*) AS n,
             |   CAST(SUM(CASE WHEN li.l_quantity
             |       < f.q1 - (f.q3 - f.q1) * 1.5
             |     OR li.l_quantity > f.q3 + (f.q3 - f.q1) * 1.5
             |     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             | FROM lineitem li JOIN f USING (l_returnflag)
             | GROUP BY li.l_returnflag, f.q1, f.q3
             | ORDER BY li.l_returnflag""".stripMargin),
      "Tukey-fence outlier profile: exact quartiles -> broadcast " +
        "fences -> integer outlier counts per group"),

    "q_moving_window" -> QueryDef(
      (s, dir) => {
        // bounded sliding-window aggregates (ROWS BETWEEN k PRECEDING):
        // per-supplier trailing-4 moving sum/min/max over the shipment
        // sequence — the frame every monitoring pipeline runs.
        // Partitioned window (parallelism = |suppliers|, state = k
        // rows); sums stay in exact decimals and cast once. Ties in
        // the order are broken by the full key so the frame contents
        // are deterministic.
        val li = T(s, dir, "lineitem").filter(col("l_suppkey") < 5)
        val ord = Seq(col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(ord: _*)
          .rowsBetween(-3, 0)
        li.select(col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
          .withColumn("mov_sum_qty",
            sum(col("l_quantity").cast(DecimalType(18, 2))).over(w)
              .cast(DoubleType))
          .withColumn("mov_min_qty", min(col("l_quantity")).over(w))
          .withColumn("mov_max_qty", max(col("l_quantity")).over(w))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("l_suppkey")).orderBy(ord: _*))
            .cast("long"))
          .filter(col("rn") <= 50)
          .drop("l_shipdate")
          .orderBy(col("l_suppkey"), col("rn"))
      },
      Some("""WITH b AS (SELECT l_suppkey, l_orderkey, l_linenumber,
             |     l_quantity, l_shipdate
             |   FROM lineitem WHERE l_suppkey < 5),
             | m AS (SELECT l_suppkey, l_orderkey, l_linenumber,
             |     l_quantity,
             |     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w
             |       AS DOUBLE) AS mov_sum_qty,
             |     MIN(l_quantity) OVER w AS mov_min_qty,
             |     MAX(l_quantity) OVER w AS mov_max_qty,
             |     CAST(row_number() OVER (PARTITION BY l_suppkey
             |       ORDER BY l_shipdate, l_orderkey, l_linenumber,
             |         l_quantity) AS BIGINT) AS rn
             |   FROM b
             |   WINDOW w AS (PARTITION BY l_suppkey
             |     ORDER BY l_shipdate, l_orderkey, l_linenumber,
             |       l_quantity
             |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
             | SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             |   mov_sum_qty, mov_min_qty, mov_max_qty, rn
             | FROM m WHERE rn <= 50 ORDER BY l_suppkey, rn""".stripMargin),
      "trailing-k sliding window (sum/min/max over ROWS 3 PRECEDING) " +
        "per supplier, deterministic frame order"),

    "q_time_weighted_avg" -> QueryDef(
      (s, dir) => {
        // time-weighted average of a sampled metric per user (the
        // correct aggregate for irregularly-sampled series — a plain
        // AVG over-weights burst periods): hold each value until the
        // next observation, weight by the exact microsecond interval.
        // Weighted sums accumulate as exact decimals (value
        // fixed-pointed to 1e6, dt in integer micros, DECIMAL(18,0)
        // products — order-independent), one double division at the
        // end. Per-user window + one grouped agg; parallelism = |users|.
        val ev = T(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value"))
          .filter(col("user_id") < 40)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val d18 = DecimalType(18, 0)
        // shared exact domain: `ts` is canonical integral micros
        // (Tables.load), which is exactly DuckDB's epoch_us(ts)
        val tUs = col("ts")
        val dt = (lead(tUs, 1).over(w) - tUs).cast(d18)
        val vScaled = floor(col("value") * 1e6).cast(d18)
        ev.withColumn("__dt", dt)
          .filter(col("__dt").isNotNull)
          .withColumn("__wv", col("__dt") * vScaled)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("__dt")).cast(DecimalType(38, 0)).as("__sdt"),
            sum(col("__wv")).cast(DecimalType(38, 0)).as("__swv"))
          .select(col("user_id"), col("n_intervals"),
            col("__sdt").cast("long").as("span_us"),
            round(col("__swv").cast(DoubleType) /
              col("__sdt").cast(DoubleType) / 1e6, 8).as("twa"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
             |     value
             |   FROM events WHERE user_id < 40),
             | i AS (SELECT user_id,
             |     lead(t) OVER (PARTITION BY user_id
             |       ORDER BY t, event_id) - t AS dt,
             |     CAST(FLOOR(value * 1e6) AS BIGINT) AS vs
             |   FROM e),
             | g AS (SELECT user_id, COUNT(*) AS n_intervals,
             |     SUM(CAST(dt AS HUGEINT)) AS sdt,
             |     SUM(CAST(dt AS HUGEINT) * CAST(vs AS HUGEINT)) AS swv
             |   FROM i WHERE dt IS NOT NULL GROUP BY user_id)
             | SELECT user_id, n_intervals,
             |   CAST(sdt AS BIGINT) AS span_us,
             |   ROUND(CAST(swv AS DOUBLE) / CAST(sdt AS DOUBLE) / 1e6, 8)
             |     AS twa
             | FROM g ORDER BY user_id""".stripMargin),
      "time-weighted average per user: exact decimal interval-weighted " +
        "sums over irregular samples, one division at the end"),

    "q_robust_scale" -> QueryDef(
      (s, dir) => {
        // robust scaling (median/MAD normalization — the outlier-proof
        // alternative to z-scores for heavy-tailed features). Round-12:
        // the two exact grouped `percentile` passes (each buffering 60 M
        // values per group at sf10) are replaced by the q_outlier_iqr
        // grouped value-histogram — ONE fact scan with map-side partial
        // combine into (group, value, cnt); the exact interpolated
        // median AND the exact MAD (deviations re-histogrammed from the
        // tiny frame, never from rows) come from window math over
        // <=|groups|x|domain| rows. Same exactness argument as
        // q_outlier_iqr: rank splits into integer index + exact 1/2
        // fraction, values are small ints (deviations exact k.0/k.5
        // doubles), so v_i + f*(v_{i+1}-v_i) is bit-identical to
        // percentile()/quantile_cont. The sampled-row rescale join is
        // unchanged (broadcast 3-row stats).
        val li = T(s, dir, "lineitem")
        val hist = li.groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("cnt"))
        val med = histMedian(hist, "l_returnflag", "l_quantity")
        val devHist = hist.join(broadcast(med), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"),
            abs(col("l_quantity").cast(DoubleType) - col("med"))
              .as("dev"))
          .agg(sum(col("cnt")).as("cnt"))
        val mad = histMedian(devHist, "l_returnflag", "dev")
          .withColumnRenamed("med", "mad")
        // lazily checkpoint the |groups|-row stats frame: the hist
        // subtree is referenced by BOTH median paths and the final
        // sort's sampling job re-executes its child — without the
        // checkpoint the static plan carries 8 copies of the fact scan
        // (exchange reuse recovers some, the sampler none). One stats
        // job, 3 rows pinned, everything downstream reads them.
        val stats = med.join(mad, Seq("l_returnflag"))
          .localCheckpoint(false)
        li.filter(col("l_orderkey") <= 320)
          .join(broadcast(stats), Seq("l_returnflag"))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("med"), col("mad"),
            round((col("l_quantity") - col("med")) / col("mad"), 8)
              .as("scaled"))
          // (orderkey, linenumber) is NOT unique in this synthetic
          // lineitem — total order needs the flag + value too
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("scaled"))
      },
      Some("""WITH m AS (SELECT l_returnflag,
             |     quantile_cont(l_quantity, 0.5) AS med
             |   FROM lineitem GROUP BY l_returnflag),
             | d AS (SELECT li.l_returnflag,
             |     quantile_cont(abs(li.l_quantity - m.med), 0.5) AS mad,
             |     MIN(m.med) AS med
             |   FROM lineitem li JOIN m USING (l_returnflag)
             |   GROUP BY li.l_returnflag)
             | SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
             |   d.med, d.mad,
             |   ROUND((li.l_quantity - d.med) / d.mad, 8) AS scaled
             | FROM lineitem li JOIN d USING (l_returnflag)
             | WHERE li.l_orderkey <= 320
             | ORDER BY li.l_orderkey, li.l_linenumber,
             |   li.l_returnflag, scaled""".stripMargin),
      "robust scaling: exact median/MAD per group, broadcast back — " +
        "the outlier-proof normalization"),

    "q_a18_corr_ols" -> QueryDef(
      (s, dir) => {
        // Pearson correlation + closed-form OLS (slope/intercept) from
        // exact-decimal sufficient statistics: Sx, Sy, Sxx, Syy, Sxy
        // accumulate as exact decimals (order-independent — the builtin
        // corr() aggregates doubles via co-moments, whose value depends
        // on merge order and can't hash-gate), and the floating formula
        // is applied once at the end with an identical shape on both
        // sides. One partial+final agg pass; the 100 TB cost is the scan.
        val li = T(s, dir, "lineitem")
        val d4 = DecimalType(28, 4)
        val x = col("l_quantity").cast(d4)
        val y = col("l_discount").cast(d4)
        val stats = li.agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"),
          sum(x * y).as("sxy"))
        val n = col("n").cast(DoubleType)
        val sx = col("sx").cast(DoubleType)
        val sy = col("sy").cast(DoubleType)
        val sxx = col("sxx").cast(DoubleType)
        val syy = col("syy").cast(DoubleType)
        val sxy = col("sxy").cast(DoubleType)
        val cov = n * sxy - sx * sy
        stats.select(
          col("n"),
          round(cov / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 8)
            .as("pearson_r"),
          round(cov / (n * sxx - sx * sx), 8).as("ols_slope"),
          round((sy - (cov / (n * sxx - sx * sx)) * sx) / n, 8)
            .as("ols_intercept"))
      },
      Some("""WITH t AS (SELECT CAST(l_quantity AS DECIMAL(28,4)) AS x,
             |     CAST(l_discount AS DECIMAL(28,4)) AS y FROM lineitem),
             | s AS (SELECT COUNT(*) AS n,
             |     CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             |     CAST(SUM(x*x) AS DOUBLE) AS sxx,
             |     CAST(SUM(y*y) AS DOUBLE) AS syy,
             |     CAST(SUM(x*y) AS DOUBLE) AS sxy
             |   FROM t)
             | SELECT n,
             |   ROUND((n*sxy - sx*sy)
             |     / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 8) AS pearson_r,
             |   ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 8) AS ols_slope,
             |   ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 8)
             |     AS ols_intercept
             | FROM s""".stripMargin),
      "correlation + closed-form OLS from exact-decimal sufficient " +
        "stats (order-independent, unlike double co-moment aggregates)"),

    "q_dq_checks" -> QueryDef(
      (s, dir) => {
        // Data-quality constraint battery (the dbt-test shape): key
        // uniqueness, referential integrity, not-null, range, and
        // accepted-values checks, each returning its VIOLATION count so
        // the row set doubles as the quality report a pipeline journals.
        // Each check is one agg or one anti join — RI uses a broadcast
        // anti join against the (small) parent keys; nothing scans twice.
        val li = T(s, dir, "lineitem")
        val ord = T(s, dir, "orders")
        val cust = T(s, dir, "customer")
        val uniq = li.groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(coalesce(sum(col("c")), lit(0L)).as("violations"))
          .select(lit("pk_unique").as("check"), col("violations"))
        val ri = ord.join(cust,
            ord("o_custkey") === cust("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("ri_orders_customer").as("check"), col("violations"))
        val notnull = li.agg(
            sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
              .as("violations"))
          .select(lit("shipdate_not_null").as("check"), col("violations"))
        val range = li.agg(
            sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
              .otherwise(0L)).as("violations"))
          .select(lit("quantity_range").as("check"), col("violations"))
        val accepted = li.agg(
            sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
              .otherwise(0L)).as("violations"))
          .select(lit("returnflag_values").as("check"), col("violations"))
        uniq.unionByName(ri).unionByName(notnull).unionByName(range)
          .unionByName(accepted)
          .orderBy(col("check"))
      },
      Some("""SELECT 'pk_unique' AS "check",
             |   CAST(COALESCE((SELECT SUM(c) FROM (
             |     SELECT COUNT(*) AS c FROM lineitem
             |     GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
             |     0) AS BIGINT) AS violations
             | UNION ALL
             | SELECT 'ri_orders_customer',
             |   (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             | UNION ALL
             | SELECT 'shipdate_not_null',
             |   (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
             | UNION ALL
             | SELECT 'quantity_range',
             |   (SELECT COUNT(*) FROM lineitem
             |    WHERE l_quantity < 1 OR l_quantity > 50)
             | UNION ALL
             | SELECT 'returnflag_values',
             |   (SELECT COUNT(*) FROM lineitem
             |    WHERE l_returnflag NOT IN ('A','N','R'))
             | ORDER BY "check" """.stripMargin),
      "data-quality constraint battery: uniqueness/RI/not-null/range/" +
        "accepted-values violation counts in one report"),

    "q_unpivot_melt" -> QueryDef(
      (s, dir) => {
        // UNPIVOT/melt — the inverse of q_a15_pivot: wide measures to
        // long form, then a per-measure profile. The aggregate is PUSHED
        // THROUGH the Expand (the q_a17_grouping_sets rewrite, applied
        // to unpivot): each measure's count/sum/min/max distributes over
        // the stack labels, so the fact is profiled ONCE in wide form —
        // 16 agg updates per row, no row copies — and stack() melts the
        // 1-row aggregate instead of the 60 M-row fact. The pre-rewrite
        // shape (stack first, 4x row Expand through the agg) was the
        // worst super-linear ladder line left at r13 (sf1→sf10 ratio
        // 5.4x); values are identical — same per-measure multisets, same
        // exact-decimal sums (umelt_diff [0,0]).
        val li = T(s, dir, "lineitem")
        def m(c: String, tag: String) = Seq(
          sum(col(c).cast(DecimalType(18, 2)))
            .cast(DoubleType).as(s"t_$tag"),
          min(col(c)).as(s"mn_$tag"), max(col(c)).as(s"mx_$tag"))
        li.agg(count(lit(1)).as("n"),
            (m("l_quantity", "q") ++ m("l_extendedprice", "e") ++
              m("l_discount", "d") ++ m("l_tax", "t")): _*)
          .select(expr(
            "stack(4, 'quantity', n, t_q, mn_q, mx_q, " +
              "'extendedprice', n, t_e, mn_e, mx_e, " +
              "'discount', n, t_d, mn_d, mx_d, " +
              "'tax', n, t_t, mn_t, mx_t) as (measure, n, total, mn, mx)"))
          .orderBy(col("measure"))
      },
      Some("""WITH long AS (
             |   SELECT 'quantity' AS measure, l_quantity AS val
             |     FROM lineitem
             |   UNION ALL SELECT 'extendedprice', l_extendedprice
             |     FROM lineitem
             |   UNION ALL SELECT 'discount', l_discount FROM lineitem
             |   UNION ALL SELECT 'tax', l_tax FROM lineitem)
             | SELECT measure, COUNT(*) AS n,
             |   CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |   MIN(val) AS mn, MAX(val) AS mx
             | FROM long GROUP BY measure ORDER BY measure""".stripMargin),
      "UNPIVOT/melt via stack(): map-side Expand to long form, one " +
        "grouped profile pass over all measures"),

    "q_weighted_median" -> QueryDef(
      (s, dir) => {
        // exact weighted median (revenue-weighted quantity) per flag:
        // reduce to (flag, quantity) grain with exact decimal weight
        // sums FIRST — the ordered window then runs over <= 50 distinct
        // quantities per flag, not over rows (the bounded-cardinality
        // trick q_auc_rank uses), so there is no per-row sort anywhere.
        // The crossing point 2*cum >= total stays in exact decimal.
        val li = T(s, dir, "lineitem")
        val g = li.groupBy(col("l_returnflag").as("flag"),
            col("l_quantity").as("q"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .as("w"))
        val cum = Window.partitionBy(col("flag")).orderBy(col("q"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = Window.partitionBy(col("flag"))
        g.withColumn("cw", sum(col("w")).over(cum))
          .withColumn("tw", sum(col("w")).over(tot))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy(col("flag"))
          .agg(min(col("q")).as("wmedian"),
            min(col("tw")).cast(DoubleType).as("total_weight"))
          .orderBy(col("flag"))
      },
      Some("""WITH g AS (SELECT l_returnflag AS flag, l_quantity AS q,
             |     SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
             |   FROM lineitem GROUP BY 1, 2),
             | c AS (SELECT *, SUM(w) OVER (PARTITION BY flag ORDER BY q
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |       AS cw,
             |     SUM(w) OVER (PARTITION BY flag) AS tw FROM g)
             | SELECT flag, MIN(q) AS wmedian,
             |   CAST(MIN(tw) AS DOUBLE) AS total_weight
             | FROM c WHERE cw * 2 >= tw
             | GROUP BY flag ORDER BY flag""".stripMargin),
      "exact weighted median per group: pre-reduce to value grain, " +
        "ordered window over distinct values only, exact-decimal " +
        "crossing test"),

    "q_welch_ttest" -> QueryDef(
      (s, dir) => {
        // Welch's two-sample t statistic over exact-decimal sufficient
        // stats (n, sum, sum of squares per group — one partial+final
        // agg pass); the floating formula is applied once at the end
        // with an identical expression shape on both engines and
        // rounded — the round-stats-then-apply recipe q_a18_corr_ols
        // proved bit-stable. Groups: urgent/high-priority orders vs the
        // rest, measure o_totalprice.
        val o = T(s, dir, "orders")
        val d2 = DecimalType(18, 2)
        val d4 = DecimalType(38, 4)
        val stats = o.select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              "high").otherwise("low").as("grp"),
            col("o_totalprice").cast(d2).as("v"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"),
            sum(col("v")).cast(DoubleType).as("sv"),
            sum(col("v").cast(d4) * col("v")).cast(DoubleType).as("svv"))
        val w = stats.agg(
          max(when(col("grp") === "high", col("n"))).as("n1"),
          max(when(col("grp") === "high", col("sv"))).as("s1"),
          max(when(col("grp") === "high", col("svv"))).as("ss1"),
          max(when(col("grp") === "low", col("n"))).as("n2"),
          max(when(col("grp") === "low", col("sv"))).as("s2"),
          max(when(col("grp") === "low", col("svv"))).as("ss2"))
        val m1 = col("s1") / col("n1")
        val m2 = col("s2") / col("n2")
        val se2 = (col("ss1") - col("s1") * col("s1") / col("n1")) /
            (col("n1") - 1) / col("n1") +
          (col("ss2") - col("s2") * col("s2") / col("n2")) /
            (col("n2") - 1) / col("n2")
        w.select(col("n1"), col("n2"),
          round(m1 - m2, 6).as("mean_diff"),
          round((m1 - m2) / sqrt(se2), 6).as("welch_t"))
      },
      Some("""WITH t AS (SELECT
             |     CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |       THEN 'high' ELSE 'low' END AS grp,
             |     CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
             | s AS (SELECT grp, COUNT(*) AS n,
             |     CAST(SUM(v) AS DOUBLE) AS sv,
             |     CAST(SUM(CAST(v AS DECIMAL(38,4)) * v) AS DOUBLE)
             |       AS svv
             |   FROM t GROUP BY grp),
             | w AS (SELECT
             |     MAX(CASE WHEN grp='high' THEN n END) AS n1,
             |     MAX(CASE WHEN grp='high' THEN sv END) AS s1,
             |     MAX(CASE WHEN grp='high' THEN svv END) AS ss1,
             |     MAX(CASE WHEN grp='low' THEN n END) AS n2,
             |     MAX(CASE WHEN grp='low' THEN sv END) AS s2,
             |     MAX(CASE WHEN grp='low' THEN svv END) AS ss2 FROM s)
             | SELECT n1, n2, ROUND(s1/n1 - s2/n2, 6) AS mean_diff,
             |   ROUND((s1/n1 - s2/n2) / sqrt(
             |     (ss1 - s1*s1/n1)/(n1-1)/n1
             |       + (ss2 - s2*s2/n2)/(n2-1)/n2), 6) AS welch_t
             | FROM w""".stripMargin),
      "Welch two-sample t from exact-decimal sufficient stats, one " +
        "pass, round-stats-then-apply float minting"),

    "q_heavy_changes" -> QueryDef(
      (s, dir) => {
        // heavy-change detection — the LOCALIZATION companion to the
        // distribution drift tests (KS/PSI/MW say "the distribution
        // moved"; this says WHICH keys moved): per part, the shipped-row
        // share of each era in exact ppm (ldiv over conditional counts
        // from ONE scan — no per-era re-scan, no join), ranked by
        // absolute share change. Scale shape: one keyed conditional
        // agg (shuffle = |parts|), era totals ride a 1-row broadcast,
        // and the top-k is TakeOrdered (no global sort materialized).
        // Ties break by part key, so the cut is deterministic.
        val era = col("l_shipdate") <
          lit("1997-01-01 00:00:00").cast(TimestampNTZType)
        val per = T(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(when(era, 1L).otherwise(0L)).as("cnt_a"),
            sum(when(era, 0L).otherwise(1L)).as("cnt_b"))
        val tot = per.agg(sum(col("cnt_a")).as("na"),
          sum(col("cnt_b")).as("nb"))
        // scaledDiv widens internally; a long cnt*1e6 pre-multiply is
        // the q_cohens_kappa sf10 overflow class
        val shareA = scaledDiv(col("cnt_a"), col("na"), 1000000L)
        val shareB = scaledDiv(col("cnt_b"), col("nb"), 1000000L)
        per.crossJoin(broadcast(tot))
          .select(col("l_partkey"), col("cnt_a"), col("cnt_b"),
            abs(shareA - shareB).as("delta_ppm"))
          .orderBy(desc("delta_ppm"), col("l_partkey"))
          .limit(15)
      },
      Some("""WITH per AS (SELECT l_partkey,
             |     CAST(SUM(CASE WHEN l_shipdate <
             |       TIMESTAMP '1997-01-01 00:00:00' THEN 1 ELSE 0 END)
             |       AS BIGINT) AS cnt_a,
             |     CAST(SUM(CASE WHEN l_shipdate <
             |       TIMESTAMP '1997-01-01 00:00:00' THEN 0 ELSE 1 END)
             |       AS BIGINT) AS cnt_b
             |   FROM lineitem GROUP BY 1),
             | t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             |     CAST(SUM(cnt_b) AS BIGINT) AS nb FROM per)
             | SELECT l_partkey, cnt_a, cnt_b,
             |   ABS((cnt_a * 1000000 - (cnt_a * 1000000 % na)) // na
             |     - (cnt_b * 1000000 - (cnt_b * 1000000 % nb)) // nb)
             |     AS delta_ppm
             | FROM per CROSS JOIN t
             | ORDER BY delta_ppm DESC, l_partkey LIMIT 15""".stripMargin),
      "heavy-change detection: per-key era shares in exact ppm from one " +
        "conditional-agg scan, deterministic top-k movers"),

    "q_k_anonymity" -> QueryDef(
      (s, dir) => {
        // k-anonymity audit — the governance counterpart to the PII
        // scrub (q_pii_scrub removes direct identifiers; this measures
        // re-identification risk from QUASI-identifiers): group by the
        // QI tuple (nation, segment, account-balance band), then report
        // the anonymity floor min_k, the count/mass of groups below
        // k=5, and the at-risk row share in exact ppm (the suppression
        // budget a release would need). One keyed agg + one O(groups)
        // rollup — the QI-grain frame is the only shuffle, bounded by
        // the QI domain, not the row count.
        val g = T(s, dir, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast(LongType).as("bal_band"))
          .agg(count(lit(1)).as("k"))
        g.agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"),
            min(col("k")).as("min_k"),
            sum(when(col("k") < 5, 1L).otherwise(0L))
              .as("groups_below_5"),
            sum(when(col("k") < 5, col("k")).otherwise(0L))
              .as("rows_below_5"))
          .select(col("n_groups"), col("n_rows"), col("min_k"),
            col("groups_below_5"), col("rows_below_5"),
            scaledDiv(col("rows_below_5"), col("n_rows"), 1000000L)
              .as("risk_ppm"))
      },
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment,
             |     CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             |     COUNT(*) AS k
             |   FROM customer GROUP BY 1, 2, 3),
             | a AS (SELECT COUNT(*) AS n_groups,
             |     CAST(SUM(k) AS BIGINT) AS n_rows,
             |     CAST(MIN(k) AS BIGINT) AS min_k,
             |     CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             |       AS groups_below_5,
             |     CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             |       AS rows_below_5
             |   FROM g)
             | SELECT n_groups, n_rows, min_k, groups_below_5,
             |   rows_below_5,
             |   (rows_below_5 * 1000000
             |     - (rows_below_5 * 1000000 % n_rows)) // n_rows
             |     AS risk_ppm
             | FROM a""".stripMargin),
      "k-anonymity audit: QI-grain group sizes, anonymity floor, " +
        "below-k mass and exact-ppm at-risk share"),

    "q_mann_whitney" -> QueryDef(
      (s, dir) => {
        // two-sample Mann–Whitney U (rank-sum) z-test between event-type
        // value distributions — the nonparametric drift test next to
        // Welch's t (mean shift) and KS (max ECDF gap): U detects
        // stochastic dominance. Same bounded-cardinality recipe as
        // q_auc_rank: reduce to CENT grain first (value range × 100
        // buckets, independent of row count), one ordered window over
        // the grain accumulates the other group's counts strictly
        // below; 2U = Σ na_v·(2·cumb_below + nb_v) and ΣT = Σ(t³−t)
        // accumulate in DECIMAL(38,0) (round-8, verdict #6: the BIGINT
        // forms overflow Long — and under ANSI, throw — at ~2e6 tied
        // rows per cent bucket / ~3e9 rows per side, i.e. exactly the
        // target scale; ExactStatsOverflowSpec proves the widened form
        // correct where the narrow form errors). The tie-corrected
        // normal approximation
        // z = (U − na·nb/2) / sqrt(na·nb/12·((n+1) − ΣT/(n(n−1))))
        // mints float once, identically shaped on both engines, rounded
        // once; 2U is emitted as a once-minted DOUBLE on both sides
        // (decimal/int128 output types are not pandas-hash-stable — see
        // tools/lint_oracles.py).
        val e = T(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
        val g = e.select(
            floor(col("value") * 100).cast(LongType).as("v"),
            when(col("event_type") === "click", 1L).otherwise(0L)
              .as("ia"))
          .groupBy(col("v"))
          .agg(sum(col("ia")).as("na_v"),
            sum(lit(1L) - col("ia")).as("nb_v"))
        graft.operators.ExactStats.mannWhitneyZ(g)
      },
      // 2U / tie products in HUGEINT (DuckDB's exact int128 — the twin
      // of the engine's decimal(38,0) widening); u2 surfaces as a
      // once-minted DOUBLE on both sides
      Some("""WITH e AS (SELECT
             |     CAST(FLOOR(value * 100) AS BIGINT) AS v,
             |     CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
             |       AS ia
             |   FROM events WHERE event_type IN ('click', 'purchase')),
             | g AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS na_v,
             |     CAST(SUM(1 - ia) AS BIGINT) AS nb_v
             |   FROM e GROUP BY v),
             | t AS (SELECT na_v, nb_v,
             |     CAST(na_v AS HUGEINT)
             |       * (2 * COALESCE(CAST(SUM(nb_v) OVER (ORDER BY v
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         AS HUGEINT), 0) + nb_v) AS t2u,
             |     CAST(na_v + nb_v AS HUGEINT) * (na_v + nb_v)
             |       * (na_v + nb_v) - (na_v + nb_v) AS tie
             |   FROM g),
             | a AS (SELECT CAST(SUM(na_v) AS BIGINT) AS na,
             |     CAST(SUM(nb_v) AS BIGINT) AS nb,
             |     SUM(t2u) AS u2, SUM(tie) AS tsum FROM t)
             | SELECT na, nb, CAST(u2 AS DOUBLE) AS u2,
             |   ROUND((CAST(u2 AS DOUBLE) / 2.0
             |       - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0) /
             |     sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
             |       ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
             |         - CAST(tsum AS DOUBLE) /
             |           ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) *
             |            (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)
             |              - 1.0)))), 6) AS mw_z
             | FROM a""".stripMargin),
      "Mann–Whitney U drift z-test: cent-grain rank accumulation " +
        "(bounded window), decimal-widened exact 2U and tie sums, one " +
        "float mint"),

    "q_wilson_ci" -> QueryDef(
      (s, dir) => {
        // Wilson 95% score interval per group — the binomial CI that
        // stays inside [0,1] at small n (unlike the Wald interval), the
        // right uncertainty band for per-segment success rates. One
        // keyed count pass produces exact (n, k); the float formula is
        // applied once with literal z-constants (1.96, z^2=3.8416,
        // z^2/2=1.9208, z^4/4=0.9604) in an identical shape on both
        // engines, rounded once.
        val o = T(s, dir, "orders")
        val st = o.groupBy(col("o_orderpriority").as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
              .as("k"))
        val n = col("n").cast(DoubleType)
        val p = col("k").cast(DoubleType) / n
        val half = lit(1.96) * sqrt(p * (lit(1) - p) / n +
          lit(0.9604) / (n * n))
        val denom = lit(1) + lit(3.8416) / n
        st.select(col("grp"), col("n"), col("k"),
            round(p, 6).as("p_hat"),
            round((p + lit(1.9208) / n - half) / denom, 6).as("wilson_lo"),
            round((p + lit(1.9208) / n + half) / denom, 6).as("wilson_hi"))
          .orderBy(col("grp"))
      },
      Some("""WITH s AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
             |     CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0
             |       END) AS BIGINT) AS k
             |   FROM orders GROUP BY 1)
             | SELECT grp, n, k,
             |   ROUND(CAST(k AS DOUBLE)/n, 6) AS p_hat,
             |   ROUND((CAST(k AS DOUBLE)/n + 1.9208/n
             |     - 1.96*sqrt((CAST(k AS DOUBLE)/n)
             |         *(1 - CAST(k AS DOUBLE)/n)/n + 0.9604/(n*n)))
             |     / (1 + 3.8416/n), 6) AS wilson_lo,
             |   ROUND((CAST(k AS DOUBLE)/n + 1.9208/n
             |     + 1.96*sqrt((CAST(k AS DOUBLE)/n)
             |         *(1 - CAST(k AS DOUBLE)/n)/n + 0.9604/(n*n)))
             |     / (1 + 3.8416/n), 6) AS wilson_hi
             | FROM s ORDER BY grp""".stripMargin),
      "Wilson score interval per group: exact keyed counts, one float " +
        "mint with literal z-constants"),

    "q_autocorr_lag" -> QueryDef(
      (s, dir) => {
        // lag-1 autocorrelation of the daily value series — the
        // burstiness/trend diagnostic for ingest monitoring. Day grain
        // first (keyed agg), lag pairs via an ordered window over the
        // BOUNDED day grain (30 rows here, |days| generally — never raw
        // events), then Pearson over exact-decimal sufficient stats
        // with the q_a18_corr_ols float recipe.
        val d28 = DecimalType(28, 4)
        val daily = T(s, dir, "events")
          .groupBy(expr("ts div 86400000000").as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
        val w = Window.orderBy(col("day"))
        val pairs = daily
          .select(col("day"), col("v").cast(d28).as("x"),
            lead(col("v"), 1).over(w).cast(d28).as("y"))
          .filter(col("y").isNotNull)
        val st = pairs.agg(count(lit(1)).as("n"),
          sum(col("x")).cast(DoubleType).as("sx"),
          sum(col("y")).cast(DoubleType).as("sy"),
          sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
          sum(col("y") * col("y")).cast(DoubleType).as("syy"),
          sum(col("x") * col("y")).cast(DoubleType).as("sxy"))
        val n = col("n").cast(DoubleType)
        st.select(col("n").as("n_pairs"),
          round((n * col("sxy") - col("sx") * col("sy")) /
            sqrt((n * col("sxx") - col("sx") * col("sx")) *
              (n * col("syy") - col("sy") * col("sy"))), 8)
            .as("autocorr_lag1"))
      },
      Some("""WITH d AS (SELECT epoch_us(ts)//86400000000 AS day,
             |     SUM(CAST(value AS DECIMAL(18,2))) AS v
             |   FROM events GROUP BY 1),
             | p AS (SELECT CAST(v AS DECIMAL(28,4)) AS x,
             |     CAST(lead(v) OVER (ORDER BY day) AS DECIMAL(28,4)) AS y
             |   FROM d),
             | t AS (SELECT x, y FROM p WHERE y IS NOT NULL),
             | s AS (SELECT COUNT(*) AS n,
             |     CAST(SUM(x) AS DOUBLE) AS sx,
             |     CAST(SUM(y) AS DOUBLE) AS sy,
             |     CAST(SUM(x*x) AS DOUBLE) AS sxx,
             |     CAST(SUM(y*y) AS DOUBLE) AS syy,
             |     CAST(SUM(x*y) AS DOUBLE) AS sxy FROM t)
             | SELECT n AS n_pairs,
             |   ROUND((n*sxy - sx*sy)
             |     / sqrt((n*sxx - sx*sx)*(n*syy - sy*sy)), 8)
             |     AS autocorr_lag1
             | FROM s""".stripMargin),
      "lag-1 autocorrelation of the daily series: bounded day-grain " +
        "window, exact-decimal sufficient stats"),

    "q_benford_audit" -> QueryDef(
      (s, dir) => {
        // Benford first-significant-digit audit — the fraud/synthetic-
        // data screen: observed first-digit counts vs the Benford
        // expectation log10(1+1/d), carried as exact parts-per-million
        // LITERALS (no in-query logarithms to disagree on). Deviation =
        // floor(observed*1e6/total) − expected_ppm, all in exact long
        // division (ldiv). One keyed count + a 9-row broadcast join.
        import s.implicits._
        val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
            4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
            8 -> 51153L, 9 -> 45757L)
          .toDF("digit", "expected_ppm")
          .select(col("digit").cast(LongType).as("digit"),
            col("expected_ppm"))
        val digits = T(s, dir, "orders")
          .filter(col("o_totalprice") >= 1)
          .select(expr(
            "cast(substring(cast(cast(floor(o_totalprice) as bigint) " +
              "as string), 1, 1) as bigint)").as("digit"))
        val obs = digits.groupBy(col("digit"))
          .agg(count(lit(1)).as("observed"))
        val tot = digits.agg(count(lit(1)).as("total"))
        broadcast(expected).join(obs, Seq("digit"), "left")
          .crossJoin(broadcast(tot))
          .select(col("digit"),
            coalesce(col("observed"), lit(0L)).as("observed"),
            col("expected_ppm"),
            (scaledDiv(coalesce(col("observed"), lit(0L)),
              col("total"), 1000000L) - col("expected_ppm")).as("dev_ppm"))
          .orderBy(col("digit"))
      },
      Some("""WITH digits AS (SELECT CAST(substr(CAST(CAST(
             |       FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
             |       AS BIGINT) AS digit
             |   FROM orders WHERE o_totalprice >= 1),
             | o AS (SELECT digit, COUNT(*) AS observed FROM digits
             |   GROUP BY digit),
             | n AS (SELECT COUNT(*) AS total FROM digits),
             | e AS (SELECT * FROM (VALUES (1,301030),(2,176091),
             |     (3,124939),(4,96910),(5,79181),(6,66947),(7,57992),
             |     (8,51153),(9,45757)) AS t(digit, expected_ppm))
             | SELECT CAST(e.digit AS BIGINT) AS digit,
             |   COALESCE(o.observed, 0) AS observed,
             |   CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
             |   CAST((COALESCE(o.observed,0)*1000000
             |     - (COALESCE(o.observed,0)*1000000 % n.total)) // n.total
             |     - e.expected_ppm AS BIGINT) AS dev_ppm
             | FROM e LEFT JOIN o ON o.digit = e.digit CROSS JOIN n
             | ORDER BY e.digit""".stripMargin),
      "Benford first-digit audit: literal ppm expectations, exact " +
        "long-division deviations, 9-row broadcast join"),

    "q_f15_null_edge_funcs" -> QueryDef(
      (s, dir) => {
        // null-handling + edge scalar battery: NULLIF/COALESCE/IFNULL
        // chains, null-safe equality (<=> vs IS NOT DISTINCT FROM),
        // GREATEST/LEAST, bitwise and/xor/shift, negative-dividend mod
        // (both engines follow the dividend sign), and SIGN. Cross-
        // engine traps documented in the shapes: double->int casts go
        // through FLOOR (DuckDB's CAST rounds, Spark truncates), and
        // DuckDB's ^ is power so its xor() pairs with Spark's ^. Pure
        // map over a pushed-down slice.
        T(s, dir, "events").filter(col("event_id") < 1000)
          .select(col("event_id"),
            expr("coalesce(nullif(event_type, 'error'), 'fallback')")
              .as("c_coalesce"),
            expr("ifnull(nullif(user_id, 0), -1)").as("c_ifnull"),
            (col("user_id") <=> expr("nullif(user_id, 0)"))
              .as("c_nullsafe_eq"),
            greatest(col("user_id") % 7,
              expr("cast(floor(value) as bigint) % 7")).as("c_greatest"),
            least(col("user_id") % 7,
              expr("cast(floor(value) as bigint) % 7")).as("c_least"),
            expr("user_id & 255").as("c_band"),
            expr("user_id ^ 170").as("c_bxor"),
            expr("shiftleft(user_id, 2)").as("c_shl"),
            (expr("-user_id") % 7).as("c_negmod"),
            expr("cast(sign(value - 250.0d) as bigint)").as("c_sign"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |   COALESCE(NULLIF(event_type, 'error'), 'fallback')
             |     AS c_coalesce,
             |   IFNULL(NULLIF(user_id, 0), -1) AS c_ifnull,
             |   (user_id IS NOT DISTINCT FROM NULLIF(user_id, 0))
             |     AS c_nullsafe_eq,
             |   GREATEST(user_id % 7, CAST(FLOOR(value) AS BIGINT) % 7)
             |     AS c_greatest,
             |   LEAST(user_id % 7, CAST(FLOOR(value) AS BIGINT) % 7)
             |     AS c_least,
             |   (user_id & 255) AS c_band,
             |   xor(user_id, 170) AS c_bxor,
             |   (user_id << 2) AS c_shl,
             |   (-user_id) % 7 AS c_negmod,
             |   CAST(SIGN(value - 250.0) AS BIGINT) AS c_sign
             | FROM events WHERE event_id < 1000
             | ORDER BY event_id""".stripMargin),
      "null-handling + edge scalar battery: nullif/coalesce/ifnull, " +
        "null-safe equality, greatest/least, bit ops, signed mod, sign"),

    "q_skyline_pareto" -> QueryDef(
      (s, dir) => {
        // 2-D skyline / Pareto front (maximize quantity, minimize
        // price): a point is on the front iff its quantity beats every
        // strictly cheaper point's. Pre-reduce to price grain (max qty
        // per exact cent price — decimal cents, since a double*100 cast
        // truncates on Spark and rounds on DuckDB), then the front test
        // is one distributed running-max scan (PrefixSum.runningMax,
        // the two-phase range-partitioned form) — never a single-task
        // global window over ~|distinct prices| rows.
        // round-14 adjudication: the SQL-native bucket-scan runningMax
        // (kept for the SUM scans, where it won) was built and A/B'd
        // here too and REJECTED — +6.9%/+10.4%/+13% at sf0.1, +9% at
        // sf1 against ±4% controls; this consumer needs the per-row
        // flag, i.e. the join-back of bucket offsets onto grain rows,
        // and the RDD form's persist+two-cached-pass shape stays
        // cheaper for that (see the runningMax scaladoc; rejected plan:
        // plans/r14/q_skyline_pareto_sqlnative_rejected.txt).
        val g = T(s, dir, "lineitem")
          .groupBy((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("price_cents"))
          .agg(max(col("l_quantity").cast(LongType)).as("qty"))
        graft.operators.PrefixSum
          .runningMax(g, "price_cents", "qty")
          .filter(col("is_new_max"))
          .select(col("price_cents"), col("qty"))
          .orderBy(col("price_cents"))
      },
      Some("""WITH g AS (SELECT CAST(CAST(l_extendedprice AS
             |       DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
             |     CAST(MAX(l_quantity) AS BIGINT) AS qty
             |   FROM lineitem GROUP BY 1),
             | w AS (SELECT price_cents, qty,
             |     MAX(qty) OVER (ORDER BY price_cents
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |       AS pm FROM g)
             | SELECT price_cents, qty FROM w
             | WHERE pm IS NULL OR qty > pm
             | ORDER BY price_cents""".stripMargin),
      "2-D skyline/Pareto front via the distributed two-phase " +
        "running-max scan (no single-task global window)"),

    "q_f16_lambda_funcs" -> QueryDef(
      (s, dir) => {
        // higher-order function battery: transform / filter / aggregate
        // (fold) / size-of-filter with real lambdas, gated element-for-
        // element against DuckDB's list lambdas. All lambda evaluation
        // is codegen'd row-local array work — map-only, no shuffle
        // before the presentation sort; arrays render to strings for
        // the gate (the q_f14 lesson: the harness hashes scalar cells).
        val d = T(s, dir, "documents").filter(col("doc_id") < 50)
        val toks = split(trim(lower(col("text"))), "\\s+")
        d.select(col("doc_id"),
            concat_ws(" ",
              transform(toks, x => length(x).cast("string"))).as("lens"),
            concat_ws(" ", filter(toks, x => length(x) > 3))
              .as("long_toks"),
            aggregate(toks, lit(0), (a, x) => a + length(x))
              .cast(LongType).as("total_len"),
            size(filter(toks, x => x.contains("e"))).cast(LongType)
              .as("n_with_e"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |     regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             |   FROM documents WHERE doc_id < 50)
             | SELECT doc_id,
             |   COALESCE(array_to_string(list_transform(ts,
             |     x -> CAST(len(x) AS VARCHAR)), ' '), '') AS lens,
             |   COALESCE(array_to_string(list_filter(ts,
             |     x -> len(x) > 3), ' '), '') AS long_toks,
             |   CAST(list_reduce(list_prepend(0, list_transform(ts,
             |     x -> len(x))), (a, b) -> a + b) AS BIGINT)
             |     AS total_len,
             |   CAST(len(list_filter(ts, x -> x LIKE '%e%')) AS BIGINT)
             |     AS n_with_e
             | FROM t ORDER BY doc_id""".stripMargin),
      "higher-order lambda battery: transform/filter/fold over token " +
        "arrays, element-for-element vs DuckDB list lambdas"),

    "q_multi_distinct" -> QueryDef(
      (s, dir) =>
        // several DISTINCT aggregates + plain aggregates in ONE pass:
        // Catalyst plans this via Expand (one projection per distinct
        // group), so the fact table is scanned once and the shuffle
        // carries |groups|x|projections| partial rows — the plan shape
        // that makes multi-distinct reporting viable at 100 TB, pinned
        // in PlanAuditSpec.
        T(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("d_parts"),
            countDistinct(col("l_suppkey")).as("d_supps"),
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |   COUNT(DISTINCT l_partkey) AS d_parts,
             |   COUNT(DISTINCT l_suppkey) AS d_supps,
             |   COUNT(*) AS n,
             |   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |     AS sum_qty
             | FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      "multi-distinct + plain aggregates in one Expand-planned pass " +
        "(single scan, bounded shuffle)"),

    "q_f17_window_rank_funcs" -> QueryDef(
      (s, dir) => {
        // ranking/distribution window-function battery: row_number,
        // rank/dense_rank over a tie-heavy ordering, ntile,
        // percent_rank/cume_dist (rank-based — exact small-integer
        // ratios, identical IEEE division on both engines), IGNORE
        // NULLS first_value, and nth_value with its null-until-offset
        // default frame. Two windows, both partitioned by supplier —
        // parallelism = |suppliers|; the tie-capable ordering uses the
        // value column (tied ranks are value-deterministic), every
        // positional function uses a unique total order.
        val u = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"))
        val q = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_quantity"))
        T(s, dir, "lineitem").filter(col("l_suppkey") < 10)
          .select(col("l_suppkey"),
            row_number().over(u).as("rn"),
            rank().over(q).as("rk"),
            dense_rank().over(q).as("drk"),
            ntile(4).over(u).as("nt"),
            round(percent_rank().over(q), 6).as("pr"),
            round(cume_dist().over(q), 6).as("cd"),
            first(expr("nullif(l_quantity, 1.0d)"), ignoreNulls = true)
              .over(u).as("fv"),
            nth_value(col("l_quantity"), 3).over(u).as("nth3"))
          .orderBy(col("l_suppkey"), col("rn"))
      },
      Some("""SELECT l_suppkey,
             |   ROW_NUMBER() OVER u AS rn,
             |   RANK() OVER q AS rk,
             |   DENSE_RANK() OVER q AS drk,
             |   NTILE(4) OVER u AS nt,
             |   ROUND(PERCENT_RANK() OVER q, 6) AS pr,
             |   ROUND(CUME_DIST() OVER q, 6) AS cd,
             |   FIRST_VALUE(NULLIF(l_quantity, 1.0) IGNORE NULLS)
             |     OVER u AS fv,
             |   NTH_VALUE(l_quantity, 3) OVER u AS nth3
             | FROM lineitem WHERE l_suppkey < 10
             | WINDOW u AS (PARTITION BY l_suppkey
             |     ORDER BY l_shipdate, l_orderkey, l_linenumber),
             |   q AS (PARTITION BY l_suppkey ORDER BY l_quantity)
             | ORDER BY l_suppkey, rn""".stripMargin),
      "ranking/distribution window battery: row_number/rank/dense_rank/" +
        "ntile/percent_rank/cume_dist/ignore-nulls first/nth_value, " +
        "supplier-partitioned windows")
  )
}
