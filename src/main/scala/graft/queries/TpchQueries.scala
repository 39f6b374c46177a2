package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Tables}

/** Headline relational pipelines in classic TPC-H shapes (beyond-survey
  * extensions, adapted to the testdata's column subset). Each exists to
  * pin one optimizer behavior the engine relies on at 100 TB:
  *
  *  - Q4: EXISTS rewritten to a left-semi join (never a count-distinct
  *    or a fact-side dedup)
  *  - Q5: a 6-table join spine where every dimension broadcasts and the
  *    only shuffle is the fact-side aggregation
  *  - Q10: fact-filter-first join order + top-k via TakeOrderedAndProject
  *  - Q12: join + conditional aggregation in one pass
  *  - Q14: conditional/total ratio in exact decimal, one scan
  *  - Q16: anti-join exclusion + distinct aggregation
  *  - Q19: disjunction of conjunctions evaluated on a single broadcast
  *    join (no union-of-three-joins blowup)
  *
  * All follow the QueryDef determinism contract: exact decimal
  * intermediates (matching expression shapes on the DuckDB side), total
  * ordering on a unique key set.
  */
object TpchQueries extends QueryModule {

  private val D2 = DecimalType(18, 2)

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def ts(lit0: String): Column =
    lit(lit0).cast(TimestampNTZType)

  /** revenue term: extendedprice * (1 - discount) in exact decimal —
    * the same shape q_q3 proved bit-stable against DuckDB.
    */
  private val revTerm: Column =
    col("l_extendedprice").cast(D2) *
      (lit(1).cast(D2) - col("l_discount").cast(D2))

  private val revTermSql: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) " +
      "* (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  def defs: Map[String, QueryDef] = Map(

    "q_q4_order_priority" -> QueryDef(
      (s, dir) => {
        // EXISTS(lineitem with a returned line) as a left-semi join: the
        // probe side stays the filtered fact scan, no dedup materialized
        val o = T(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1997-01-01 00:00:00"))
          .select(col("o_orderkey"), col("o_orderpriority"))
        val returned = T(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"))
        o.join(returned, o("o_orderkey") === returned("l_orderkey"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             | FROM orders
             | WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             |   AND EXISTS (SELECT 1 FROM lineitem
             |     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
             | GROUP BY o_orderpriority
             | ORDER BY o_orderpriority""".stripMargin),
      "headline: EXISTS → left-semi join + priority counts (TPC-H Q4 shape)"),

    "q_q5_local_supplier" -> QueryDef(
      (s, dir) => {
        // 6-table spine: region→nation (tiny, broadcast) gate supplier
        // and customer; the customer-nation == supplier-nation condition
        // rides the join; only the fact aggregation shuffles
        val r = T(s, dir, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))
        val n = T(s, dir, "nation")
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val sup = T(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val c = T(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val o = T(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1997-01-01 00:00:00"))
          .select(col("o_orderkey"), col("o_custkey"))
        val l = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .filter(col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(revTerm).cast(DoubleType).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some(s"""SELECT n_name,
             | CAST(SUM($revTermSql) AS DOUBLE) AS revenue
             | FROM lineitem
             | JOIN supplier ON s_suppkey = l_suppkey
             | JOIN orders ON o_orderkey = l_orderkey
             | JOIN customer ON c_custkey = o_custkey
             | JOIN nation ON n_nationkey = s_nationkey
             | JOIN region ON r_regionkey = n_regionkey
             | WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
             |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             | GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
      "headline: 6-table join spine, broadcast dims (TPC-H Q5 shape)"),

    "q_q10_returned_items" -> QueryDef(
      (s, dir) => {
        // returned-revenue per customer: lineitem filtered FIRST, then
        // joined up the key chain; nation broadcast; top-20 via
        // TakeOrderedAndProject with the unique custkey tiebreak
        val l = T(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
        val o = T(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-07-01 00:00:00") &&
            col("o_orderdate") < ts("1996-10-01 00:00:00"))
          .select(col("o_orderkey"), col("o_custkey"))
        val c = T(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_nationkey"))
        val n = T(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(sum(revTerm).cast(DoubleType).as("revenue"))
          .orderBy(desc("revenue"), col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
             | CAST(SUM($revTermSql) AS DOUBLE) AS revenue
             | FROM lineitem
             | JOIN orders ON o_orderkey = l_orderkey
             | JOIN customer ON c_custkey = o_custkey
             | JOIN nation ON n_nationkey = c_nationkey
             | WHERE l_returnflag = 'R'
             |   AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
             |   AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
             | GROUP BY c_custkey, c_name, c_acctbal, n_name
             | ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
      "headline: returned-item revenue per customer, top-k (TPC-H Q10 shape)"),

    "q_q12_priority_by_status" -> QueryDef(
      (s, dir) => {
        // join + conditional aggregation in one pass (l_linestatus stands
        // in for l_shipmode, which the testdata lacks)
        val l = T(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
            col("l_shipdate") < ts("1997-01-01 00:00:00"))
          .select(col("l_orderkey"), col("l_linestatus"))
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
             | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             | FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             | GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
      "headline: join + conditional aggregation (TPC-H Q12 shape)"),

    "q_q14_promo_effect" -> QueryDef(
      (s, dir) => {
        // promo revenue share: single broadcast join, numerator via a
        // null-skipping conditional sum over the SAME decimal term as the
        // denominator, division done once in double on both sides
        val l = T(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-09-01 00:00:00") &&
            col("l_shipdate") < ts("1996-10-01 00:00:00"))
          .select(col("l_partkey"), col("l_extendedprice"),
            col("l_discount"))
        val p = T(s, dir, "part").select(col("p_partkey"), col("p_type"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            (lit(100.0) *
              sum(when(col("p_type") === "PROMO", revTerm))
                .cast(DoubleType) /
              sum(revTerm).cast(DoubleType)).as("promo_revenue_pct"))
      },
      Some(s"""SELECT 100.0
             |   * CAST(SUM(CASE WHEN p_type = 'PROMO'
             |       THEN $revTermSql END) AS DOUBLE)
             |   / CAST(SUM($revTermSql) AS DOUBLE) AS promo_revenue_pct
             | FROM lineitem JOIN part ON p_partkey = l_partkey
             | WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
             |   AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin),
      "headline: conditional/total revenue ratio (TPC-H Q14 shape)"),

    "q_q16_supplier_count" -> QueryDef(
      (s, dir) => {
        // distinct suppliers per part group, minus an excluded supplier
        // set (negative balance stands in for the complaints filter):
        // the part-supplier relation is derived from lineitem (the
        // testdata has no partsupp), exclusion is a broadcast anti join.
        // Round 14 session 3: the explicit (partkey, suppkey) distinct —
        // a FULL fact exchange — is gone: countDistinct's map-side
        // partial stage already dedups (group, suppkey), so the raw
        // stream reaches the same aggregate through one fewer shuffle of
        // strictly more rows (3 exchanges → 2, −27% same-JVM, row-exact;
        // OPTIMIZATION_r14.md and plans/r14/q_q16_supplier_count_*.txt;
        // broadcast joins stay map-side).
        val l = T(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"))
        val excluded = T(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        val p = T(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#4" && col("p_size") <= 20)
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))
        l.join(broadcast(excluded),
            l("l_suppkey") === excluded("s_suppkey"), "left_anti")
          .join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
             | SELECT p_brand, p_type, p_size,
             |   COUNT(DISTINCT l_suppkey) AS supplier_cnt
             | FROM ps
             | JOIN part ON p_partkey = l_partkey
             | WHERE p_brand <> 'Brand#4' AND p_size <= 20
             |   AND NOT EXISTS (SELECT 1 FROM supplier
             |     WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
             | GROUP BY p_brand, p_type, p_size
             | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
      "headline: anti-join exclusion + distinct agg (TPC-H Q16 shape)"),

    "q_q19_disjunctive_join" -> QueryDef(
      (s, dir) => {
        // OR-of-ANDs across the join: stays ONE broadcast hash join with
        // the disjunction as a post-join filter (never a union of three
        // scans); the shared l_quantity <= 30 envelope is pushed to the
        // lineitem scan
        val l = T(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"))
        val p = T(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val disj =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#7" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
        l.filter(col("l_quantity") <= 30)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(disj)
          .agg(sum(revTerm).cast(DoubleType).as("revenue"))
      },
      Some(s"""SELECT CAST(SUM($revTermSql) AS DOUBLE) AS revenue
             | FROM lineitem JOIN part ON p_partkey = l_partkey
             | WHERE l_quantity <= 30 AND (
             |   (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |     AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             |     AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 15
             |     AND l_quantity BETWEEN 20 AND 30))""".stripMargin),
      "headline: disjunctive multi-predicate join (TPC-H Q19 shape)"),

    "q_q7_volume_shipping" -> QueryDef(
      (s, dir) => {
        // bidirectional two-nation trade flow: both nation dims broadcast,
        // the (supp, cust) pair disjunction is a post-join filter on ONE
        // join spine (never a union of two mirrored plans), yearly rollup
        val n1 = T(s, dir, "nation")
          .select(col("n_nationkey").as("__sn_key"),
            col("n_name").as("supp_nation"))
        val n2 = T(s, dir, "nation")
          .select(col("n_nationkey").as("__cn_key"),
            col("n_name").as("cust_nation"))
        val sup = T(s, dir, "supplier")
          .join(broadcast(n1), col("s_nationkey") === col("__sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val c = T(s, dir, "customer")
          .join(broadcast(n2), col("c_nationkey") === col("__cn_key"))
          .select(col("c_custkey"), col("cust_nation"))
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val l = T(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
            col("l_shipdate") < ts("1998-01-01 00:00:00"))
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
            col("l_extendedprice"), col("l_discount"))
        l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .filter(
            (col("supp_nation") === "NATION_1" &&
              col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" &&
              col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(revTerm).cast(DoubleType).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |   CAST(year(l_shipdate) AS INTEGER) AS l_year,
             |   CAST(SUM($revTermSql) AS DOUBLE) AS revenue
             | FROM lineitem
             | JOIN supplier ON s_suppkey = l_suppkey
             | JOIN orders ON o_orderkey = l_orderkey
             | JOIN customer ON c_custkey = o_custkey
             | JOIN nation sn ON sn.n_nationkey = s_nationkey
             | JOIN nation cn ON cn.n_nationkey = c_nationkey
             | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |   AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |   AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             |     OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
             | GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
             | ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
      "headline: bidirectional nation-pair trade flow (TPC-H Q7 shape)"),

    "q_q8_market_share" -> QueryDef(
      (s, dir) => {
        // market share: one nation's fraction of regional revenue per
        // year — numerator is a conditional sum over the SAME exact
        // decimal term as the denominator (the q_q14 ratio pattern on a
        // 6-table spine)
        val r = T(s, dir, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))
        val n2 = T(s, dir, "nation")
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("__cn_key"))
        val c = T(s, dir, "customer")
          .join(broadcast(n2), col("c_nationkey") === col("__cn_key"))
          .select(col("c_custkey"))
        val n1 = T(s, dir, "nation")
          .select(col("n_nationkey").as("__sn_key"),
            col("n_name").as("__supp_nation"))
        val sup = T(s, dir, "supplier")
          .join(broadcast(n1), col("s_nationkey") === col("__sn_key"))
          .select(col("s_suppkey"), col("__supp_nation"))
        val p = T(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))
        val o = T(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1998-01-01 00:00:00"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val l = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            (sum(when(col("__supp_nation") === "NATION_5", revTerm))
              .cast(DoubleType) /
              sum(revTerm).cast(DoubleType)).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |   CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
             |       THEN $revTermSql END) AS DOUBLE)
             |     / CAST(SUM($revTermSql) AS DOUBLE) AS mkt_share
             | FROM lineitem
             | JOIN part ON p_partkey = l_partkey
             | JOIN supplier ON s_suppkey = l_suppkey
             | JOIN orders ON o_orderkey = l_orderkey
             | JOIN customer ON c_custkey = o_custkey
             | JOIN nation n1 ON n1.n_nationkey = s_nationkey
             | JOIN nation n2 ON n2.n_nationkey = c_nationkey
             | JOIN region ON r_regionkey = n2.n_regionkey
             | WHERE r_name = 'ASIA' AND p_type = 'PROMO'
             |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |   AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             | GROUP BY year(o_orderdate) ORDER BY o_year""".stripMargin),
      "headline: per-year national market share ratio (TPC-H Q8 shape)"),

    "q_q13_customer_distribution" -> QueryDef(
      (s, dir) => {
        // order-count distribution: LEFT OUTER join keeps zero-order
        // customers (count(o_orderkey) skips their nulls — the
        // null-preserving outer-join + null-skipping count pair), then a
        // second aggregation over the counts
        val c = T(s, dir, "customer").select(col("c_custkey"))
        val o = T(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist
             | FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |   FROM customer LEFT OUTER JOIN orders
             |     ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |   GROUP BY c_custkey) t
             | GROUP BY c_count
             | ORDER BY custdist DESC, c_count DESC""".stripMargin),
      "headline: zero-preserving order-count distribution (TPC-H Q13 shape)"),

    "q_q15_top_supplier" -> QueryDef(
      (s, dir) => {
        // top supplier(s) by quarterly revenue: the scalar-max subquery
        // joins the aggregated view against its own 1-row max — the
        // equality is on the EXACT decimal total (safe), cast to double
        // only in the output
        val l = T(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
            col("l_shipdate") < ts("1996-04-01 00:00:00"))
          .select(col("l_suppkey"), col("l_extendedprice"),
            col("l_discount"))
        val rev = l.groupBy(col("l_suppkey"))
          .agg(sum(revTerm).as("__total"))
        val top = rev.agg(max(col("__total")).as("__max_total"))
        val sup = T(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))
        rev.join(broadcast(top), col("__total") === col("__max_total"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("__total").cast(DoubleType).as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some(s"""WITH rev AS (SELECT l_suppkey,
             |     SUM($revTermSql) AS total
             |   FROM lineitem
             |   WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |     AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |   GROUP BY l_suppkey)
             | SELECT s_suppkey, s_name,
             |   CAST(total AS DOUBLE) AS total_revenue
             | FROM rev JOIN supplier ON s_suppkey = l_suppkey
             | WHERE total = (SELECT MAX(total) FROM rev)
             | ORDER BY s_suppkey""".stripMargin),
      "headline: scalar-max subquery over an aggregated view (TPC-H Q15 shape)"),

    "q_q21_waiting_supplier" -> QueryDef(
      (s, dir) => {
        // correlated EXISTS + NOT EXISTS on the same fact table
        // (l_returnflag='R' stands in for the late-delivery predicate the
        // testdata lacks): suppliers whose returned lines sit in
        // multi-supplier orders where NO other supplier returned.
        //
        // Round-9 rewrite — aggregate decorrelation instead of semi+anti
        // self-joins: the EXISTS/NOT EXISTS pair carried a composite
        // equi (orderkey) + non-equi (suppkey <>) condition, which SMJ
        // evaluates per matching row pair — O(lines²) inside every
        // multi-line order, and THREE lineitem shuffles. The per-order
        // truth is fully captured at the (order, supplier) grain:
        // EXISTS other supplier ⟺ n_supp ≥ 2; NOT EXISTS other
        // RETURNING supplier ⟺ exactly 1 supplier has returned lines
        // (l1 itself returns, so its supplier IS the one) — and that
        // supplier's returned-line count is l1's contribution to
        // numwait, so no probe join back is needed at all.
        //
        // ONE explicit repartition by orderkey feeds BOTH aggregations
        // (hashpartitioning on a subset of the grouping keys satisfies
        // the (order, supplier) clustering), so the whole query is one
        // fact shuffle of three narrow columns + pipelined aggs + a
        // broadcast dim join. A countDistinct pair was tried and
        // rejected: multi-distinct compiles to an Expand that doubles
        // the fact rows before the shuffle (measured 2.7 GB shuffled
        // vs 1.1 GB for the self-join form). sf10 (60 M lineitem):
        // ~5.6 s stable (vs sf1 1.1 s — sub-linear at 10× data; the
        // self-join form's 44-140 s sf10 reps were partly host-stall
        // windows, but its plan was 3 fact shuffles + per-pair
        // non-equi evaluation either way). Identical oracle.
        val li = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
        val perSupp = li.repartition(col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("__r"))
        // The waiting supplier's (key, count) are carried as TWO primitive
        // max aggregates, not max(struct(...)) / max_by: __nlate === 1
        // guarantees exactly one supplier per surviving order has __r > 0,
        // so max over each column independently picks that same supplier's
        // values. A struct-valued buffer (either form — max(struct) is a
        // declarative agg with a struct buffer, max_by likewise) cannot
        // live in HashAggregate's mutable row and forced a Sort +
        // SortAggregate per partition on the fact aggregate; two bigint
        // maxes keep the whole decorrelation inside HashAggregate
        // (round-10; plan-audited in PlanAuditSpec)
        val waiting = perSupp.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("__nsupp"),
            count(when(col("__r") > 0, 1)).as("__nlate"),
            max(when(col("__r") > 0, col("l_suppkey"))).as("__wsk"),
            max(when(col("__r") > 0, col("__r"))).as("__wr"))
          .filter(col("__nsupp") >= 2 && col("__nlate") === 1)
          .select(col("__wsk").as("l_suppkey"), col("__wr").as("__cnt"))
        val sup = T(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))
        waiting
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(sum(col("__cnt")).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
          .limit(10)
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
             | FROM lineitem l1
             | JOIN supplier ON s_suppkey = l1.l_suppkey
             | WHERE l1.l_returnflag = 'R'
             |   AND EXISTS (SELECT 1 FROM lineitem l2
             |     WHERE l2.l_orderkey = l1.l_orderkey
             |       AND l2.l_suppkey <> l1.l_suppkey)
             |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |     WHERE l3.l_orderkey = l1.l_orderkey
             |       AND l3.l_suppkey <> l1.l_suppkey
             |       AND l3.l_returnflag = 'R')
             | GROUP BY s_name
             | ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin),
      "headline: EXISTS + NOT EXISTS pair on one fact table (TPC-H Q21 shape)"),

    "q_q22_global_sales" -> QueryDef(
      (s, dir) => {
        // dormant high-balance customers (c_nationkey%5 stands in for the
        // phone country code): scalar-avg threshold broadcast into the
        // filter, anti join against orders, per-code accounting. The
        // threshold divides an EXACT decimal sum by an exact count, so
        // both engines compute the identical double
        val code = pmod(col("c_nationkey"), lit(5)).cast(IntegerType)
        val c = T(s, dir, "customer")
          .select(code.as("cntrycode"), col("c_custkey"),
            col("c_acctbal"))
          .filter(col("cntrycode").isin(0, 1, 2))
        val thr = c.filter(col("c_acctbal") > 0.0)
          .agg((sum(col("c_acctbal").cast(D2)).cast(DoubleType) /
            count(lit(1))).as("__avg_bal"))
        val o = T(s, dir, "orders").select(col("o_custkey"))
        c.crossJoin(broadcast(thr))
          .filter(col("c_acctbal") > col("__avg_bal"))
          .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("c_acctbal").cast(D2)).cast(DoubleType).as("totacctbal"))
          .orderBy(col("cntrycode"))
      },
      Some("""SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode,
             |   COUNT(*) AS numcust,
             |   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |     AS totacctbal
             | FROM customer
             | WHERE c_nationkey % 5 IN (0, 1, 2)
             |   AND c_acctbal > (
             |     SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             |         / COUNT(*)
             |     FROM customer
             |     WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 1, 2))
             |   AND NOT EXISTS (SELECT 1 FROM orders
             |     WHERE o_custkey = c_custkey)
             | GROUP BY 1 ORDER BY cntrycode""".stripMargin),
      "headline: scalar-avg threshold + anti join + accounting (TPC-H Q22 shape)"),

    "q_q2_min_cost_supplier" -> QueryDef(
      (s, dir) => {
        // per-part minimum-cost regional supplier: TPC-H Q2's correlated
        // MIN subquery decorrelated into a per-group min + exact-decimal
        // equality rejoin. The part-supplier cost relation is derived
        // from lineitem (the testdata has no partsupp): cost = cheapest
        // line price that supplier ever quoted for that part. The
        // regional supplier dim is broadcast into the big grouped frame
        // BEFORE the min, because the correlated subquery is
        // region-scoped — filtering after the min would change results.
        val cost = T(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice").cast(D2)).as("__cost"))
        val r = T(s, dir, "region").filter(col("r_name") === "EUROPE")
          .select(col("r_regionkey"))
        val n = T(s, dir, "nation")
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val sup = T(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name"))
        val regional = cost
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        val minPer = regional.groupBy(col("l_partkey").as("__mp_key"))
          .agg(min(col("__cost")).as("__min_cost"))
        val p = T(s, dir, "part")
          .filter(col("p_size") <= 10 && col("p_type") === "PROMO")
          .select(col("p_partkey"), col("p_name"))
        regional
          .join(minPer, col("l_partkey") === col("__mp_key") &&
            col("__cost") === col("__min_cost"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("s_acctbal"), col("n_name"),
            col("__cost").cast(DoubleType).as("cost"))
          .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH cost AS (SELECT l_partkey, l_suppkey,
             |     MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS c
             |   FROM lineitem GROUP BY 1, 2),
             | rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
             |   FROM supplier
             |   JOIN nation ON n_nationkey = s_nationkey
             |   JOIN region ON r_regionkey = n_regionkey
             |   WHERE r_name = 'EUROPE'),
             | rc AS (SELECT cost.*, s_name, s_acctbal, n_name
             |   FROM cost JOIN rs ON s_suppkey = l_suppkey)
             | SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
             |   CAST(c AS DOUBLE) AS cost
             | FROM rc JOIN part ON p_partkey = l_partkey
             | WHERE p_size <= 10 AND p_type = 'PROMO'
             |   AND c = (SELECT MIN(c) FROM rc rc2
             |     WHERE rc2.l_partkey = rc.l_partkey)
             | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
             | LIMIT 100""".stripMargin),
      "headline: correlated per-group MIN decorrelated to min+rejoin " +
        "(TPC-H Q2 shape)"),

    "q_q9_product_profit" -> QueryDef(
      (s, dir) => {
        // profit by supplier nation and order year over a name-filtered
        // part set: revenue minus retail cost in ONE exact decimal
        // expression per line (p_retailprice stands in for
        // ps_supplycost). Both dims broadcast; the only shuffles are the
        // orders equi-join and the final small rollup.
        val p = T(s, dir, "part")
          .filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))
        val sup = T(s, dir, "supplier")
          .join(broadcast(T(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
        val amount = revTerm -
          col("p_retailprice").cast(D2) * col("l_quantity").cast(D2)
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(sum(amount).cast(DoubleType).as("sum_profit"))
          .orderBy(col("nation"), desc("o_year"))
      },
      Some(s"""SELECT n_name AS nation,
             |   CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |   CAST(SUM($revTermSql
             |     - CAST(p_retailprice AS DECIMAL(18,2))
             |       * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |     AS sum_profit
             | FROM lineitem
             | JOIN part ON p_partkey = l_partkey
             | JOIN supplier ON s_suppkey = l_suppkey
             | JOIN orders ON o_orderkey = l_orderkey
             | JOIN nation ON n_nationkey = s_nationkey
             | WHERE p_name LIKE '%red%'
             | GROUP BY n_name, year(o_orderdate)
             | ORDER BY nation, o_year DESC""".stripMargin),
      "headline: nation x year profit rollup, exact-decimal amount " +
        "(TPC-H Q9 shape)"),

    "q_q11_important_stock" -> QueryDef(
      (s, dir) => {
        // value-concentration scan: per-part value from a
        // nation-filtered supplier set, kept when above a fraction of
        // the TOTAL value — the group aggregate compared against a
        // broadcast scalar re-aggregate of itself (TPC-H Q11's scalar
        // subquery). Both sides derive the threshold from the same
        // exact decimal sum, cast to double once.
        val sup = T(s, dir, "supplier")
          .filter(col("s_nationkey").isin(1, 2, 3, 4, 5))
          .select(col("s_suppkey"))
        val value = T(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast(D2)).as("__val"))
        val total = value.agg(sum(col("__val")).as("__total"))
        value.crossJoin(broadcast(total))
          .filter(col("__val").cast(DoubleType) >
            col("__total").cast(DoubleType) * lit(0.001))
          .select(col("l_partkey"),
            col("__val").cast(DoubleType).as("value"))
          .orderBy(desc("value"), col("l_partkey"))
      },
      Some("""WITH v AS (SELECT l_partkey,
             |     SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
             |   FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
             |   WHERE s_nationkey IN (1, 2, 3, 4, 5)
             |   GROUP BY 1)
             | SELECT l_partkey, CAST(val AS DOUBLE) AS value
             | FROM v
             | WHERE CAST(val AS DOUBLE) >
             |   (SELECT CAST(SUM(val) AS DOUBLE) FROM v) * 0.001
             | ORDER BY value DESC, l_partkey""".stripMargin),
      "headline: group value vs scalar total-share threshold " +
        "(TPC-H Q11 shape)"),

    "q_q20_part_promotion" -> QueryDef(
      (s, dir) => {
        // supplier shortlist via a chained-semi-join shape (TPC-H Q20's
        // nested INs): (part, supplier) movement totals over a
        // name-filtered part set, pairs kept when MOST of the movement
        // (recent*2 > total — exact decimal, no 0.5 float) happened in
        // 1996, suppliers semi-joined through the surviving pairs. No
        // distinct materialization: left-semi deduplicates for free.
        val pid = T(s, dir, "part")
          .filter(col("p_name").startsWith("small"))
          .select(col("p_partkey"))
        val inYear = col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00")
        val qty = T(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_shipdate"))
          .join(broadcast(pid), col("l_partkey") === col("p_partkey"),
            "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(
            sum(col("l_quantity").cast(D2)).as("__total"),
            sum(when(inYear, col("l_quantity").cast(D2))
              .otherwise(lit(0).cast(D2))).as("__recent"))
        val hot = qty
          .filter(col("__recent") * lit(2) > col("__total"))
          .select(col("l_suppkey"))
        val n = T(s, dir, "nation")
          .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3",
            "NATION_4", "NATION_5"))
          .select(col("n_nationkey"))
        T(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"),
            "left_semi")
          .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH pid AS (SELECT p_partkey FROM part
             |     WHERE p_name LIKE 'small%'),
             | q AS (SELECT l_partkey, l_suppkey,
             |     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total,
             |     SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |       THEN CAST(l_quantity AS DECIMAL(18,2))
             |       ELSE CAST(0 AS DECIMAL(18,2)) END) AS recent
             |   FROM lineitem
             |   WHERE l_partkey IN (SELECT p_partkey FROM pid)
             |   GROUP BY 1, 2)
             | SELECT s_suppkey, s_name
             | FROM supplier
             | JOIN nation ON n_nationkey = s_nationkey
             | WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3',
             |     'NATION_4', 'NATION_5')
             |   AND s_suppkey IN (SELECT l_suppkey FROM q
             |     WHERE recent * 2 > total)
             | ORDER BY s_suppkey""".stripMargin),
      "headline: chained semi-join shortlist with exact-decimal " +
        "majority threshold (TPC-H Q20 shape)")
  )
}
