package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.{QueryDef, QueryModule, Tables}

/** Pattern-mining and distribution-profiling operators: market-basket
  * lift, co-occurrence-graph triangle counting, RAG-style document
  * chunking, KL divergence between corpus shards, categorical entropy
  * profiling, and RFM customer segmentation.
  *
  * These generalize the reference's profiling surface (value_counts /
  * per-class histograms, network-traffic-analysis.ipynb cells 36-43)
  * to the co-occurrence and distribution-shift questions a large corpus
  * pipeline asks. Scale themes:
  *
  *   - pair generation is always WITHIN a bounded group (an order's
  *     basket), so the self-join explodes O(k^2) per basket, never
  *     O(n^2) globally; the pair stream then reduces by key;
  *   - every floating score is a fixed-point long computed from exact
  *     integer counts with an identical expression shape on both
  *     engines (floor(scale * f(exact ints))), then summed as integers
  *     — summation order cannot perturb the result;
  *   - thresholds (lift support, edge weight) prune BEFORE the
  *     expensive downstream joins, the same order a planner would want
  *     at 100 TB.
  */
object MiningQueries extends QueryModule {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Distinct (orderkey, itemkey) basket membership — the dedup makes
    * pair counts set-semantics (a part listed twice in one order counts
    * once), matching classic market-basket support.
    */
  private def baskets(li: DataFrame, itemCol: String): DataFrame =
    li.select(col("l_orderkey"), col(itemCol).as("item")).distinct()

  /** Oriented co-occurrence pairs (a < b) within each basket with their
    * co-occurrence count — operators.CoOccur.pairs, uncapped: basket
    * sizes here are TPC-H order sizes (max 7), so the mega-basket guard
    * (CoOccur's deterministic cap, spec'd in CoOccurSpec) stays off and
    * the gates keep exact semantics.
    */
  private def coPairs(b: DataFrame): DataFrame =
    graft.operators.CoOccur.pairs(b, "l_orderkey", "item")

  /** Session-cached co-occurrence pairs of the part co-order graph:
    * the basket self-join + pair reduce is the shared dominant subplan
    * of q_market_basket and q_triangle_count, materialized once per
    * (session, dir) via FrameCache and filtered per consumer.
    */
  private def cachedPartPairs(s: SparkSession, dir: String): DataFrame =
    graft.core.FrameCache.cached(s, s"copairs:l_partkey:$dir") {
      coPairs(baskets(T(s, dir, "lineitem"), "l_partkey"))
    }

  def defs: Map[String, QueryDef] = Map(

    "q_market_basket" -> QueryDef(
      (s, dir) => {
        // market-basket lift mining: top-20 part pairs by
        // lift = P(a,b)/(P(a)P(b)), support-pruned (cab >= 3), as the
        // fixed-point floor(1e6 * ln(N*cab/(ca*cb))) of an exact
        // integer ratio. The per-item count frame is ITEM-DOMAIN-sized
        // (every distinct part) — forcing it broadcast is the
        // vocabulary-broadcast anti-shape (an executor OOM once the
        // item domain outgrows memory), so no hint: AQE broadcasts it
        // at runtime while it is small and shuffle-joins it once it is
        // not. The support-pruned pair stream and the item counts then
        // co-shuffle on the item key — both bounded by the pruned pair
        // count, never by the raw basket stream.
        val b = baskets(T(s, dir, "lineitem"), "l_partkey")
        val n = b.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n_orders"))
        val items = b.groupBy(col("item")).agg(count(lit(1)).as("c1"))
        val pairs = cachedPartPairs(s, dir).filter(col("cab") >= 3)
        pairs
          .join(items.select(col("item").as("pa"),
            col("c1").as("ca")), Seq("pa"))
          .join(items.select(col("item").as("pb"),
            col("c1").as("cb")), Seq("pb"))
          .crossJoin(broadcast(n))
          .withColumn("lift_scaled",
            floor(lit(1e6) * log(
              (col("n_orders") * col("cab")).cast(DoubleType) /
                (col("ca") * col("cb")))).cast(LongType))
          .select(col("pa"), col("pb"), col("cab"), col("ca"), col("cb"),
            col("lift_scaled"))
          .orderBy(col("lift_scaled").desc, col("pa"), col("pb"))
          .limit(20)
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey AS item
             |   FROM lineitem),
             | n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
             | items AS (SELECT item, COUNT(*) AS c1 FROM b GROUP BY item),
             | pairs AS (SELECT a.item AS pa, b2.item AS pb,
             |     COUNT(*) AS cab
             |   FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
             |     AND a.item < b2.item
             |   GROUP BY 1, 2 HAVING COUNT(*) >= 3)
             | SELECT p.pa, p.pb, p.cab, la.c1 AS ca, rb.c1 AS cb,
             |   CAST(FLOOR(1e6 * ln(CAST(n.n_orders * p.cab AS DOUBLE)
             |     / (la.c1 * rb.c1))) AS BIGINT) AS lift_scaled
             | FROM pairs p
             |   JOIN items la ON p.pa = la.item
             |   JOIN items rb ON p.pb = rb.item
             |   CROSS JOIN n
             | ORDER BY lift_scaled DESC, pa, pb LIMIT 20""".stripMargin),
      "market-basket lift mining: support-pruned part pairs, " +
        "fixed-point ln lift, top-20"),

    "q_triangle_count" -> QueryDef(
      (s, dir) => {
        // triangle counting on the part co-occurrence graph (edge =
        // two parts bought together in >= 2 orders): the DEGREE-oriented
        // wedge algorithm. Each undirected edge is directed from its
        // lower-(degree, id) endpoint to its higher one; wedges are then
        // pairs of out-edges of one node, closed by an equi-join back
        // onto the directed edge set. Out-degrees under degree
        // orientation are O(sqrt(m)) even at power-law hubs (the classic
        // bound), so wedge generation cannot blow up on a hub node at
        // 100 TB the way key-orientation can — a hub with degree d
        // generates d^2/2 key-oriented wedges but only ~m directed ones
        // globally. Two extra keyed joins (edge x degree) buy that
        // bound. Triangle count is orientation-invariant: each triangle
        // has exactly one lowest-order apex and one oriented (v, w)
        // out-pair, counted once. Also reports the global clustering
        // coefficient 3*triangles/wedges — wedge count from exact
        // per-node degrees, divided once, rounded once.
        val e = cachedPartPairs(s, dir)
          .filter(col("cab") >= 2)
          .select(col("pa"), col("pb"))
        val nEdges = e.agg(count(lit(1)).as("n_edges"))
        val nodes = e.select(col("pa").as("v"))
          .unionByName(e.select(col("pb").as("v")))
        // localCheckpoint (round-14): deg is consumed THREE times (the
        // wedge-count aggregate + both orientation joins) and the AQE
        // stage cache only deduplicated one pair — the executed plan
        // carried TWO `Exchange hashpartitioning(v)` subtrees, i.e. the
        // 2|E|-row union + aggregation ran twice per execution (probe
        // tri_deg: 0.36 s of tri_full's 1.05 s at sf0.1). The frame is
        // node-domain-sized, so the checkpoint itself is tiny — same
        // reference-it-thrice pattern as `directed` below.
        val deg = nodes.groupBy(col("v")).agg(count(lit(1)).as("d"))
          .localCheckpoint()
        // DIV keeps the wedge count integral end-to-end (d*(d-1) is even);
        // `/` would route it through double — a hub node past ~1e8 degree
        // would silently lose wedges to the 2^53 mantissa at corpus scale
        val nNodes = deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("d * (d - 1) DIV 2")).cast(LongType).as("wedges"))
        // orient by (degree, id): da/db looked up with two keyed joins,
        // then src = lower endpoint in that total order
        val withDeg = e
          .join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
          .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
        val aFirst = (col("da") < col("db")) ||
          (col("da") === col("db") && col("pa") < col("pb"))
        // localCheckpoint: the directed set is referenced three times
        // (both wedge sides + the closure probe), and each reference
        // would otherwise re-execute the two degree joins — measured
        // 21.5M realized scan rows vs ~1.2M pairs. One materialization
        // per execution, same pattern as the BFS edge list.
        val directed = withDeg.select(
          when(aFirst, col("pa")).otherwise(col("pb")).as("src"),
          when(aFirst, col("pb")).otherwise(col("pa")).as("dst"),
          when(aFirst, col("db")).otherwise(col("da")).as("dd"))
          .localCheckpoint()
        val tri = directed.as("d1")
          .join(directed.as("d2"), col("d1.src") === col("d2.src") &&
            ((col("d1.dd") < col("d2.dd")) ||
              (col("d1.dd") === col("d2.dd") &&
                col("d1.dst") < col("d2.dst"))))
          .select(col("d1.dst").as("a"), col("d2.dst").as("c"))
          .join(directed.select(col("src").as("a"), col("dst").as("c")),
            Seq("a", "c"))
          .agg(count(lit(1)).as("n_triangles"))
        broadcast(nNodes).crossJoin(broadcast(nEdges))
          .crossJoin(broadcast(tri))
          .select(col("n_nodes"), col("n_edges"), col("wedges"),
            col("n_triangles"),
            round(lit(3) * col("n_triangles").cast(DoubleType) /
              col("wedges"), 6).as("clustering_coeff"))
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey AS item
             |   FROM lineitem),
             | e AS (SELECT pa, pb FROM (
             |     SELECT a.item AS pa, b2.item AS pb, COUNT(*) AS cab
             |     FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
             |       AND a.item < b2.item
             |     GROUP BY 1, 2) t WHERE cab >= 2),
             | deg AS (SELECT v, COUNT(*) AS d FROM (
             |     SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) u
             |   GROUP BY v),
             | nn AS (SELECT COUNT(*) AS n_nodes,
             |     CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges
             |   FROM deg),
             | ne AS (SELECT COUNT(*) AS n_edges FROM e),
             | tr AS (SELECT COUNT(*) AS n_triangles
             |   FROM e e1 JOIN e e2 ON e1.pb = e2.pa
             |     JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
             | SELECT nn.n_nodes, ne.n_edges, nn.wedges, tr.n_triangles,
             |   ROUND(3 * CAST(tr.n_triangles AS DOUBLE) / nn.wedges, 6)
             |     AS clustering_coeff
             | FROM nn CROSS JOIN ne CROSS JOIN tr""".stripMargin),
      "triangle count + clustering coefficient on the part " +
        "co-occurrence graph (oriented-edge two-join algorithm)"),

    "q_doc_chunking" -> QueryDef(
      (s, dir) => {
        // RAG-style overlapping chunking: 50-token windows, stride 40
        // (10-token overlap), per document. Chunk starts come from an
        // in-plan sequence() + posexplode — a pure map-side explode,
        // no shuffle at all; the digest keeps the gate row narrow
        // while still pinning every chunk's exact text. The filter
        // prunes BEFORE tokenization so the scan only reads the gated
        // docs' text.
        val d = T(s, dir, "documents").filter(col("doc_id") < 40)
          .select(col("doc_id"),
            split(trim(col("text")), "\\s+").as("toks"))
          .withColumn("nt", size(col("toks")))
          .filter(col("nt") >= 1)
        d.select(col("doc_id"), col("nt"), col("toks"),
            posexplode(sequence(lit(0), col("nt") - 1, lit(40)))
              .as(Seq("chunk_id", "start")))
          .select(col("doc_id"), col("chunk_id"), col("start"),
            least(lit(50), col("nt") - col("start")).as("chunk_len"),
            md5(concat_ws(" ",
              slice(col("toks"), col("start") + 1, lit(50))))
              .as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |     regexp_split_to_array(trim(text), '\s+') AS toks
             |   FROM documents WHERE doc_id < 40),
             | n AS (SELECT doc_id, toks, len(toks) AS nt FROM d
             |   WHERE len(toks) >= 1),
             | st AS (SELECT doc_id, toks, nt,
             |     generate_subscripts(
             |       generate_series(0, nt - 1, 40), 1) - 1 AS chunk_id,
             |     unnest(generate_series(0, nt - 1, 40)) AS start
             |   FROM n)
             | SELECT doc_id, chunk_id, start,
             |   LEAST(50, nt - start) AS chunk_len,
             |   md5(array_to_string(
             |     list_slice(toks, start + 1, start + 50), ' '))
             |     AS chunk_md5
             | FROM st ORDER BY doc_id, chunk_id""".stripMargin),
      "RAG-style overlapping document chunking (50-token windows, " +
        "stride 40), map-only explode, per-chunk digest"),

    "q_kl_shards" -> QueryDef(
      (s, dir) => {
        // distribution shift between corpus shards: symmetric pair of
        // KL divergences between the unigram distributions of the
        // even-doc_id and odd-doc_id shards, add-1 smoothed over the
        // union vocabulary. Each token's term is fixed-pointed
        // (floor(1e12 * p * ln(ratio-of-exact-ints))) and the terms
        // sum as LONGS — so the reduction is order-independent and
        // engine-exact. One token-count agg per shard (partial+final),
        // one full-outer join on token, one integer reduce. NOTE: the
        // ln argument multiplies two counts (fits comfortably in long
        // here); at 100-TB counts split it as a difference of two
        // fixed-point logs instead.
        val toks = T(s, dir, "documents")
          .select((col("doc_id") % 2 === 0).as("even"),
            explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        val a = toks.filter(col("even")).groupBy(col("tok"))
          .agg(count(lit(1)).as("ca"))
        val b = toks.filter(!col("even")).groupBy(col("tok"))
          .agg(count(lit(1)).as("cb"))
        val joined = a.join(b, Seq("tok"), "full_outer")
          .select(coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))
        val tot = joined.agg(count(lit(1)).as("v"), sum(col("ca")).as("na"),
          sum(col("cb")).as("nb"))
        def klTerm(cx: String, nx: String, cy: String, ny: String) =
          floor(lit(1e12) *
            ((col(cx) + 1).cast(DoubleType) / (col(nx) + col("v"))) *
            log(((col(cx) + 1) * (col(ny) + col("v"))).cast(DoubleType) /
              ((col(cy) + 1) * (col(nx) + col("v"))).cast(DoubleType)))
            .cast(LongType)
        joined.crossJoin(broadcast(tot))
          .select(col("v"), col("na"), col("nb"),
            klTerm("ca", "na", "cb", "nb").as("tab"),
            klTerm("cb", "nb", "ca", "na").as("tba"))
          .groupBy(col("v"), col("na"), col("nb"))
          .agg(sum(col("tab")).as("kl_ab_scaled"),
            sum(col("tba")).as("kl_ba_scaled"))
      },
      Some("""WITH toks AS (SELECT doc_id % 2 = 0 AS even,
             |     unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
             |       AS tok
             |   FROM documents),
             | a AS (SELECT tok, COUNT(*) AS ca FROM toks WHERE even
             |   GROUP BY tok),
             | b AS (SELECT tok, COUNT(*) AS cb FROM toks WHERE NOT even
             |   GROUP BY tok),
             | j AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
             |   FROM a FULL OUTER JOIN b USING (tok)),
             | t AS (SELECT COUNT(*) AS v, CAST(SUM(ca) AS BIGINT) AS na,
             |     CAST(SUM(cb) AS BIGINT) AS nb FROM j)
             | SELECT t.v, t.na, t.nb,
             |   CAST(SUM(CAST(FLOOR(1e12
             |     * (CAST(ca + 1 AS DOUBLE) / (na + v))
             |     * ln(CAST((ca + 1) * (nb + v) AS DOUBLE)
             |          / CAST((cb + 1) * (na + v) AS DOUBLE)))
             |     AS BIGINT)) AS BIGINT) AS kl_ab_scaled,
             |   CAST(SUM(CAST(FLOOR(1e12
             |     * (CAST(cb + 1 AS DOUBLE) / (nb + v))
             |     * ln(CAST((cb + 1) * (na + v) AS DOUBLE)
             |          / CAST((ca + 1) * (nb + v) AS DOUBLE)))
             |     AS BIGINT)) AS BIGINT) AS kl_ba_scaled
             | FROM j CROSS JOIN t
             | GROUP BY t.v, t.na, t.nb""".stripMargin),
      "KL divergence (both directions) between even/odd corpus shards: " +
        "add-1 smoothed unigrams, fixed-point terms, integer reduce"),

    "q_entropy_profile" -> QueryDef(
      (s, dir) => {
        // Shannon entropy per categorical column (data-profiling /
        // feature-selection primitive): H = sum over categories of
        // -(c/N) ln(c/N), fixed-pointed per category as
        // floor(1e9 * (c/N) * ln(N/c)) and integer-summed. One
        // partial+final count agg per column; the three columns union
        // AFTER their (tiny) per-category aggregates, so each scan
        // reads exactly one column.
        def colEntropy(df: DataFrame, c: String): DataFrame = {
          val counts = df.select(col(c).cast("string").as("val"))
            .groupBy(col("val")).agg(count(lit(1)).as("cnt"))
          counts.crossJoin(
              broadcast(counts.agg(sum(col("cnt")).as("n"))))
            .select(lit(c).as("col_name"), col("cnt"), col("n"),
              floor(lit(1e9) * (col("cnt").cast(DoubleType) / col("n")) *
                log(col("n").cast(DoubleType) / col("cnt")))
                .cast(LongType).as("term"))
            .groupBy(col("col_name"))
            .agg(count(lit(1)).as("n_categories"),
              first(col("n")).as("n_rows"),
              sum(col("term")).as("entropy_scaled"))
        }
        val li = T(s, dir, "lineitem")
        colEntropy(li, "l_returnflag")
          .unionByName(colEntropy(li, "l_linestatus"))
          .unionByName(colEntropy(T(s, dir, "events"), "event_type"))
          .orderBy(col("col_name"))
      },
      Some("""WITH src AS (
             |   SELECT 'l_returnflag' AS col_name,
             |     CAST(l_returnflag AS VARCHAR) AS val FROM lineitem
             |   UNION ALL
             |   SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR)
             |     FROM lineitem
             |   UNION ALL
             |   SELECT 'event_type', CAST(event_type AS VARCHAR)
             |     FROM events),
             | c AS (SELECT col_name, val, COUNT(*) AS cnt FROM src
             |   GROUP BY col_name, val),
             | t AS (SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n
             |   FROM c GROUP BY col_name)
             | SELECT c.col_name, COUNT(*) AS n_categories,
             |   ANY_VALUE(t.n) AS n_rows,
             |   CAST(SUM(CAST(FLOOR(1e9 * (CAST(cnt AS DOUBLE) / t.n)
             |     * ln(CAST(t.n AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT)
             |     AS entropy_scaled
             | FROM c JOIN t ON c.col_name = t.col_name
             | GROUP BY c.col_name ORDER BY c.col_name""".stripMargin),
      "Shannon entropy profile per categorical column: fixed-point " +
        "per-category terms, integer-summed"),

    "q_rfm_segmentation" -> QueryDef(
      (s, dir) => {
        // RFM customer segmentation: recency (days since epoch of last
        // order), frequency (order count), monetary (exact cents) per
        // customer; quartile thresholds via exact percentile over the
        // integer metrics, BROADCAST back, and each customer scores
        // 1-4 per dimension by integer comparison — no global ntile
        // sort, which is the usual RFM scale trap. With g in {.25,.5,
        // .75} over integer inputs the interpolated thresholds are
        // exact in double on both engines, so the comparisons are
        // deterministic. Output: per-segment customer counts + exact
        // total monetary cents.
        val rfm = T(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(datediff(max(col("o_orderdate")), lit("1970-01-01"))
            .cast(LongType).as("rec"),
            count(lit(1)).as("freq"),
            sum((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast(LongType)).as("mon"))
        val th = rfm.agg(
          expr("percentile(rec, array(0.25, 0.5, 0.75))").as("tr"),
          expr("percentile(freq, array(0.25, 0.5, 0.75))").as("tf"),
          expr("percentile(mon, array(0.25, 0.5, 0.75))").as("tm"))
        def score(c: String, t: String) =
          (lit(1) + (col(c) > element_at(col(t), 1)).cast(LongType)
            + (col(c) > element_at(col(t), 2)).cast(LongType)
            + (col(c) > element_at(col(t), 3)).cast(LongType))
        rfm.crossJoin(broadcast(th))
          .select(concat(score("rec", "tr"), score("freq", "tf"),
            score("mon", "tm")).as("segment"), col("mon"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("mon")).as("total_cents"))
          .orderBy(col("segment"))
      },
      Some("""WITH rfm AS (SELECT o_custkey,
             |     CAST(date_diff('day', DATE '1970-01-01',
             |       CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS rec,
             |     COUNT(*) AS freq,
             |     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |       AS BIGINT)) AS BIGINT) AS mon
             |   FROM orders GROUP BY o_custkey),
             | th AS (SELECT
             |     quantile_cont(rec, [0.25, 0.5, 0.75]) AS tr,
             |     quantile_cont(freq, [0.25, 0.5, 0.75]) AS tf,
             |     quantile_cont(mon, [0.25, 0.5, 0.75]) AS tm FROM rfm)
             | SELECT CAST(
             |     (1 + CAST(rec > tr[1] AS INT) + CAST(rec > tr[2] AS INT)
             |        + CAST(rec > tr[3] AS INT)) AS VARCHAR)
             |   || CAST(
             |     (1 + CAST(freq > tf[1] AS INT) + CAST(freq > tf[2] AS INT)
             |        + CAST(freq > tf[3] AS INT)) AS VARCHAR)
             |   || CAST(
             |     (1 + CAST(mon > tm[1] AS INT) + CAST(mon > tm[2] AS INT)
             |        + CAST(mon > tm[3] AS INT)) AS VARCHAR) AS segment,
             |   COUNT(*) AS n_customers,
             |   CAST(SUM(mon) AS BIGINT) AS total_cents
             | FROM rfm CROSS JOIN th
             | GROUP BY 1 ORDER BY segment""".stripMargin),
      "RFM segmentation: exact-percentile quartile thresholds " +
        "broadcast, integer-comparison scores, per-segment rollup"),

    "q_fuzzy_join" -> QueryDef(
      (s, dir) => {
        // blocked fuzzy record linkage (Levenshtein <= 1): a
        // deterministically corrupted name column (one of the last two
        // digits deleted, position keyed by custkey parity) links back
        // to the clean customer table. Candidate generation is an
        // equi-join on a 16-char blocking prefix — block size is bounded
        // (<= 100 names share a prefix at ANY scale factor because the
        // prefix pins all but the last two digits), so the quadratic
        // edit-distance work is O(block^2) per block, never O(n^2)
        // global, and the join itself is a plain hash join. The builtin
        // levenshtein is codegen'd — no UDF in the hot path.
        val c = T(s, dir, "customer")
        val dirty = c.select(col("c_custkey").as("d_key"),
          expr("concat(substring(c_name, 1, 16 + c_custkey % 2), " +
            "substring(c_name, 18 + c_custkey % 2))").as("d_name"),
          substring(col("c_name"), 1, 16).as("blk"))
          // spread blocks across tasks: the probe side arrives as one
          // small parquet split, which would run every levenshtein in a
          // single task; hashing on the block key is the same
          // co-partitioning a cluster run wants (5.4s -> 0.6s at sf0.1)
          .repartition(col("blk"))
        val clean = c.select(col("c_custkey").as("c_key"),
          col("c_name"), substring(col("c_name"), 1, 16).as("blk"))
        dirty.join(clean, "blk")
          // prefix property of edit distance: dist(P+x, P+y) = dist(x, y),
          // so inside a block (= equal 16-char prefix) only the residual
          // suffixes (1-2 chars) need the quadratic compare — the same
          // pruning the PPJoin family applies, and ~8x cheaper than
          // re-scanning the full strings per pair (5.0s -> 0.6s at sf0.1)
          .withColumn("dist", levenshtein(
            expr("substring(d_name, 17)"), expr("substring(c_name, 17)")))
          .filter(col("dist") <= 1)
          .groupBy(col("d_key"))
          .agg(count(lit(1)).as("n_cand"),
            min(col("dist")).cast(LongType).as("min_dist"),
            max(when(col("c_key") === col("d_key"), 1L).otherwise(0L))
              .as("self_matched"))
          .orderBy(col("d_key"))
      },
      Some("""WITH dirty AS (SELECT c_custkey AS d_key,
             |     concat(substr(c_name, 1, 16 + (c_custkey % 2)),
             |       substr(c_name, 18 + (c_custkey % 2))) AS d_name,
             |     substr(c_name, 1, 16) AS blk FROM customer),
             | clean AS (SELECT c_custkey AS c_key, c_name,
             |     substr(c_name, 1, 16) AS blk FROM customer),
             | cand AS (SELECT d_key, c_key,
             |     levenshtein(d_name, c_name) AS dist
             |   FROM dirty JOIN clean USING (blk)
             |   WHERE levenshtein(d_name, c_name) <= 1)
             | SELECT d_key, COUNT(*) AS n_cand,
             |   CAST(MIN(dist) AS BIGINT) AS min_dist,
             |   CAST(MAX(CASE WHEN c_key = d_key THEN 1 ELSE 0 END)
             |     AS BIGINT) AS self_matched
             | FROM cand GROUP BY d_key ORDER BY d_key""".stripMargin),
      "blocked fuzzy join (edit distance <= 1): bounded-block candidate " +
        "generation, codegen levenshtein, per-record match accounting"),

    "q_bfs_reach" -> QueryDef(
      (s, dir) => {
        // bounded BFS over the part co-order graph — the recursive-CTE
        // query shape (WITH RECURSIVE), expressed as the distributed
        // iterative frontier pattern: per hop, join the frontier to the
        // edge list and dedup; min-hop semantics come from a final
        // min(hop) re-rank per node (see below — the per-hop anti-join
        // pruning was removed in round 14). Every step is a keyed
        // join/dedup — no driver-side state beyond the loop counter; at
        // 100 TB each hop is one co-partitioned join.
        val li = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val o = T(s, dir, "orders")
        val seed = li.join(
            o.filter(col("o_custkey") === 0).select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey").as("node")).distinct()
        // materialize the edge list ONCE (localCheckpoint, as the
        // components clusterer does): the co-order self-join + dedup is
        // the expensive shuffle, and both hops reuse its result instead
        // of rebuilding it. NEITHER side of the per-hop joins carries a
        // broadcast hint: the frontier is usually the small side of
        // distributed BFS, but its size is DATA-DEPENDENT — hop 1 from a
        // hub seed on a dense graph can be a large fraction of the node
        // set, and a forced broadcast of that frame OOMs executors at
        // cluster scale. The hop joins let AQE pick broadcast at
        // runtime while the frame is actually small — the safe
        // direction of adaptivity (PlanAuditSpec asserts no
        // ResolvedHint survives anywhere in this query).
        // FrameCache: the co-order self-join + dedup is by far the
        // query's dominant cost and is a pure function of the input dir,
        // so one materialization serves every BFS run in the session
        // (and any other co-order-graph consumer that adopts the key)
        // ... and it is cached HASH-PARTITIONED BY src (the in-memory
        // analogue of a src-bucketed table; io/Bucketing.scala proves
        // the on-disk variant): the FrameCache checkpoint declares the
        // build's outputPartitioning, so every hop's frontier⋈edges join
        // consumes the edge list with ZERO new Exchange — only the
        // (much smaller) frontier moves per hop. Without the layout,
        // each hop re-shuffled the full edge list on src.
        val edges = graft.core.FrameCache.cached(s,
            s"coorder_edges:bysrc:$dir") {
          li.join(
              li.select(col("l_orderkey").as("k2"),
                col("l_partkey").as("dst")),
              col("l_orderkey") === col("k2"))
            .filter(col("l_partkey") =!= col("dst"))
            .select(col("l_partkey").as("src"), col("dst"))
            // dedup via collect_set-by-src, not distinct(): the partial
            // (map-side) collect_set dedups pairs BEFORE the shuffle —
            // same wire volume as distinct's partial aggregate — but
            // the ONE exchange hashes on src alone, and explode/project
            // preserve that partitioning, so the cached frame comes out
            // src-bucketed for free. The obvious alternatives each cost
            // a second full pass over the edge list, measured at sf10:
            // distinct-then-repartition 372 s, repartition-then-distinct
            // (subset-key clustering, but the shuffle carries RAW
            // pre-dedup pairs) 275 s, vs ~80 s for one partial-agg'd
            // shuffle. Hub srcs make big sets (an 100k-dst hub is
            // ~800 KB) — the same skew any groupBy(src) carries, far
            // below executor memory at any realistic hub degree.
            .groupBy(col("src"))
            .agg(collect_set(col("dst")).as("__dsts"))
            .select(col("src"), explode(col("__dsts")).as("dst"))
        }
        // round-14 (§2.4/§7): min-hop BFS WITHOUT the per-hop anti-joins.
        // Each anti-join shuffled BOTH the growing visited set and the
        // new frontier and deepened the re-executed lineage (visited is
        // a union of every prior hop); with a 2-hop bound the pruning
        // they buy (frontier ≪ visited) never pays. Instead label each
        // k-step neighborhood with k and take min(hop) per node — the
        // node set is identical (neighbors of already-visited members
        // of hop-set k are ⊆ hop-set k+1's input, and min() re-ranks
        // them to their first hop), row-exact against the anti-join
        // form and confirmed by the oracle hash; measured −20% same-JVM
        // at sf0.1 (OPTIMIZATION_r14.md Item 4).
        // For an UNBOUNDED/deep BFS the anti-join form comes back: once
        // the frontier is a sliver of visited, pruning beats re-ranking.
        val n1 = seed.join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
        val n2 = n1.join(edges, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
        seed.withColumn("hop", lit(0L))
          .unionByName(n1.withColumn("hop", lit(1L)))
          .unionByName(n2.withColumn("hop", lit(2L)))
          .groupBy(col("node")).agg(min(col("hop")).as("hop"))
          .groupBy(col("hop"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("hop"))
      },
      Some("""WITH RECURSIVE seed AS (SELECT DISTINCT l_partkey AS p
             |   FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |   WHERE o_custkey = 0),
             | edges AS (SELECT DISTINCT a.l_partkey AS src,
             |     b.l_partkey AS dst
             |   FROM lineitem a JOIN lineitem b
             |     ON a.l_orderkey = b.l_orderkey
             |   WHERE a.l_partkey <> b.l_partkey),
             | bfs AS (SELECT p AS node, 0 AS hop FROM seed
             |   UNION
             |   SELECT e.dst, bfs.hop + 1 FROM bfs
             |     JOIN edges e ON e.src = bfs.node
             |   WHERE bfs.hop < 2),
             | mh AS (SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node)
             | SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_nodes
             | FROM mh GROUP BY hop ORDER BY hop""".stripMargin),
      "bounded BFS reachability (recursive-CTE shape) via iterative " +
        "frontier joins with anti-join visited pruning, min-hop counts"))
}
