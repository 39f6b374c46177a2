package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Machine-checked plan audits for the shapes SCALE.md claims: filters
  * and projections reach the parquet scan, dimension joins broadcast,
  * range joins hash, aggregates partial-aggregate. These are the
  * properties that decide 100 TB behavior — asserted here so a
  * regression in plan shape fails CI, not just a benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q_p2: predicate + projection reach the scan") {
    val p = planOf("q_p2_projection_filter")
    assert(p.contains("GreaterThan(p_size,30)"), p.take(2000))
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_size:int>"))
  }

  test("q_q6: every predicate pushed; 4-column read schema") {
    val p = planOf("q_q6_selective_agg")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
        "l_discount:double,l_shipdate:timestamp_ntz>"))
  }

  test("q_join_broadcast: dimension join broadcasts, fact side unshuffled") {
    val p = planOf("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_range_join: no nested loop, no cartesian") {
    val p = planOf("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_q1: partial+final hash aggregation (map-side combine)") {
    val p = planOf("q_q1_pricing_summary")
    assert(p.contains("partial_sum"))
    assert(p.contains("HashAggregate"))
  }

  test("q_dedup_exact_keep: digest window is the only wide stage") {
    val p = planOf("q_dedup_exact_keep")
    // one Exchange for the hash-partition by digest, one for the output
    // total order (oracle contract); no join anywhere
    assert(!p.contains("Join"))
    assert(p.contains("md5"))
  }

  test("q_ann_brute_topk: probes broadcast, corpus side never shuffled") {
    val p = planOf("q_ann_brute_topk")
    // the probe side is tiny and carries a non-equi condition
    // (probe_id != neighbor_id), so the right shape is a broadcast
    // nested-loop over the corpus scan — one map-side pass, no corpus
    // shuffle, never a sort-merge join
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
  }

  test("near-dup candidate joins are banded equi-joins, never cartesian") {
    // MinHash bands and SimHash chunks must join bucket-locally; a
    // cartesian product here is the all-pairs blowup the whole design
    // exists to avoid
    assert(!planOf("q_minhash_neardup").contains("CartesianProduct"))
    assert(!planOf("q_simhash_neardup").contains("CartesianProduct"))
    assert(!planOf("q_dedup_embedding").contains("CartesianProduct"))
  }

  test("q_q17: filtered part dim broadcasts; per-part agg is partial+final") {
    val p = planOf("q_q17_small_quantity")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("partial_sum"))
    assert(p.contains("EqualTo(p_brand,Brand#4)")) // pushed to the scan
  }

  test("q_q18: single fact aggregate — no semi-join re-scan, top-k sort") {
    // round-10 rewrite: o_orderkey functionally determines the
    // (c_name, o_orderkey) group, so the per-order HAVING sum IS the
    // final measure — the classic semi-join + second fact aggregate
    // would scan and shuffle lineitem twice for identical output
    val p = planOf("q_q18_large_orders")
    assert(!p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // exactly one aggregation subtree over the fact: a partial+final
    // HashAggregate pair = 2 operator INSTANCES. Count "(n) HashAggregate"
    // operator-id headers in the details section — raw substring
    // frequency also counted the tree-section duplicates, coupling the
    // test to the formatted-explain layout (round-10 advice)
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size == 2,
      p.take(2000))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_q4: EXISTS runs as a left-semi join with the date filter pushed") {
    val p = planOf("q_q4_order_priority")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"))
    assert(p.contains("EqualTo(l_returnflag,R)"))
  }

  test("q_q5: the three hinted dims broadcast; no cartesian/nested loop") {
    val p = planOf("q_q5_local_supplier")
    // region→nation→supplier carry explicit broadcast() hints, so at
    // least three BroadcastHashJoins must survive planning at ANY data
    // size; the orders/customer legs are fact-sized and legitimately
    // shuffle at scale (auto-broadcast at toy scale is not asserted)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // region gate pushed into the region scan
    assert(p.contains("EqualTo(r_name,ASIA)"))
  }

  test("q_q10: return-flag filter pushed to the fact scan; top-k take-ordered") {
    val p = planOf("q_q10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_q16: exclusion is a broadcast anti-join") {
    val p = planOf("q_q16_supplier_count")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q_q19: disjunction stays one join; quantity envelope pushed") {
    val p = planOf("q_q19_disjunctive_join")
    // one broadcast hash join — the OR-of-ANDs must not expand into a
    // union of scans or degrade to a nested loop
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"))
  }

  test("q_q7: nation-pair disjunction stays one spine; date filter pushed") {
    val p = planOf("q_q7_volume_shipping")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Union"), p.take(2000)) // never two mirrored plans
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_q8: part-type gate pushed; share ratio needs no extra pass") {
    val p = planOf("q_q8_market_share")
    assert(p.contains("EqualTo(p_type,PROMO)"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // numerator and denominator are one partial+final aggregation
    assert(p.contains("partial_sum"))
  }

  test("q_q13: outer join preserved; priority filter pushed to orders scan") {
    val p = planOf("q_q13_customer_distribution")
    assert(p.contains("LeftOuter"), p.take(2000))
    // the o_orderpriority gate belongs to the orders side only — pushing
    // it below the outer join keeps zero-order customers intact
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_q15: scalar-max joins broadcast on the exact decimal total") {
    val p = planOf("q_q15_top_supplier")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_q21: decorrelated to one fact shuffle; no semi/anti self-joins") {
    // round-9 rewrite: the EXISTS/NOT-EXISTS pair is decorrelated into
    // two pipelined aggregations over ONE explicit repartition by
    // l_orderkey (hashpartitioning on a grouping-key subset satisfies
    // both clusterings) — the old semi+anti self-join plan (3 fact
    // shuffles + per-pair non-equi evaluation) must never come back
    val p = planOf("q_q21_waiting_supplier")
    assert(!p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
    // exactly one fact Exchange: the user repartition by orderkey feeds
    // BOTH aggregations; the only other hash Exchange is the tiny
    // post-filter regroup by s_name (supplier-count-sized, not fact-sized)
    assert("REPARTITION_BY_COL".r.findAllIn(p).size == 1, p.take(3000))
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 2, p.take(3000))
    // both stacked aggregations stay in HashAggregate — the waiting
    // supplier rides two primitive maxes, so no struct buffer forces a
    // per-partition Sort + SortAggregate into the fact pipeline
    assert(!p.contains("SortAggregate"), p.take(3000))
    assert(p.contains("BroadcastHashJoin")) // supplier dim
    assert(p.contains("TakeOrderedAndProject")) // top-10, no global sort
  }

  test("q_q22: dormant-customer exclusion is an anti join; threshold broadcasts") {
    val p = planOf("q_q22_global_sales")
    assert(p.contains("LeftAnti"), p.take(2000))
    // the 1-row scalar threshold rides a broadcast (nested-loop over a
    // single row is the right plan); a CartesianProduct would mean the
    // broadcast was lost
    assert(!p.contains("CartesianProduct"))
  }

  test("q_q2: regional dim broadcasts into the grouped cost frame") {
    val p = planOf("q_q2_min_cost_supplier")
    // the supplier/nation/region spine and the size/type-filtered part
    // dim must broadcast; the per-(part,supp) cost agg partial-aggregates
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_min"))
  }

  test("q_q9: name-filtered part dim broadcasts; fact scans 6 columns") {
    val p = planOf("q_q9_product_profit")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("Contains(p_name,red)"), p.take(2000))
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
        "l_suppkey:bigint,l_quantity:double,l_extendedprice:double," +
        "l_discount:double>"))
  }

  test("q_q11: scalar total broadcasts back over the group aggregate") {
    val p = planOf("q_q11_important_stock")
    // supplier shortlist broadcasts; the 1-row total joins the per-part
    // aggregate via a broadcast nested loop over one row (correct) —
    // never a shuffled cartesian
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum"))
  }

  test("q_q20: both shortlist gates are semi joins; part ids broadcast") {
    val p = planOf("q_q20_part_promotion")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // the name prefix filter evaluates on the part scan side
    assert(p.contains("StartsWith(p_name,small)"))
  }

  test("q_embedding_quantize: map-only — no join, no aggregate exchange") {
    val p = planOf("q_embedding_quantize")
    // the only exchange allowed is the final rangepartitioning for the
    // oracle's total order; quantization itself is a pure projection
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
  }

  test("q_embedding_centroid: partial+final agg, no join") {
    val p = planOf("q_embedding_centroid")
    assert(p.contains("partial_sum"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q_bm25_search: global stats broadcast; no shuffled cartesian") {
    val p = planOf("q_bm25_search")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("partial_sum"), p.take(2000))
  }

  test("q_seq_packing: packing window is shard-partitioned, never global") {
    val p = planOf("q_seq_packing")
    assert(p.contains("Window"), p.take(2000))
    // the window spec must carry the shard partition key — an empty
    // partitionBy would funnel the corpus through one task
    assert("""windowspecdefinition\(shard""".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("q_centroid_classify: centroids broadcast; no sort-merge join") {
    val p = planOf("q_centroid_classify")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("cosine_sim"), p.take(2000))
  }

  test("q_unigram_logprob: frequency table broadcasts back to the scan") {
    val p = planOf("q_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("partial_sum"), p.take(2000))
  }

  test("q_cosine_adjacent: native cosine inside whole-stage codegen") {
    val df = SparkEntry.queries("q_cosine_adjacent")(spark, sf001)
    df.collect() // AQE: codegen spans only exist in the executed final plan
    val p = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage;
    // the project computing cosine_sim must carry it
    assert(p.contains("isFinalPlan=true"))
    assert("""\*\(\d+\) Project \[vec_id.*cosine_sim""".r
      .findFirstIn(p).isDefined, p.take(1500))
  }

  test("q_gopher_rules: map-only scoring — no exchange before the " +
      "output order") {
    val p = planOf("q_gopher_rules")
    // every rule is a projection over the scan: no join, no aggregate,
    // no window; the single Exchange is the oracle-contract total order
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // formatted explain names each node twice (tree + detail section)
    assert(p.split("Exchange").length - 1 <= 2, p.take(2000))
  }

  test("q_feature_hashing: partial+final count by (doc, bucket)") {
    val p = planOf("q_feature_hashing")
    assert(p.contains("partial_count"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q_zorder_layout: pure projection + one partial+final aggregate") {
    val p = planOf("q_zorder_layout")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("partial_count"), p.take(2000))
    // morton key built from shifts/masks — no UDF, stays codegen-able
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      p.take(2000))
  }

  test("q_pagerank_links: node count broadcasts; rank joins hash-key") {
    val p = planOf("q_pagerank_links")
    // the 1-row count rides a broadcast nested-loop cross join (benign:
    // 1 row); the rank->edge joins must be hash joins, never cartesian
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_compression_ratio: deflate pass adds no shuffle of its own") {
    val p = planOf("q_compression_ratio")
    // mapPartitions (DeserializeToObject/MapPartitions/SerializeFromObject)
    // preserves partitioning; the only Exchange is the output total order
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(p.split("Exchange").length - 1 <= 2, p.take(2000))
    // pushdown survives: the doc_id/n_chars filters reach the scan
    assert(p.contains("LessThan(doc_id,100)"), p.take(2000))
  }

  test("q_unpivot_melt: one scan feeds the Expand; agg partial-aggregates") {
    val p = planOf("q_unpivot_melt")
    // stack() must plan as a map-side Generate over a SINGLE scan — four
    // per-measure re-scans would read the fact table 4x at 100 TB
    assert(p.contains("Generate"), p.take(2000))
    // formatted explain names each node twice (tree + details): one
    // physical scan == exactly 2 textual occurrences
    assert(p.split("Scan parquet").length - 1 == 2, p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q_weighted_median: window input is the value-grain aggregate") {
    val p = planOf("q_weighted_median")
    // the ordered window must consume the (flag, quantity) aggregate
    // (<= 50 rows per flag), never the raw fact rows — that pre-reduce
    // is what keeps the exact median cheap at any scale
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q_fuzzy_join: blocked linkage is a hash join, never cartesian") {
    val p = planOf("q_fuzzy_join")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("q_rolling_dau: contribution explode is map-side; bounds broadcast") {
    val p = planOf("q_rolling_dau")
    // the 7x window expansion must be a Generate (explode) with no
    // extra shuffle of its own; the maxd bound joins as a broadcast
    assert(p.contains("Generate"), p.take(3000))
    assert(p.contains("Broadcast"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_interval_union: every window hash-partitions by user") {
    val p = planOf("q_interval_union")
    // no single-partition funnel anywhere: islands and their rollup all
    // run under hashpartitioning(user_id); the only range exchange is
    // the final presentation sort
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
  }

  test("q_pattern_match: journey build is a partial object aggregate") {
    val p = planOf("q_pattern_match")
    assert(p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q_cdc_apply: op resolution windows by key, never one task") {
    val p = planOf("q_cdc_apply")
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q_bfs_reach: frontier hops are hash joins, never cartesian") {
    val p = planOf("q_bfs_reach")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // round-14: per-hop anti-join pruning replaced by a final min(hop)
    // re-rank (each anti-join shuffled BOTH sides per hop and deepened
    // the re-executed lineage; at a 2-hop bound pruning never pays —
    // row-equal to the anti-join form, OPTIMIZATION_r14.md Item 4).
    // The contract is now ZERO anti-joins and a hop-label union feeding
    // a per-node min aggregate.
    assert(!p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("Union"), p.take(3000))
    assert(p.contains("min(hop"), p.take(3000))
  }

  test("q_bfs_reach: NO broadcast hint anywhere — frontier and visited " +
      "are both data-dependent, so AQE alone decides join strategy") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // both BFS frames are data-dependent: visited grows toward the full
    // reachable set (round-5 scale-killer), and the frontier itself can
    // be a large node-set fraction after one hop from a hub seed (the
    // round-6 residual). A forced broadcast of either OOMs at cluster
    // scale; AQE still picks broadcast at runtime while the frame is
    // actually small — so the correct hint count here is ZERO.
    val df = SparkEntry.queries("q_bfs_reach")(spark, sf001)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty,
      s"unexpected join hint in BFS:\n${hints.map(_.treeString.take(800)).mkString}")
  }

  test("q_triangle_count: degree-oriented — the only nested-loop joins " +
      "are the two single-row scalar combines") {
    val p = planOf("q_triangle_count")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // count numbered node headers — formatted explain also repeats each
    // node in the tree sketch, which would double the count
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(bnlj == 2, s"expected exactly the 2 scalar cross-combines, got $bnlj")
    // wedge generation and closure must stay equi-joins on real keys
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_sessionize_batch: consumes the shared sessionization frame " +
      "from the in-memory cache (one events window pass per session)") {
    // any interval consumer builds the FrameCache entry; this one's plan
    // must then scan its checkpoint, and hold none of the build's window
    // subplan
    val p = planOf("q_sessionize_batch")
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q_sliding_hll: sketches union via object agg; fan-out is a " +
      "Generate") {
    val p = planOf("q_sliding_hll")
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(p.contains("Generate"), p.take(3000))
  }

  test("q_benford_audit: expectation table broadcasts; one count pass") {
    val p = planOf("q_benford_audit")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_multi_distinct: Expand plan, one scan, no per-distinct re-scan") {
    val p = planOf("q_multi_distinct")
    assert(p.contains("Expand"), p.take(3000))
    assert(p.split("Scan parquet").length - 1 == 2, p.take(3000))
  }

  test("q_ks_drift: both ECDFs ride the bucket-partitioned two-phase " +
      "prefix-sum scan — no grain-scale single-task funnel") {
    val p = planOf("q_ks_drift")
    // the point of ExactStats.ksStat's PrefixSum.localScan: the GRAIN
    // rows only ever flow through a window partitioned by the scan
    // bucket (parallel), and the only single-partition segment is the
    // exclusive scan of the B bucket AGGREGATES (B = O(parallelism)
    // rows — the same information the old RDD form collected to the
    // driver)
    assert(p.contains("hashpartitioning(__pfx_b"), p.take(3000))
    val sp = "Exchange SinglePartition".r.findAllIn(p).length
    assert(sp <= 1,
      s"expected at most the one bucket-aggregate funnel, got $sp:\n" +
        p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_kmeans_lloyd: centroids broadcast into assignment; recompute " +
      "partial-aggregates") {
    val p = planOf("q_kmeans_lloyd")
    // the corpus x centroids cross is a broadcast nested loop over the
    // k-row centroid frame (never a shuffled cartesian), and the
    // (cid, pos) recompute must map-side combine
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000))
  }

  test("q_ann_pq_topk: ADC scan is a broadcast (sub, code) lookup join") {
    val p = planOf("q_ann_pq_topk")
    // the probe distance tables are tiny and explicitly broadcast; the
    // corpus code table joins them by (sub, code) equality — a hash
    // join, never a cartesian over corpus vectors
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_curation_pipeline: composed chain stays cartesian-free with " +
      "shard-partitioned packing windows and no single-task funnel") {
    val p = planOf("q_curation_pipeline")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the packing window must carry the shard partition key
    assert("""windowspecdefinition\(shard""".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
    // the minhash pair set must come from the session FrameCache's
    // checkpoint, not a fresh LSH pass per pipeline run: none of the
    // build's cross/within-band union is in the plan
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert(!p.contains("Union"), p.take(3000))
  }

  test("q_containment_dedup: blocking + verify are equi-joins, never " +
      "cartesian") {
    val p = planOf("q_containment_dedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_cusum_drift: ordered window consumes the day grain only") {
    val p = planOf("q_cusum_drift")
    // the global-order window is the documented bounded-grain pattern:
    // its input must be the day aggregate (HashAggregate below Window),
    // and the totals ride broadcast joins
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  /** Run `body` with auto-broadcast disabled: the iterative graph pins
    * assert the AT-SCALE co-location shape (SMJ consuming the cached
    * layout), which toy-SF statistics hide behind broadcast joins —
    * adaptivity choosing broadcast while small is correct and separately
    * audited, but it is not the property these tests pin.
    */
  private def withoutAutoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("q_bfs_reach: src-bucketed edge cache — no per-hop edge re-shuffle") {
    withoutAutoBroadcast {
      val p = planOf("q_bfs_reach")
      // the edge list is consumed from the cache's checkpoint, with
      // none of its build (the collect_set dedup) in the plan...
      assert(p.contains("Scan ExistingRDD"), p.take(2000))
      assert(!p.contains("ObjectHashAggregate"), p.take(2000))
      // ...and no hop re-shuffles it: an ENSURE_REQUIREMENTS exchange
      // over the 2-column (src, dst) pair frame is exactly the per-hop
      // edge shuffle the bucketed layout removes (only the small
      // frontier, keyed on `node`, may move per hop). The cached
      // build's own src exchange is not in the plan at all: the entry
      // is a checkpoint.
      val edgeShuffle =
        ("""Input \[2\]: \[src#\d+L, dst#\d+L\]\n""" +
          """Arguments: hashpartitioning\(src#\d+L, \d+\), """ +
          """ENSURE_REQUIREMENTS""").r
      assert(edgeShuffle.findAllIn(p).isEmpty,
        "edge list re-shuffled at a hop join:\n" + p.take(3000))
    }
  }

  test("q_pagerank_links: cached edges never re-shuffle per iteration") {
    withoutAutoBroadcast {
      val p = planOf("q_pagerank_links")
      // the degree-annotated edge list is cached hash(src)-partitioned
      // (graph/PageRank.scala edgeCacheKey) and read from the cache's
      // checkpoint, with none of its build (the src repartition) in the
      // plan...
      assert(p.contains("Scan ExistingRDD"), p.take(2000))
      assert(!p.contains("REPARTITION_BY_COL"), p.take(2000))
      // ...and no join ever re-shuffles it: an ENSURE_REQUIREMENTS
      // exchange over the 3-column (src, dst, __deg) frame is exactly
      // the per-iteration edge shuffle the layout removes. (The rank
      // frame's own exchanges hash on src too after its rename, so the
      // pin keys on the edge frame's column signature, not the name;
      // and in fact only iteration 1's rank frame shuffles at all —
      // later ranks arrive hash(doc_id)-partitioned from the dst
      // aggregate and the alias-aware projection carries that through.)
      val edgeShuffle =
        ("""Input \[3\]: \[src#\d+L, dst#\d+L, __deg#\d+L\]\n""" +
          """Arguments: hashpartitioning\(src#\d+L, \d+\), """ +
          """ENSURE_REQUIREMENTS""").r
      assert(edgeShuffle.findAllIn(p).isEmpty,
        "edge list re-shuffled inside the iteration loop:\n" + p.take(3000))
    }
  }
}
