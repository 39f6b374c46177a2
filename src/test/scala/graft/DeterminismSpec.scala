package graft

import org.apache.spark.sql.DataFrame

/** The QueryDef determinism contract, machine-checked: oracle query
  * results must not depend on the physical partitioning. A
  * representative set spanning every shape that could leak partition
  * order (window dedup, decimal aggregation, top-k with ties, range
  * join, digest grouping) is run at two shuffle-partition settings and
  * compared row-for-row — the same invariance that makes results stable
  * between a local run and a 1000-executor cluster.
  */
class DeterminismSpec extends SparkSpec {

  private val Sampled = Seq(
    "q_q1_pricing_summary", "q_dedup_exact_keep", "q_vocab_topk",
    "q_range_join", "q_sessionize_batch", "q_corpus_curation",
    "q_a4a5_mean_std", "q_cosine_adjacent",
    // the in-query quality gates: their boolean/count invariants must
    // not flip with physical partitioning (seeded LSH/KMeans/banding)
    "q_simhash_neardup", "q_fingerprint_rolling", "q_ann_brute_topk",
    "q_ann_lsh_topk", "q_dedup_exact_stats", "q_mm_image_decode",
    // round-4 batch-assembly ops: packing bins (window cumsum), BM25
    // ranking (float-score order), fixed-point centroid sums, and the
    // hash-ordered reservoir must all be partitioning-invariant
    "q_seq_packing", "q_bm25_search", "q_embedding_centroid",
    "q_reservoir_sample", "q_corpus_upsert", "q_approx_quantiles",
    "q_canonical_select", "q_incremental_curation", "q_unigram_logprob",
    "q_centroid_classify", "q_cms_heavy_hitters", "q_ts_gapfill",
    "q_a17_grouping_sets",
    // round-5 ops: fixed-point PageRank, sentence-dedup windows,
    // deflate invariants, sketch-merge bands, hash-ranked negatives,
    // the epoch permutation, and the bigram fixed-point sums must all
    // survive a repartitioning unchanged
    "q_pagerank_links", "q_sentence_dedup", "q_compression_ratio",
    "q_hll_shard_merge", "q_negative_sample", "q_epoch_schedule",
    "q_bigram_logprob", "q_zorder_layout", "q_group_split",
    // mining + eval batteries: basket pair counts, wedge joins,
    // fixed-point KL/entropy integer reduces, percentile-threshold
    // segments, the AUC rank-sum window, and split-division fixed
    // points must not depend on physical partitioning
    "q_market_basket", "q_triangle_count", "q_kl_shards",
    "q_entropy_profile", "q_rfm_segmentation", "q_auc_rank",
    "q_calibration_bins", "q_cohens_kappa", "q_gini_sources",
    "q_pad_waste", "q_alpha_mixture", "q_chi2_independence",
    // round-5 additions: melt aggregation, bounded-cardinality weighted-
    // median windows, sufficient-stat t, rolling-DAU explode+distinct,
    // interval-union islands (incl. start-tie collapsing), journey-string
    // regex counts, blocked levenshtein linkage, sketch-overlap bands
    "q_unpivot_melt", "q_weighted_median", "q_welch_ttest",
    "q_rolling_dau", "q_interval_union", "q_pattern_match",
    "q_fuzzy_join", "q_hll_overlap",
    // ordered CDC resolution, iterative BFS frontiers, and sketch
    // fan-out unions must all be partitioning-invariant
    "q_cdc_apply", "q_bfs_reach", "q_sliding_hll",
    // stats battery: one-mint float formulas over exact keyed counts,
    // integer-exact CUSUM deviations, ldiv ppm deviations, and the
    // day-grain ordered windows must all be partitioning-invariant
    "q_wilson_ci", "q_autocorr_lag", "q_benford_audit",
    "q_cusum_drift", "q_dow_profile", "q_f15_null_edge_funcs",
    // the two-phase running-max front and the fixed-point PSI terms
    // must survive a repartitioning unchanged
    "q_skyline_pareto", "q_psi_drift",
    // trigram path counts (tie-broken top-k) and the explicit
    // percentile crossing rule must survive a repartitioning unchanged
    "q_top_paths", "q_funnel_latency",
    // lambda folds and the Expand-planned multi-distinct must survive
    // a repartitioning unchanged
    "q_f16_lambda_funcs", "q_multi_distinct",
    "q_f17_window_rank_funcs", "q_decile_lift",
    // round-6 additions: fixed-point tf-idf ranks (ln-ulp ties broken by
    // term), the bounded top-k vocab slice, and cross-shard band-bucket
    // candidate generation must all survive a repartitioning unchanged
    "q_tfidf_topterms", "q_vocab_coverage", "q_neardup_incremental",
    // the two-column prefix-sum KS scan, the integer-Lloyd argmin /
    // floor-div centroid minting, and rarest-shingle blocking (struct-min
    // tie-break) must survive a repartitioning unchanged
    "q_ks_drift", "q_kmeans_lloyd", "q_containment_dedup",
    "q_ann_pq_topk", "q_mann_whitney", "q_cv_folds", "q_k_anonymity",
    // FILTERed max_by/min_by survivorship rules and the ldiv-ppm
    // top-movers cut must not depend on physical partitioning
    "q_survivorship_merge", "q_heavy_changes",
    // round-7: the composed curation chain threads survivor sets through
    // six kill/filter stages into shard-packed bins — every handoff must
    // survive a repartitioning unchanged; the streaming sessionization
    // gate (stateful session_window + watermark, append mode) must emit
    // the identical session set at any shuffle-partition setting
    "q_curation_pipeline", "q_stream_sessionize",
    // round-10: the bounded streaming gate's foreachBatch histogram merge
    // must be invariant to micro-batch partitioning
    "q_session_stats")

  private def rowsAt(name: String, partitions: Int): Seq[String] = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try {
      val df: DataFrame = SparkEntry.queries(name)(spark, sf0001)
      df.collect().map(_.toString).toSeq
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  for (name <- Sampled)
    test(s"$name is identical at 7 and 32 shuffle partitions") {
      assert(rowsAt(name, 7) === rowsAt(name, 32))
    }
}
