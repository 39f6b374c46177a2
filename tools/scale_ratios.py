#!/usr/bin/env python3
"""Per-family sf0.1 -> sf1 scaling ratios from two bench_full.json runs.

The empirical backing for the 100x design claims: a query family whose
median time scales ~linearly (ratio ~= 10 at 10x data, minus fixed
per-query overhead) has no hidden super-linear stage; a family scaling
WORSE than the data factor is flagged for plan inspection.

Usage: python3 tools/scale_ratios.py bench_small.json bench_big.json [factor]
"""
import json
import re
import sys

FAMILIES = [
    ("tpch", r"^q_q\d+"),
    ("etl/prep", r"^q_(p\d+|u\d+|join|asof|range_join|fuzzy_join|f\d+)"),
    ("agg/stats", r"^q_(a\d+|approx_quantiles|multi_distinct|weighted_median|"
     r"outlier|skew_profile|corr_matrix|benford|wilson|chi2|welch|cohens|"
     r"autocorr|gini|auc|calibration|decile|entropy|kl_shards)"),
    ("dedup/neardup", r"^q_(dedup|minhash|simhash|containment|neardup|"
     r"sentence_dedup|canonical|survivorship|fingerprint|ngram_jaccard|"
     r"edit_distance)"),
    ("ann/embedding", r"^q_(ann|embedding|cosine|kmeans|centroid_classify)"),
    ("text/corpus", r"^q_(lang|quality|token|text|gopher|repetition|html|"
     r"pii|decontaminate|unicode|url|vocab|tfidf|bm25|unigram|bigram|pmi|"
     r"wordpiece|compression|feature_hashing|doc_chunking|seq_packing|"
     r"curriculum|mixture|epoch|alpha|corpus|curation_pipeline|"
     r"incremental_curation|chat_turns|pad_waste|negative_sample|"
     r"reservoir|weighted_sample|global_shuffle|group_split)"),
    ("sketch", r"^q_(hll|cms|sliding_hll)"),
    ("graph/mining", r"^q_(pagerank|triangle|bfs|market_basket|top_paths|"
     r"topk_per_group|skyline|pattern_match)"),
    ("behavior/events", r"^q_(funnel|cohort|sessionize|session_stats|"
     r"max_concurrency|"
     r"interval|event_transitions|rolling_dau|dow_profile|rfm|"
     r"time_weighted|ts_gapfill|moving_window|window_running|cdc|scd2|"
     r"snapshot|stream_sessionize|cusum|heavy_changes|ks_drift|psi_drift|"
     r"mann_whitney)"),
    ("ml", r"^q_(l\d+|m\d+|cv_folds|robust_scale|k_anonymity)"),
]


def family(name):
    for fam, pat in FAMILIES:
        if re.match(pat, name):
            return fam
    return "other"


def pick(d, use_min):
    """Per-query seconds: medians by default; with --min, the fastest
    rep from rep_samples (stall-robust — the sandbox host shows 1-2-min
    external stall windows that poison medians of whichever query runs
    inside them; the MIN of n deterministic reps is the cleanest
    estimate of intrinsic cost for RATIO analysis; committed bench
    artifacts always keep the medians)."""
    qs = dict(d.get("queries", d))
    if use_min:
        for k, samples in d.get("rep_samples", {}).items():
            if samples and qs.get(k, -1) >= 0:
                qs[k] = min(samples)
    return qs


def golden(prev_path, cur_path):
    """Before/after deltas on two bench_full.json runs at the same scale
    factor, core count and query selection (e.g. the parent and the
    change over one SPARK_GRAFT_ONLY subset), so a delta IS a code delta. Regressions are judged on the
    MIN rep (stall-robust); medians are shown for context. Flag
    threshold 1.3x + 0.3s absolute — below that is JIT/host jitter
    even in a quiet window."""
    prev = json.load(open(prev_path))
    cur = json.load(open(cur_path))
    pm, cm = prev.get("queries", {}), cur.get("queries", {})
    pmin = {k: min(v) for k, v in prev.get("rep_samples", {}).items() if v}
    cmin = {k: min(v) for k, v in cur.get("rep_samples", {}).items() if v}
    names = sorted(set(pm) & set(cm))
    print(f"| query | prev med | cur med | prev min | cur min | "
          f"min delta |")
    print("|---|---|---|---|---|---|")
    flagged = []
    for n in names:
        a, b = pmin.get(n, pm[n]), cmin.get(n, cm[n])
        mark = ""
        if b > 1.3 * a and b - a > 0.3:
            mark = " **REGRESSED**"
            flagged.append(n)
        elif a > 1.3 * b and a - b > 0.3:
            mark = " (improved)"
        print(f"| {n} | {pm[n]:.2f} | {cm[n]:.2f} | {a:.2f} | {b:.2f} | "
              f"{b - a:+.2f}{mark} |")
    print(f"| **total** | {sum(pm[n] for n in names):.1f} | "
          f"{sum(cm[n] for n in names):.1f} | "
          f"{sum(pmin.get(n, pm[n]) for n in names):.1f} | "
          f"{sum(cmin.get(n, cm[n]) for n in names):.1f} | |")
    if flagged:
        print(f"\nREGRESSED (min rep >1.3x and >0.3s): {flagged}")
        sys.exit(1)


def main():
    args = [a for a in sys.argv[1:] if a not in ("--min", "--golden")]
    use_min = "--min" in sys.argv[1:]
    if "--golden" in sys.argv[1:]:
        golden(args[0], args[1])
        return
    small = json.load(open(args[0]))
    big = json.load(open(args[1]))
    factor = float(args[2]) if len(args) > 2 else 10.0
    qs = pick(small, use_min)
    qb = pick(big, use_min)
    fams = {}
    for name, t_s in qs.items():
        if name not in qb or t_s is None or qb[name] is None:
            continue
        if t_s < 0 or qb[name] < 0:
            continue
        fams.setdefault(family(name), []).append((name, t_s, qb[name]))
    print(f"| family | n | sf0.1 sum (s) | sf1 sum (s) | ratio | "
          f"worst query (ratio) |")
    print("|---|---|---|---|---|---|")
    tot_s = tot_b = 0.0
    for fam in sorted(fams):
        rows = fams[fam]
        s = sum(r[1] for r in rows)
        b = sum(r[2] for r in rows)
        tot_s += s
        tot_b += b
        worst = max(rows, key=lambda r: (r[2] / r[1]) if r[1] > 0.05 else 0)
        wr = worst[2] / worst[1] if worst[1] > 0 else float("inf")
        print(f"| {fam} | {len(rows)} | {s:.1f} | {b:.1f} | "
              f"{b / s:.1f}x | {worst[0]} ({wr:.1f}x) |")
    print(f"| **total** | {sum(len(v) for v in fams.values())} | "
          f"{tot_s:.1f} | {tot_b:.1f} | {tot_b / tot_s:.1f}x | "
          f"data factor {factor:.0f}x |")
    # queries scaling worse than the data factor deserve a look
    flagged = [(n, s, b) for rows in fams.values() for (n, s, b) in rows
               if s > 0.2 and b / s > factor * 1.5]
    if flagged:
        print("\nscaling worse than 1.5x the data factor "
              "(>0.2 s at small sf):")
        for n, s, b in sorted(flagged, key=lambda r: -r[2] / r[1]):
            print(f"  {n}: {s:.2f}s -> {b:.2f}s ({b / s:.1f}x)")


if __name__ == "__main__":
    main()
