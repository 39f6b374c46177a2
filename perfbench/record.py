#!/usr/bin/env python3
"""Record the values the benchmark's sampling and correctness checks use.

    python3 perfbench/record.py [--pipeline-seeds N]

Sweep: runs every registered query cold and warm on the generated tables in
two fresh JVMs. The first clears graft's caches before every cold query, so
each query pays for, and so reveals, the cache builds it needs; the second
runs in reversed order with caches shared as usual. A query is pooled only
if all four executions return the same row count and checksum; the others
are listed under "excluded" with the reason. For each pooled query it
records its module, cold and warm seconds net of cache builds, the caches
it reads, its row count and checksum; each cache's build seconds go under
"builds". The first recording chooses the sweep's panel from the pool
(choose_panel); later recordings keep it.

Pipeline: runs the pipeline workload for a few seeds and records the
labeled row count and the range of smoke accuracies seen (the exact value
depends on the seeded split).

Re-record only when a change is meant to alter query results, and say so
in the change's notes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def registry(cp):
    out = subprocess.run(["java", "-cp", cp, "perfbench.ListQueries"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return [line.split("\t") for line in out.splitlines() if line.strip()]


def sweep_all(cp, queries, tag, isolate):
    run_dir = os.path.join(run.BUILD, "record", tag)
    data = run.data_dir(run.SF)
    payload = {"workload": "sweep", "trace": False, "run_id": f"record-{tag}",
               "cores": run.cores(), "data_dir": data,
               "tmp_dir": os.path.join(run_dir, "tmp"),
               "sweep": {"queries": queries, "isolate": isolate}}
    _, res = run.jvm(cp, run_dir, payload, "main", 7200)
    run.cleanup(run_dir)
    for r in res["queries"]:
        for b in r["builds"]:
            b["key"] = f'{b["cache"]}:{b["key"].replace(data, "")}'
    return res["queries"]


def record_sweep(cp):
    queries = registry(cp)
    isolated = sweep_all(cp, queries, "isolated", True)
    shared = sweep_all(cp, list(reversed(queries)), "shared", False)
    build_secs = {}
    for r in isolated:
        if r["pass"] == "cold":
            for b in r["builds"]:
                build_secs.setdefault(b["key"], []).append(b["s"])
    builds = {k: round(statistics.median(v), 3) for k, v in build_secs.items()}
    seen = {}
    for r in isolated + shared:
        seen.setdefault(r["query"], []).append(r)
    pool, excluded = {}, {}
    for name, module in queries:
        rs = seen[name]
        errors = [r["error"] for r in rs if "error" in r]
        results = {(r["rows"], r["checksum"]) for r in rs if "error" not in r}
        if errors:
            excluded[name] = f"throws on the generated tables: {errors[0][:160]}"
            continue
        if len(results) != 1:
            excluded[name] = "row count or checksum differs between executions"
            continue
        cold = next(r for r in isolated if r["query"] == name and r["pass"] == "cold")
        warm = next(r for r in shared if r["query"] == name and r["pass"] == "warm")
        rows, checksum = results.pop()
        pool[name] = {
            "module": module,
            "cold": round(cold["seconds"] - sum(b["s"] for b in cold["builds"]), 3),
            "warm": round(warm["seconds"] - sum(b["s"] for b in warm["builds"]), 3),
            "caches": sorted(b["key"] for b in cold["builds"]),
            "rows": rows, "checksum": checksum}
    return pool, builds, excluded


def choose_panel(pool, builds, max_build_s=2.0):
    """The sweep's fixed panel, one query per module, so a run's cost does
    not hinge on the seed. Only queries whose cache builds take at most
    `max_build_s` (the run budget) are eligible. First, so that the cold
    pass builds a ModelCache and a FrameCache entry, the cheapest reader of
    each (in that order, from a module not yet on the panel) stands for
    its module. Every other module contributes the query whose recorded
    cost (cold + warm + cache builds) is the module's median. (Every
    TrainingCache reader's builds take 3.8 s or more.)"""
    def build(name):
        return sum(builds[c] for c in pool[name]["caches"])

    def cost(name):
        return pool[name]["cold"] + pool[name]["warm"] + build(name)
    eligible = [n for n in sorted(pool) if build(n) <= max_build_s]
    picks = {}
    for cache in ("model:", "frame:"):
        reader = min((n for n in eligible if pool[n]["module"] not in picks
                      and any(c.startswith(cache) for c in pool[n]["caches"])),
                     key=lambda n: (cost(n), n))
        picks[pool[reader]["module"]] = reader
    modules = {}
    for name in eligible:
        modules.setdefault(pool[name]["module"], []).append(name)
    for module, names in modules.items():
        ranked = sorted(names, key=lambda n: (cost(n), n))
        picks.setdefault(module, ranked[(len(ranked) - 1) // 2])
    return [[picks[m], m] for m in sorted(picks)]


def record_pipeline(cp, seeds):
    accs, labeled = [], set()
    for seed in range(1, seeds + 1):
        run_dir = os.path.join(run.BUILD, "record", f"pipeline-{seed}")
        payload = run.payload_for(
            argparse.Namespace(workload="pipeline", seed=seed),
            f"record-pipeline-{seed}", run_dir, False, None)
        _, res = run.jvm(cp, run_dir, payload, "main", 900)
        run.cleanup(run_dir)
        if res["failures"]:
            raise SystemExit(f"pipeline seed {seed} failed: {res['failures']}")
        accs.append(res["accuracy"])
        labeled.add(res["labeled_rows"])
    if len(labeled) != 1:
        raise SystemExit(f"labeled row count varies: {labeled}")
    margin = 0.1  # about five standard deviations of the seeds seen
    return {"labeled_rows": labeled.pop(), "accuracies_seen": accs,
            "accuracy_range": [round(min(accs) - margin, 4),
                               round(max(accs) + margin, 4)]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pipeline-seeds", type=int, default=5)
    ap.add_argument("--only", choices=("sweep", "pipeline"))
    args = ap.parse_args()
    cp, _ = run.build()
    expected = {}
    if os.path.exists(run.EXPECTED):
        with open(run.EXPECTED) as fh:
            expected = json.load(fh)
    if args.only in (None, "sweep"):
        pool, builds, excluded = record_sweep(cp)
        # an existing panel is kept: changing it changes the benchmark
        expected.update(sweep=pool, builds=builds, excluded=excluded,
                        panel=expected.get("panel") or choose_panel(pool, builds))
        print(f"sweep pool {len(pool)} queries, excluded {len(excluded)}")
    if args.only in (None, "pipeline"):
        expected["pipeline"] = record_pipeline(cp, args.pipeline_seeds)
        print(f"pipeline accuracies {expected['pipeline']['accuracies_seen']}")
    with open(run.EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
