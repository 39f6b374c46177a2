#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload sweep|pipeline --seed N \\
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds graft and the
harness from source with sbt (offline) and generates the synthetic tables;
later runs reuse both from `.bench_build/`. Every file a run writes goes
under `.bench_build/runs/<run id>/`; see README.md.

The last line of standard output is
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}} with
the end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
EXPECTED = os.path.join(HERE, "expected.json")

HEAP = "4g"
MODULES = ["etl", "ml", "llm", "tpch", "corpus", "analytics", "pipeline",
           "behavior", "mining", "eval", "composition"]
SERVE = {"n_requests": 204, "n_bodies": 12, "train_every": 102,
         "timeout_s": 60, "check_bodies": 4}
# scale factor of the generated tables, both workloads
SF = 0.01
# p95 is the highest percentile with at least ten samples above it
MIN_PREDICTS = 200
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def build():
    """Compile graft and the harness unless the sources are unchanged
    since the last build; return the runtime classpath and the sources'
    digest."""
    for f in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise SystemExit(f"perfbench: no {f} at {ROOT}; run from a graft checkout")
    digest = hashlib.sha256()
    for f in _source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        out.write(proc.stdout)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: sbt build failed, see {BUILD}/build.log")
    cp = proc.stdout.strip().splitlines()[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp, stamp


def data_dir(sf):
    import gen_data
    d = os.path.join(BUILD, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(d, ".done")):
        log(f"generating sf{sf} tables")
        gen_data.write(d, sf)
    return d


# ----------------------------------------------------------------- runs

def jvm(cp, run_dir, payload, name, timeout):
    """Run the harness on one inputs document; return (launch epoch ms,
    result dict or None)."""
    os.makedirs(run_dir, exist_ok=True)
    in_path = os.path.join(run_dir, f"{name}.in.json")
    out_path = os.path.join(run_dir, f"{name}.out.json")
    with open(in_path, "w") as fh:
        json.dump(payload, fh)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={payload['tmp_dir']}",
            "-cp", cp, "perfbench.Harness", in_path, out_path]
    os.makedirs(payload["tmp_dir"], exist_ok=True)
    launched = time.time() * 1000.0
    with open(os.path.join(run_dir, f"{name}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            proc.wait(timeout=max(5.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"{name}: harness timed out after {timeout:.0f}s")
            return launched, None
    if not os.path.exists(out_path):
        log(f"{name}: harness exited {proc.returncode} without a result")
        return launched, None
    with open(out_path) as fh:
        return launched, json.load(fh)


def cores():
    """What `nproc` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def payload_for(args, run_id, run_dir, trace, expected):
    p = {"workload": args.workload, "trace": trace, "run_id": run_id,
         "cores": cores(), "data_dir": data_dir(SF),
         "tmp_dir": os.path.join(run_dir, "tmp")}
    if args.workload == "sweep":
        p["sweep"] = {"queries": inputs.sweep_order(args.seed, expected["panel"])}
    else:
        p["pipeline"] = {"split_seed": inputs.split_seed(args.seed)}
        bodies, requests = inputs.serve_stream(
            args.seed, SERVE["n_requests"], SERVE["n_bodies"],
            SERVE["train_every"])
        p["serve"] = {"clients": cores(), "bodies": bodies,
                      "requests": requests, "timeout_s": SERVE["timeout_s"],
                      "check_bodies": inputs.check_bodies(
                          args.seed, requests, SERVE["check_bodies"])}
    return p


# ------------------------------------------------------ checks + metrics

def evaluate(workload, res, expected):
    """Apply the correctness checks that need recorded values and derive
    the workload's values. Returns (values, attempted, failed, problems)."""
    problems = list(res["failures"])
    v = {}
    if workload == "sweep":
        runs = res["queries"]
        bad_runs = sum(1 for r in runs if "error" in r)
        by = {}
        for r in runs:
            by.setdefault(r["query"], {})[r["pass"]] = r
        for q, passes in by.items():
            exp = expected["sweep"][q]
            for p, r in passes.items():
                if "error" in r:
                    continue
                if (r["rows"], r["checksum"]) != (exp["rows"], exp["checksum"]):
                    bad_runs += 1
                    problems.append(f"{p} {q}: rows/checksum {r['rows']}/"
                                    f"{r['checksum']} != recorded "
                                    f"{exp['rows']}/{exp['checksum']}")
        cold = [r["seconds"] for r in runs if r["pass"] == "cold"]
        warm = [r["seconds"] for r in runs if r["pass"] == "warm"]
        v["sweep_cold_s"] = v["phase1_s"] = sum(cold)
        v["sweep_warm_s"] = v["phase2_s"] = sum(warm)
        v["work_s"] = sum(cold) + sum(warm)
        v["warm_query_p50_ms"] = statistics.median(warm) * 1000.0
        v["queries"] = len(by)
        return v, len(runs), bad_runs, problems
    exp = expected["pipeline"]
    calls = res.get("calls", [])
    ok = [c for c in calls if c["status"] // 100 == 2]
    predicts = [c for c in ok if c["kind"] in ("upload", "smoke")]
    if "pipeline_s" in res:
        if res["labeled_rows"] != exp["labeled_rows"]:
            problems.append(f"labeled rows {res['labeled_rows']} != "
                            f"recorded {exp['labeled_rows']}")
        lo, hi = exp["accuracy_range"]
        if not lo <= res["accuracy"] <= hi:
            problems.append(f"smoke accuracy {res['accuracy']} outside "
                            f"recorded range [{lo}, {hi}]")
    if len(predicts) < MIN_PREDICTS:
        problems.append(f"only {len(predicts)} /predict/ samples (< {MIN_PREDICTS})")
    if res.get("offline_checked", 0) == 0:
        problems.append("no upload body was checked against offline scoring")
    if calls:
        trains = [c["ms"] / 1000.0 for c in ok if c["kind"] == "train"]
        v["pipeline_s"] = v["phase1_s"] = res["pipeline_s"]
        v["serve_s"] = v["phase2_s"] = res["serve_s"]
        v["work_s"] = res["pipeline_s"] + res["serve_s"]
        v["predict_p50_ms"] = stats.percentile([c["ms"] for c in predicts], 50)
        v["predict_p95_ms"] = stats.percentile([c["ms"] for c in predicts], 95)
        v["predict_samples"] = len(predicts)
        v["cache_hit_rate"] = sum(c["from_cache"] for c in predicts) / len(predicts)
        v["serve_rps"] = len(ok) / res["serve_s"]
        v["train_p50_s"] = statistics.median(trains) if trains else 0.0
        v["accuracy"] = res["accuracy"]
    # the chain and the requests are the operations; a failed check fails
    # the chain
    failed = (len(calls) - len(ok)) + (1 if len(problems) > len(calls) - len(ok) else 0)
    return v, res["attempted"], failed, problems


def per_layer(workload, res, values, cores, untraced_work_s):
    """The per-layer metrics of a traced run; 0 where a layer is not on
    this workload's path."""
    m = {}
    tr = res["trace"]
    spans = tr["spans"]
    if workload == "sweep":
        timed = [s for s in spans if s["layer"].startswith("queries.")]
    else:
        timed = [s for s in spans if s["layer"] in ("pipeline", "serve")]
    timed_iv = [(s["start_ns"], s["end_ns"]) for s in timed]
    wall_ns = sum(b - a for a, b in timed_iv)
    timed_ids = set()
    for t in timed:
        timed_ids |= stats.subtree_ids(spans, t["id"])
    by_span = stats.counters_by_span(spans, tr["jobs"])
    tr["counters"] = [dict(row, span=i) for i, row in sorted(by_span.items())]
    c = {}
    for i, row in by_span.items():
        if i in timed_ids:
            for k, x in row.items():
                c[k] = c.get(k, 0) + x
    jobs = [(j["start_ns"], j["end_ns"]) for j in tr["jobs"] if j["end_ns"] >= 0]
    busy = sum(stats.union_length(
        (max(a, s), min(b, e)) for a, b in jobs) for s, e in timed_iv)
    planning_ms = sum(ms for t, ms in tr["planning"]
                      if any(s <= t <= e for s, e in timed_iv))
    mb = 1024.0 * 1024.0
    m["spark.planning_s"] = planning_ms / 1000.0
    m["spark.jobs"] = c.get("jobs", 0)
    m["spark.stages"] = c.get("stages", 0)
    m["spark.tasks"] = c.get("tasks", 0)
    m["spark.driver_gap_s"] = (wall_ns - busy) / 1e9
    m["spark.task_run_s"] = c.get("task_run_ms", 0) / 1000.0
    m["spark.task_cpu_s"] = c.get("task_cpu_ns", 0) / 1e9
    m["spark.task_gc_s"] = c.get("task_gc_ms", 0) / 1000.0
    m["spark.shuffle_write_mb"] = c.get("shuffle_write_bytes", 0) / mb
    m["spark.shuffle_read_mb"] = c.get("shuffle_read_bytes", 0) / mb
    m["spark.spill_mb"] = c.get("spill_bytes", 0) / mb
    m["spark.input_rows"] = c.get("input_rows", 0)
    m["spark.task_failures"] = c.get("task_failures", 0)
    m["spark.cpu_util"] = (m["spark.task_cpu_s"] / (wall_ns / 1e9 * cores)
                           if wall_ns else 0.0)
    builds = [b for r in res.get("queries", []) for b in r["builds"]]
    for name, cache in (("core.frame_cache", "frame"), ("ml.model_cache", "model")):
        secs = [b["s"] for b in builds if b["cache"] == cache]
        m[f"{name}.builds"] = len(secs)
        m[f"{name}.build_s"] = sum(secs)
    for module in MODULES:
        for p in ("cold", "warm"):
            m[f"queries.{module}.{p}_s"] = sum(
                r["seconds"] for r in res.get("queries", [])
                if r["module"] == module and r["pass"] == p)
    steps = res.get("steps", {})
    for metric, step in (("io.parquet_write_s", "io.parquet_write"),
                         ("io.csv_index_write_s", "io.csv_index_write"),
                         ("io.json_predictions_s", "io.json_predictions"),
                         ("ml.save_s", "ml.save"), ("ml.load_s", "ml.load"),
                         ("ml.score_s", "ml.score"),
                         ("eval.accuracy_s", "eval.accuracy")):
        m[metric] = steps.get(step, 0.0)
    written = c.get("output_bytes", 0) / mb if workload == "pipeline" else 0.0
    m["io.bytes_written_mb"] = written
    m["io.written_per_input_mb"] = written / (os.path.getsize(os.path.join(
        data_dir(SF), "lineitem.parquet")) / mb)
    calls = [x for x in res.get("calls", []) if x["status"] // 100 == 2]
    m["ml.train_s"] = steps.get("ml.train", 0.0)
    preds = [x for x in calls if x["kind"] in ("upload", "smoke")]
    hits = [x["ms"] for x in preds if x["from_cache"]]
    misses = [x["ms"] for x in preds if not x["from_cache"]]
    metrics_ms = [x["ms"] for x in calls if x["kind"] == "metrics"]
    m["serve.predict_miss_ms_p50"] = stats.percentile(misses, 50) if misses else 0.0
    m["serve.predict_hit_ms_p50"] = stats.percentile(hits, 50) if hits else 0.0
    m["serve.metrics_ms_p50"] = stats.percentile(metrics_ms, 50) if metrics_ms else 0.0
    statuses = [x["status"] for x in res.get("calls", [])]
    m["serve.http_4xx"] = sum(1 for s in statuses if 400 <= s < 500)
    m["serve.http_5xx"] = sum(1 for s in statuses if s >= 500)
    by_layer = stats.self_time_by_layer(spans)
    for layer in ("etl", "io", "ml", "eval"):
        m[f"self.{layer}_s"] = by_layer.get(layer, 0.0)
    m["self.queries_s"] = sum(x for k, x in by_layer.items()
                              if k.startswith("queries."))
    m["self.harness_s"] = sum(by_layer.get(k, 0.0)
                              for k in ("sweep", "pipeline", "serve"))
    for metric, value in (("sweep.cold_s", "sweep_cold_s"),
                          ("sweep.warm_s", "sweep_warm_s"),
                          ("sweep.warm_query_p50_ms", "warm_query_p50_ms"),
                          ("pipeline.chain_s", "pipeline_s"),
                          ("serve.loop_s", "serve_s"),
                          ("serve.predict_p50_ms", "predict_p50_ms"),
                          ("serve.predict_p95_ms", "predict_p95_ms"),
                          ("serve.rps", "serve_rps"),
                          ("serve.cache_hit_rate", "cache_hit_rate"),
                          ("serve.train_p50_s", "train_p50_s")):
        m[metric] = values.get(value, 0.0)
    m["trace.overhead_s"] = values["work_s"] - untraced_work_s
    m["trace.overhead_frac"] = m["trace.overhead_s"] / untraced_work_s
    return m, by_layer


def one_run(args, cp, expected, trace, stamp):
    run_id = f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    payload = payload_for(args, run_id, run_dir, trace, expected)
    launched, res = jvm(cp, run_dir, payload, "main", START + 165.0 - time.time())
    if res is None or "setup_end_ms" not in res:
        return None, run_dir
    res["setup_s"] = (res["setup_end_ms"] - launched) / 1000.0
    with open(os.path.join(run_dir, "build.stamp"), "w") as fh:
        fh.write(stamp)
    return res, run_dir


def earlier_work_s(args, stamp):
    """work_s of every untraced run of this workload made earlier in this
    checkout with the same build. Any seed will do: the work a run does
    does not depend on it."""
    runs = os.path.join(BUILD, "runs")
    found = []
    for name in os.listdir(runs) if os.path.isdir(runs) else []:
        d = os.path.join(runs, name)
        try:
            if (name.startswith(f"{args.workload}-") and "-t0-" in name
                    and open(os.path.join(d, "build.stamp")).read() == stamp):
                with open(os.path.join(d, "values.json")) as fh:
                    found.append(json.load(fh)["work_s"])
        except (OSError, KeyError, ValueError):
            continue
    return found


def cleanup(run_dir):
    """Drop a run's bulky outputs (the JVM's temp dir: pipeline files,
    models, Spark scratch); keep its inputs, results and log."""
    for name in os.listdir(run_dir):
        p = os.path.join(run_dir, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("pipeline", "sweep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=45)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    cp, stamp = build()

    global START
    START = time.time()
    res, run_dir = one_run(args, cp, expected, args.trace == 1, stamp)
    if res is None:
        raise SystemExit("perfbench: the run produced no result")
    cleanup(run_dir)
    values, attempted, failed, problems = evaluate(args.workload, res, expected)
    if args.trace:
        # tracing overhead: this run's work_s against the median untraced
        # one, from earlier runs with this build, else from a fresh run
        untraced = earlier_work_s(args, stamp)
        if not untraced:
            plain, plain_dir = one_run(args, cp, expected, False, stamp)
            if plain is None:
                raise SystemExit("perfbench: the untraced run produced no result")
            cleanup(plain_dir)
            untraced = [evaluate(args.workload, plain, expected)[0]["work_s"]]
        metrics, by_layer = per_layer(args.workload, res, values,
                                      cores(),
                                      statistics.median(untraced))
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump(res["trace"], fh)
        log("self time by layer (s): " + ", ".join(
            f"{k}={x:.3f}" for k, x in sorted(by_layer.items())))
        log(f"trace written to {os.path.relpath(run_dir, ROOT)}/trace.json")
        wanted = [d["name"] for d in bench["per_layer"]]
    else:
        metrics = dict(values, setup_s=res["setup_s"],
                       heap_retained_mb=res["heap_retained_mb"])
        with open(os.path.join(run_dir, "values.json"), "w") as fh:
            json.dump(metrics, fh)
        wanted = [d["name"] for d in bench["end_to_end"]]
    log("values: " + ", ".join(
        f"{k}={x:.4f}" if isinstance(x, float) else f"{k}={x}"
        for k, x in sorted(dict(values, setup_s=res["setup_s"]).items())))
    for p in problems[:20]:
        log(f"FAILED CHECK: {p}")
    missing = [k for k in wanted if k not in metrics]
    if missing:
        raise SystemExit(f"perfbench: no value for {missing}; see {run_dir}")
    units = {d["name"]: d["unit"] for d in bench["end_to_end"] + bench["per_layer"]}
    log(f"fail_frac={failed / attempted if attempted else 1.0:.4f} "
        f"({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in wanted},
    }))


START = time.time()

if __name__ == "__main__":
    main()
