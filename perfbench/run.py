#!/usr/bin/env python3
"""The repo benchmark: one command per workload, printing every metric.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):
  registry_mix      registry queries: TPC-H ones on the sf0.1 test tables and
                    ones with driver loops and eager jobs on sf0.01
  listing_pipeline  generated raw listings -> ETL -> EDA -> dashboard serving

The program and the harness are compiled from source (perfbench/build.py),
inputs are made from the seed, one JVM runs the workload, outputs are
checked untimed, and the last line of stdout is one JSON object:
  {"correct", "attempted", "failed", "metrics"}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run. The full record (samples, failures,
layer report) is written to .bench_build/results/.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build     # noqa: E402
import listings  # noqa: E402

WORKLOADS = ("registry_mix", "listing_pipeline")
# test-table scales of the registry workload: TPC-H queries, iterative ones
TPCH_SCALE, ITER_SCALE = "sf0.1", "sf0.01"
HEAP = "2g"
LISTING_ROWS = 5000
SERVE_LIMIT_MS = 2000.0   # latency limit of the serving ok ratio
# requests generated per second of serving: more than the dashboard answers
STREAM_PER_S = 50
JVM_TIMEOUT_S = 170


def testdata_dir(scale):
    """Where the shared test tables of a scale live, as TESTDATA.md says."""
    with open(os.path.join(ROOT, "TESTDATA.md"), encoding="utf-8") as f:
        m = re.search(r"`([^`]*/%s)/?`" % re.escape(scale), f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit(f"run: no {scale} test tables (see TESTDATA.md)")
    return m.group(1)


def listing_inputs(seed, seconds, work):
    """Generate the raw CSV and request stream (timed, as set-up), generate
    them again to check that the seed reproduces them byte for byte, and
    write CSV, truth and requests."""
    def make():
        text, truth, kept = listings.generate(seed, LISTING_ROWS)
        return text, listings.requests(seed, kept, int(STREAM_PER_S * seconds)), truth
    t0 = time.perf_counter()
    text, reqs, truth = make()
    gen_s = time.perf_counter() - t0
    if make()[:2] != (text, reqs):
        raise SystemExit("run: the listing generator is not deterministic")
    paths = {"raw": os.path.join(work, "raw.csv"),
             "requests": os.path.join(work, "requests.tsv")}
    with open(paths["raw"], "w", encoding="utf-8") as f:
        f.write(text)
    with open(paths["requests"], "w", encoding="utf-8") as f:
        f.write(reqs)
    with open(os.path.join(work, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return gen_s, truth, paths


def run_jvm(args, work, classes):
    out = os.path.join(work, "result.json")
    cmd = [build.java(), *build.jvm_options(work, HEAP), "-cp", build.classpath(classes),
           "perfbench.Main", "--out", out, "--work", work, *args]
    started = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run: workload JVM exceeded {JVM_TIMEOUT_S}s (log: {log.name})")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"run: workload JVM failed with code {code}\n{tail}")
    with open(out) as f:
        return json.load(f), started


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def check_listing(res, truth):
    got = res["listing_counts"]
    fails = []
    def expect(name, actual, wanted):
        if actual != wanted:
            fails.append({"name": name, "kind": "mismatch",
                          "message": f"got {actual}, generator truth {wanted}"})
    expect("etl.clean_rows", got["clean_rows"], truth["clean_rows"])
    expect("etl.issues", got["issues"], truth["issues"])
    expect("eda.summary_total_rows", got["summary_total_rows"], truth["clean_rows"])
    expect("etl.states", got["states"], truth["states"])
    expect("etl.keywords", got["keywords"], truth["keywords"])
    expect("render.charts", len(got["charts"]), 4)
    return fails, 6


def op_outcomes(res, failures):
    """(ok, attempted) operations: every timed request, ok when it was
    answered correctly within the latency limit; every registry query run,
    ok when it ran without an exception and, on the cold pass, its output
    matched the oracle."""
    if "op_ok" in res:
        return res["op_ok"], res["requests"]
    mismatched = {f["name"] for f in failures if f["kind"] in ("mismatch", "unreadable")}
    ok = sum(q["ok"] and not (q["pass"] == 0 and q["name"] in mismatched)
             for q in res["queries"])
    return ok, len(res["queries"])


def op_latencies(res):
    """Steady-state latencies per operation type: per registry query over
    its steady passes, per dashboard endpoint over its timed requests."""
    if "endpoint_ms" in res:
        return res["endpoint_ms"]
    runs = {}
    for q in res["queries"]:
        if q["pass"] > 0 and q["s"] > 0:
            runs.setdefault(q["name"], []).append(q["s"] * 1000)
    return runs


def end_to_end(res, setup_s, failures):
    """Each operation type counts at its median latency: single runs of
    one query, or single requests, swing by a quarter and more on a
    shared host; the median per type does not follow them."""
    medians = [statistics.median(v) for v in op_latencies(res).values()] or [0.0]
    ok, attempts = op_outcomes(res, failures)
    m = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (res["cold_pass_s"], "s"),
        "op_mean_ms": (statistics.fmean(medians), "ms"),
        "op_ok_ratio": (ok / max(1, attempts), "ratio"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def latency_profile(res):
    """Unbounded latency detail for the record: per type median and the
    request- or run-level percentiles over every steady sample."""
    lat = op_latencies(res)
    every = [x for v in lat.values() for x in v]
    return {"per_type_median_ms": {k: statistics.median(v) for k, v in lat.items()},
            "p50_ms": quantile(every, 0.5), "p90_ms": quantile(every, 0.9),
            "samples": len(every)}


def per_layer(res):
    """Per-layer metrics of a traced run. Every workload's cold pass runs
    every layer it touches, so the layer split is taken there; the steady
    state (steady query runs, or served requests) adds per-operation work
    counts."""
    tr = res["trace"]
    cold = tr["cold"]
    spark = cold["spark"]
    def layer(name, key):
        return cold["layers"].get(name, {}).get(key, 0.0)
    if "serve" in tr:
        steady = [tr["serve"]]
        ops = res["requests"] + res["warmup_requests"]
    else:
        steady = [v for k, v in tr.items() if k.startswith("steady-")]
        ops = len(steady) * len(res["checked"])
    def per_op(f):
        return sum(f(p) for p in steady) / max(1, ops)
    m = {
        "analytics.build_s": (layer("analytics.build", "self_s"), "s"),
        "analytics.build_jobs": (layer("analytics.build", "jobs"), "count"),
        "spark.exec_s": (layer("spark.exec", "self_s"), "s"),
        "spark.jobs": (spark["jobs"], "count"),
        "spark.stages": (spark["stages"], "count"),
        "spark.tasks": (spark["tasks"], "count"),
        "spark.task_run_s": (spark["task_run_s"], "s"),
        "spark.task_cpu_s": (spark["task_cpu_s"], "s"),
        "spark.concurrency": (spark["task_run_s"] / cold["wall_s"], "ratio"),
        "spark.gc_s": (spark["gc_s"], "s"),
        "spark.shuffle_read_mb": (spark["shuffle_read_mb"], "MB"),
        "spark.shuffle_write_mb": (spark["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (spark["spill_mb"], "MB"),
        "spark.input_mb": (spark["input_mb"], "MB"),
        "plans.analysis_s": (cold["plans"].get("analysis", 0.0), "s"),
        "plans.optimization_s": (cold["plans"].get("optimization", 0.0), "s"),
        "plans.planning_s": (cold["plans"].get("planning", 0.0), "s"),
        "codegen.compile_s": (cold["codegen_s"], "s"),
        "codegen.compiles": (cold["codegen_compiles"], "count"),
        "quality.profiler_jobs": (cold["callsites"].get("Profiler.scala", {}).get("jobs", 0), "count"),
        "trace.uncovered_s": (cold["uncovered_s"], "s"),
        "steady.jobs_per_op": (per_op(lambda p: p["spark"]["jobs"]), "count"),
        "steady.task_run_ms_per_op": (per_op(lambda p: p["spark"]["task_run_s"]) * 1000, "ms"),
        "steady.compiles_per_op": (per_op(lambda p: p["codegen_compiles"]), "count"),
        "cache.peak_mb": (res["cache_peak_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_split(res):
    """Self time of each layer as a share of the pass wall time, for the
    cold pass and the mean steady pass, plus the serving-phase detail."""
    out = {}
    for phase, p in res["trace"].items():
        if phase == "check":
            continue
        wall = p["wall_s"] or 1.0
        out[phase] = {
            "wall_s": p["wall_s"],
            "self_share": {n: round(l["self_s"] / wall, 4)
                           for n, l in p["layers"].items() if "self_s" in l},
            "uncovered_share": round(p["uncovered_s"] / wall, 4),
            "codegen_share": round(p["codegen_s"] / wall, 4),
            "callsites": {f: c for f, c in p["callsites"].items()
                          if c["job_s"] >= 0.05 * max(1e-9, p["spark"]["job_s"])},
        }
    if "endpoint_ms" in res:
        out["serve"]["endpoints_p50_ms"] = {
            k: statistics.median(v) for k, v in res["endpoint_ms"].items()}
        out["serve"]["overhead_ms"] = res["serving_overhead_ms"]
    return out


def trace_overhead(e2e, untraced_path):
    """Tracing overhead: the traced run's end-to-end times against those of
    the untraced run of the same workload and seed, when one was made in
    this checkout (None otherwise)."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as f:
        plain = json.load(f)["end_to_end"]
    return {k: 100 * (e2e[k]["value"] / plain[k]["value"] - 1)
            for k in ("setup_s", "cold_pass_s", "op_mean_ms") if plain[k]["value"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        raise SystemExit(f"run: {e}")
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    truth, gen_s = None, 0.0
    if a.workload == "listing_pipeline":
        gen_s, truth, paths = listing_inputs(a.seed, a.seconds, work)
        args += ["--raw", paths["raw"], "--requests", paths["requests"],
                 "--limit-ms", str(SERVE_LIMIT_MS)]
    else:
        args += ["--sf-tpch", testdata_dir(TPCH_SCALE), "--sf-iter", testdata_dir(ITER_SCALE)]

    res, started = run_jvm(args, work, classes)

    # set-up: input generation, then JVM launch to a warmed-up session
    setup_s = gen_s + res["ready_ms"] / 1000.0 - started

    failures = list(res["failures"])
    attempted = res["attempted"]
    if truth is not None:
        fails, n = check_listing(res, truth)
    else:
        import oracle
        fails, n = oracle.check(a.workload, res["checked"], os.path.join(work, "out"))
    failures += fails
    attempted += n

    e2e = end_to_end(res, setup_s, failures)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": {
                  "nproc": res["cpus"], "heap_mb": res["heap_max_mb"],
                  "java": res["java"], "spark": res["spark"],
                  "master": f"local[{res['cpus']}]",
                  "serve_clients": 1, "serve_limit_ms": SERVE_LIMIT_MS},
              "attempted": attempted, "failures": failures,
              "error_rate": len(failures) / attempted,
              "end_to_end": e2e,
              "latency": latency_profile(res), "raw": res}
    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    if a.trace:
        metrics = per_layer(res)
        record["per_layer"] = metrics
        record["layer_split"] = layer_split(res)
        record["trace_overhead"] = trace_overhead(
            e2e, os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json"))
    else:
        metrics = e2e
    path = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    for f in failures:
        print(f"FAILED {f['name']} [{f['kind']}]: {f['message']}")
    print(f"error_rate {record['error_rate']:.6f} ratio ({len(failures)}/{attempted})")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    lat = record["latency"]
    print(f"latency p50 {lat['p50_ms']:.6g} ms, p90 {lat['p90_ms']:.6g} ms "
          f"over {lat['samples']} steady samples (unbounded)")
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
