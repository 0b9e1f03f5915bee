#!/usr/bin/env python3
"""Benchmark of the fraud-alert stream path.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--cores N] [--scale full|tiny]

Workloads: alerts_paced, alerts_flood, velocity_state (see WORKLOADS). The
first run in a checkout compiles the program's main sources together with
the benchmark's Scala sources (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged.

Each run starts one JVM, runs the workload, checks its outputs and prints,
as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft", "streaming", "FraudPipeline.scala")
# A fixed young generation keeps G1 from resizing the heap differently from
# run to run, which otherwise makes peak_rss_mb bimodal on alerts_flood.
HEAP, YOUNG, CODE_CACHE = "3g", "256m", "512m"
JVM_TIMEOUT_S = 170

# Per workload: the JVM parameters at --scale full and at --scale tiny (a
# smoke run that exercises every code path in a few seconds).
WORKLOADS = {
    "alerts_paced": {
        "full": {"rate": 5000, "warm-batches": 8, "setups": 3},
        "tiny": {"rate": 200, "warm-batches": 1, "setups": 1}},
    "alerts_flood": {
        "full": {"batch-rows": 1000000, "warm-batches": 1, "setups": 3},
        "tiny": {"batch-rows": 20000, "warm-batches": 1, "setups": 1}},
    "velocity_state": {
        "full": {"batch-rows": 10000, "keys": 5000, "speed": 30, "warm-batches": 12,
                 "setups": 1},
        "tiny": {"batch-rows": 250, "keys": 500, "speed": 30, "warm-batches": 2,
                 "setups": 1}},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared_metrics():
    """(end-to-end, per-layer) [(name, unit)] as BENCHMARK.json declares them."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(path) as fh:
        doc = json.load(fh)
    return ([(m["name"], m["unit"]) for m in doc["end_to_end"]],
            [(m["name"], m["unit"]) for m in doc["per_layer"]])


# ---------------------------------------------------------------- arithmetic

def resolves(n, q):
    """Whether n samples resolve the q-percentile: at least 1 / (1 - q) are
    needed (100 for p99), so the top 1 - q holds a sample of its own. With
    fewer, the nearest-rank percentile is the maximum."""
    return n >= math.ceil(round(1.0 / (1.0 - q), 9))


def nearest_rank(values, weights, q):
    """Weighted nearest-rank percentile: the smallest value whose cumulative
    weight reaches q of the total (None without samples)."""
    values = np.asarray(values, dtype=float)
    weights = np.asarray(weights, dtype=float)
    n = weights.sum()
    if n <= 0:
        return None
    order = np.argsort(values, kind="stable")
    cum = np.cumsum(weights[order])
    k = int(np.searchsorted(cum, math.ceil(q * n - 1e-9)))
    return float(values[order][k])


def latency(batches, schedule_ms, rate, closed_loop):
    """p50 and p99 of the per-row latency, and how many samples decide them.

    Rows of one micro-batch share its commit, so they are not independent
    samples: the sample count is the number of committed batches with
    input, and p99 is resolved only with 100 of them."""
    vals, wts = row_latencies(batches, schedule_ms, rate, closed_loop)
    commits = sum(1 for b in batches if b["hi"] > b["lo"])
    return {"p50": nearest_rank(vals, wts, 0.50), "p99": nearest_rank(vals, wts, 0.99),
            "samples": commits, "rows": int(wts.sum()),
            "p99_resolved": resolves(commits, 0.99)}


def row_latencies(batches, schedule_ms, rate, closed_loop):
    """Per-row creation-to-commit latency in ms, as (values, weights).

    Open loop: row i is created at schedule_ms + i * 1000 / rate, and is
    done when the micro-batch holding it commits. Closed loop: a batch's
    rows are created when the engine pulls the batch, at its trigger start,
    so all its rows share one latency (weight = its row count)."""
    vals, wts = [], []
    for b in batches:
        n = b["hi"] - b["lo"]
        if n <= 0:
            continue
        if closed_loop:
            vals.append(np.array([b["commit"] - b["start"]], dtype=float))
            wts.append(np.array([n], dtype=float))
        else:
            created = schedule_ms + np.arange(b["lo"], b["hi"], dtype=float) * 1000.0 / rate
            vals.append(b["commit"] - created)
            wts.append(np.ones(n))
    if not vals:
        return np.zeros(0), np.zeros(0)
    return np.concatenate(vals), np.concatenate(wts)


def iso_ms(text):
    return datetime.datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp() * 1000.0


def batches_of(progress):
    """Progress records → batches with [lo, hi) input index ranges (the
    sources emit consecutive indices, so ranges follow from row counts)."""
    out, lo = [], 0
    for p in progress:
        start = iso_ms(p["timestamp"])
        n = p["numInputRows"]
        out.append({"id": p["batchId"], "start": start,
                    "commit": start + p["durationMs"].get("triggerExecution", 0),
                    "lo": lo, "hi": lo + n, "p": p})
        lo += n
    return out


def median(xs):
    xs = [x for x in xs if x is not None]
    return float(np.median(xs)) if xs else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------------ metrics

def stream_metrics(raw, params):
    closed = "batch-rows" in params
    rate = params["batch-rows"] if closed else params["rate"]
    batches = batches_of(raw["progress"])
    window = [b for b in batches if b["id"] > raw["warm_batch_id"]]
    data = [b for b in window if b["hi"] > b["lo"]]
    lat = latency(window, raw["schedule_ms"], rate, closed)
    rows = sum(b["hi"] - b["lo"] for b in window)
    # throughput between the first and the last commit of the window, so
    # the slower, still-warming batch before the window does not set it
    span = (window[-1]["commit"] - window[0]["commit"]) / 1000.0 if window else 0.0
    after_first = sum(b["hi"] - b["lo"] for b in window[1:])
    e2e = {
        "latency_p50_ms": lat["p50"],
        "latency_p99_ms": lat["p99"],
        "rows_per_s": after_first / span if span > 0 else None,
        "batch_total_s": median([b["p"]["durationMs"].get("triggerExecution") / 1000.0
                                 for b in data]) or None,
    }
    info = {"latency_samples": lat["samples"], "latency_rows": lat["rows"],
            "latency_p99_resolved": lat["p99_resolved"], "window_batches": len(window),
            "window_rows": rows}

    tr = raw.get("trace", {})
    dur = lambda k: median([b["p"]["durationMs"].get(k) for b in data])
    states = [b["p"]["stateOperators"][0] for b in window if b["p"]["stateOperators"]]
    alerts = sum(raw["check"]["alerts_per_batch"].get(str(b["id"]), 0) for b in window)
    waits = [window[i + 1]["start"] - window[i]["commit"] for i in range(len(window) - 1)]
    lag = [(b["commit"] - (b["start"] if closed else
                           raw["schedule_ms"] + (b["hi"] - 1) * 1000.0 / rate)) / 1000.0
           for b in data]
    hits = sum(s.get("customMetrics", {}).get("loadedMapCacheHitCount", 0) for s in states)
    misses = sum(s.get("customMetrics", {}).get("loadedMapCacheMissCount", 0) for s in states)
    files = [raw["sink_files"].get(str(b["id"]), 0) for b in data]
    n = max(len(window), 1)
    # batches that started once the listener recorded every job
    traced = [b for b in window if b["start"] >= raw["trace_start_ms"]]
    jobs = tr.get("job_intervals", [])
    driver_only = median([b["commit"] - b["start"] - union_ms(jobs, b["start"], b["commit"])
                          for b in traced])
    layer = {
        "source.latest_offset_ms": dur("latestOffset"),
        "source.input_rows_per_batch": median([b["hi"] - b["lo"] for b in data]),
        "source.lag_s": median(lag),
        "microbatch.query_planning_ms": dur("queryPlanning"),
        "microbatch.wal_commit_ms": dur("walCommit"),
        "microbatch.commit_offsets_ms": dur("commitOffsets"),
        "microbatch.trigger_wait_ms": median(waits),
        "microbatch.add_batch_ms": dur("addBatch"),
        "microbatch.batches": len(window),
        "operators.cpu_ns_per_row": tr.get("cpu_ns", 0) / rows if rows else 0.0,
        "operators.tasks_per_batch": tr.get("tasks", 0) / len(window) if window else 0.0,
        "operators.alerts_per_input": alerts / rows if rows else 0.0,
        "sink.bytes_written": tr.get("output_bytes", 0),
        "sink.records_written": tr.get("output_records", 0),
        "sink.files_per_batch": median(files),
        "state.rows_total": states[-1]["numRowsTotal"] if states else 0,
        "state.memory_bytes": states[-1]["memoryUsedBytes"] if states else 0,
        "state.commit_ms": median([s["commitTimeMs"] for s in states]),
        "state.update_ms": median([s["allUpdatesTimeMs"] for s in states]),
        "state.rows_dropped_by_watermark": raw["check"].get("dropped", 0),
        "state.cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "shuffle.bytes_written": tr.get("shuffle_bytes_written", 0),
        "shuffle.fetch_wait_ms": tr.get("shuffle_fetch_wait_ms", 0),
        "shuffle.skew": tr.get("shuffle_skew", 0.0),
        # the per-batch query: the sink's write, its jobs and its tasks
        "query.analysis_ms": tr.get("phase_analysis_ms", 0) / n,
        "query.optimization_ms": tr.get("phase_optimization_ms", 0) / n,
        "query.planning_ms": tr.get("phase_planning_ms", 0) / n,
        "query.jobs": tr.get("jobs", 0) / n,
        "query.scheduler_delay_ms": tr.get("scheduler_delay_ms", 0) / n,
        "query.task_cpu_ms": tr.get("cpu_ns", 0) / 1e6 / n,
        "query.driver_only_ms": driver_only,
        "query.spill_bytes": tr.get("spill_bytes", 0) / n,
        "jvm.gc_ms": raw["gc_ms_window"],
    }
    return e2e, layer, info


# -------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile once per source state; return the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = fh.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # resolve only from the local caches: the build must not reach a network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = [l.strip() for l in fh if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    return lines[-1]


def jvm_flags():
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return flags + [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-XX:ReservedCodeCacheSize={CODE_CACHE}",
                    f"-Djava.io.tmpdir={tmp}",
                    f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]


# --------------------------------------------------------------------- main

def host_facts(cores, raw):
    with open("/proc/meminfo") as fh:
        mem = next(l.split()[1] for l in fh if l.startswith("MemTotal:"))
    return {"nproc": os.cpu_count(), "mem_total_kb": int(mem), "master": f"local[{cores}]",
            "shuffle_partitions": cores, "heap": HEAP, "young": YOUNG, "code_cache": CODE_CACHE,
            "state_store_provider": raw.get("state_store_provider")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args()
    if not os.path.exists(PROGRAM):
        fail(f"program sources not found ({os.path.relpath(PROGRAM, ROOT)}); "
             "run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = classpath()

    params = dict(WORKLOADS[a.workload][a.scale])
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": a.cores, "work": work,
            "out": os.path.join(work, "raw.json")}
    args.update(params)
    cmd = ["java"] + jvm_flags() + ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    spawn = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(args["out"]):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM failed ({rc})")
    with open(args["out"]) as fh:
        raw = json.load(fh)

    e2e, layer, info = stream_metrics(raw, params)
    chk = raw["check"]
    attempted = raw["attempted"]
    failed = len(raw["failures"]) + chk["failed"]
    raw["failures"] += chk["failures"]
    boot = raw["session_ready_ms"] / 1000.0 - spawn
    e2e["setup_s"] = boot + median(raw["setup_units_s"])
    e2e["peak_rss_mb"] = raw["vm_hwm_kb"] / 1024.0
    info.update({"boot_s": round(boot, 3), "setup_units_s": raw["setup_units_s"],
                 "stop_interrupts": raw.get("stop_interrupts", 0),
                 "check_s": raw.get("check_s"),
                 "jvm_s": round(time.time() - spawn, 3),
                 "failures": raw["failures"][:10]})
    unresolved = [k for k, v in e2e.items() if v is None]
    if unresolved:
        raw["failures"].append(f"unresolved metrics: {unresolved}")
        failed += 1
        e2e = {k: (0.0 if v is None else v) for k, v in e2e.items()}
    end_to_end, per_layer = declared_metrics()
    layer = {name: layer.get(name, 0) for name, _ in per_layer}

    print(json.dumps({"host": host_facts(a.cores, raw)}))
    print(json.dumps({"run": info}))
    last = os.path.join(BUILD, "last", f"{a.workload}-seed{a.seed}-c{a.cores}.json")
    if a.trace:
        if os.path.exists(last):
            with open(last) as fh:
                untraced = json.load(fh)
            print(json.dumps({"tracing_overhead": {k: e2e[k] - untraced[k] for k in untraced}}))
        metrics = {name: {"value": float(layer[name]), "unit": unit} for name, unit in per_layer}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(e2e, fh)
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in end_to_end}
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
