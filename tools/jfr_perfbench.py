#!/usr/bin/env python3
"""Profile one perfbench workload under Java Flight Recorder.

Usage (from the repository root):

    python3 tools/jfr_perfbench.py --workload NAME [--seed N] [--seconds S]
                                   [--cores N] [--scale full|tiny] [--top K]
                                   [--window] [--frames a,b,...] [--alloc]
                                   [--waits]

Builds and launches the benchmark JVM exactly as perfbench/run.py does (its
classpath() and jvm_flags()), with -XX:StartFlightRecording added, runs the
workload once untraced, and prints:
  - process spawns (jdk.ProcessStart), counted by executable, by thread
    and by the Hadoop or Spark call that started them;
  - the top-K execution-sample frames (jdk.ExecutionSample, 10 ms period)
    and the samples' shares by thread kind; with --window, only the samples
    of the measured window (raw.json's window_start_ms to stop_ms), so set-up
    work such as class loading drops out;
  - with --frames, per comma-separated substring, the samples whose stack
    holds a frame containing it (inclusive counts, 64 frames deep);
  - with --alloc, the measured window's allocation (jdk.ObjectAllocationSample
    weight, in MB): its total and per committed batch, by top frame, and,
    with --frames, by frame on the stack (inclusive, so shares overlap);
  - with --waits, the measured window's time that task threads spent in
    jdk.JavaMonitorWait and jdk.ThreadPark (events of 10 ms and longer), by
    event and by the first Spark frame on the stack, so a lock that tasks
    queue on (such as CodeGenerator's compile lock, KeyLock.acquireLock)
    shows by name;
  - the GC pause total (jdk.GarbageCollection);
  - the run's latency p50/p99 as run.py computes them, for context.
The recording is kept as .bench_build/perfbench/jfr/<workload>-seed<N>.jfr
for `jfr print` or JDK Mission Control.
"""
import argparse
import collections
import datetime
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
import run as pb  # noqa: E402  (perfbench/run.py, relative to the repository root)


def jfr_events(path, events, depth):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", str(depth),
                          "--events", events, path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    return [(f["method"]["type"]["name"] + "." + f["method"]["name"]).replace("/", ".")
            for f in st.get("frames", []) if f and f.get("method")]


def origin(ev):
    """The first Hadoop or Spark frame that is neither a lambda nor one of
    Hadoop's process-launching utilities (Shell, FileUtil.readLink)."""
    return next((f for f in frames(ev) if f.startswith(("org.apache.hadoop", "org.apache.spark"))
                 and not f.startswith(("org.apache.hadoop.util.", "org.apache.hadoop.fs.FileUtil."))
                 and "$$Lambda" not in f), "?")


def thread_kind(ev):
    """Thread name with ids and numbers folded, so one kind counts once."""
    t = ev["values"].get("sampledThread") or ev["values"].get("eventThread") or {}
    name = t.get("javaName") or t.get("osName") or "?"
    name = re.sub(r"[0-9a-f]{8}-[0-9a-f-]{27}", "<id>", name)
    return re.sub(r"\d+", "N", name)


def seconds(text):
    """A JFR duration as `jfr print --json` writes it (ISO-8601, PT0.0123S)."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", text or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def epoch_ms(text):
    """A JFR instant as `jfr print --json` writes it (ISO-8601 with up to
    nanoseconds and a zone offset or Z) in epoch milliseconds."""
    m = re.fullmatch(r"(.+T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)", text)
    if not m:
        raise ValueError(f"not a JFR instant: {text!r}")
    whole, frac, zone = m.groups()
    base = datetime.datetime.fromisoformat(whole + ("+00:00" if zone == "Z" else zone))
    return base.timestamp() * 1000 + float("0." + (frac or "0")) * 1000


def in_window(events, start_ms, stop_ms):
    """The events that started between start_ms and stop_ms, both included."""
    return [e for e in events if start_ms <= epoch_ms(e["values"]["startTime"]) <= stop_ms]


def inclusive(samples, patterns):
    """Per pattern, the samples with a frame anywhere on the stack containing it."""
    return collections.Counter({p: sum(any(p in f for f in frames(e)) for e in samples)
                                for p in patterns})


def alloc_weight(samples, patterns):
    """Allocation samples' weight in bytes: (total, by top frame, by
    pattern). A sample counts for a pattern when a frame anywhere on its
    stack contains it, so the pattern shares overlap."""
    by_top, by_pattern = collections.Counter(), collections.Counter({p: 0 for p in patterns})
    for e in samples:
        weight, fs = int(e["values"].get("weight") or 0), frames(e)
        by_top[(fs or ["?"])[0]] += weight
        for p in patterns:
            if any(p in f for f in fs):
                by_pattern[p] += weight
    return sum(by_top.values()), by_top, by_pattern


def task_waits(events):
    """Milliseconds that task threads spent in the wait events, keyed by
    "<event> <first Spark frame>", the frame that waited ("?" when no
    Spark frame is on the stack, as on an idle executor-pool thread waiting
    for its next task). Other threads' waits are left out."""
    by = collections.Counter()
    for e in events:
        if thread_kind(e).startswith("Executor task launch worker"):
            spark = next((f for f in frames(e) if f.startswith("org.apache.spark")
                          and "$$Lambda" not in f), "?")
            by[f"{e['type'].split('.')[-1]} {spark}"] += 1000 * seconds(e["values"].get("duration"))
    return by


def table(title, counter, total, top, fmt="{:7d}"):
    print(f"{title} ({fmt.format(total).strip()})")
    for key, n in counter.most_common(top):
        print(f"  {fmt.format(n)}  {100.0 * n / max(total, 1):5.1f}%  {key}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(pb.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--window", action="store_true",
                    help="only execution samples of the measured window")
    ap.add_argument("--frames", default="",
                    help="comma-separated frame substrings to count inclusively")
    ap.add_argument("--alloc", action="store_true",
                    help="the measured window's allocation weight by frame")
    ap.add_argument("--waits", action="store_true",
                    help="the measured window's task-thread monitor waits and parks")
    a = ap.parse_args()
    patterns = [p for p in a.frames.split(",") if p]

    cp = pb.classpath()
    params = dict(pb.WORKLOADS[a.workload][a.scale])
    work = os.path.join(pb.BUILD, "jfr", a.workload)
    os.makedirs(work, exist_ok=True)
    jfr = os.path.join(pb.BUILD, "jfr", f"{a.workload}-seed{a.seed}.jfr")
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": 0,
            "cores": a.cores, "work": work, "out": os.path.join(work, "raw.json")}
    args.update(params)
    cmd = (["java"] + pb.jvm_flags()
           + [f"-XX:StartFlightRecording=filename={jfr},settings=profile,dumponexit=true",
              "-cp", cp, "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=pb.JVM_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(jfr):
        pb.fail(f"benchmark JVM failed ({rc}); see {os.path.join(work, 'jvm.log')}")
    print(f"recording {jfr} ({time.time() - t0:.1f} s run)")

    spawns = jfr_events(jfr, "jdk.ProcessStart", 24)
    table("process spawns by executable",
          collections.Counter(os.path.basename(e["values"]["command"].split(" ")[0])
                              for e in spawns), len(spawns), a.top)
    table("process spawns by thread", collections.Counter(map(thread_kind, spawns)),
          len(spawns), a.top)
    table("process spawns by origin", collections.Counter(map(origin, spawns)), len(spawns), a.top)

    with open(args["out"]) as fh:
        raw = json.load(fh)
    samples = jfr_events(jfr, "jdk.ExecutionSample", 64 if patterns else 1)
    scope = "whole run"
    if a.window:
        samples = in_window(samples, raw["window_start_ms"], raw["stop_ms"])
        scope = f"window, {(raw['stop_ms'] - raw['window_start_ms']) / 1000:.1f} s"
    table(f"execution samples by top frame, {scope}",
          collections.Counter((frames(e) or ["?"])[0] for e in samples), len(samples), a.top)
    table(f"execution samples by thread kind, {scope}",
          collections.Counter(map(thread_kind, samples)), len(samples), a.top)
    if patterns:
        table(f"execution samples by frame on the stack, {scope}",
              inclusive(samples, patterns), len(samples), len(patterns))

    e2e, _, info = pb.stream_metrics(raw, params)
    if a.alloc:
        allocs = in_window(jfr_events(jfr, "jdk.ObjectAllocationSample", 64 if patterns else 1),
                           raw["window_start_ms"], raw["stop_ms"])
        total, by_top, by_pattern = alloc_weight(allocs, patterns)
        mb = lambda c: collections.Counter({k: v / 2 ** 20 for k, v in c.items()})
        n = info["window_batches"]
        table(f"allocated MB by top frame, window, {total / 2 ** 20 / max(n, 1):.0f} MB per batch "
              f"over {n} batches", mb(by_top), total / 2 ** 20, a.top, "{:9.1f}")
        if patterns:
            table("allocated MB by frame on the stack, window", mb(by_pattern),
                  total / 2 ** 20, len(patterns), "{:9.1f}")

    if a.waits:
        waits = task_waits(in_window(jfr_events(jfr, "jdk.JavaMonitorWait,jdk.ThreadPark", 64),
                                     raw["window_start_ms"], raw["stop_ms"]))
        table("task-thread wait ms by event and first Spark frame, window", waits,
              sum(waits.values()), a.top, "{:9.1f}")

    gcs = jfr_events(jfr, "jdk.GarbageCollection", 1)
    pause = sum(seconds(e["values"].get("sumOfPauses")) for e in gcs)
    print(f"gc: {len(gcs)} collections, {1000 * pause:.0f} ms paused")

    print(f"latency p50 {e2e['latency_p50_ms']:.0f} ms, p99 {e2e['latency_p99_ms']:.0f} ms "
          f"over {info['latency_samples']} batches")


if __name__ == "__main__":
    main()
