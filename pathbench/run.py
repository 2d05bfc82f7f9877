#!/usr/bin/env python3
"""Paper-path benchmark: incremental append-and-search, and hot search over
a bulk-loaded archive, with a traced per-layer run.

Usage (from the repository root):
    python3 pathbench/run.py --workload search_hot --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (pathbench/build.py),
runs one JVM on local[nproc] with a fixed heap and code cache, and prints
as its last stdout line one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits 1 when a correctness check fails, 2 on any other
failure. See pathbench/README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_incremental", "search_hot")
HEAP = "2g"
YOUNG = "768m"
CODE_CACHE = "256m"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def timing(xs):
    """Median, and the tail: the highest sample with at least ten samples
    beyond it, i.e. percentile (n - 10) / n. With fewer than 20 samples
    that would fall below the median, so the tail is the median."""
    med = statistics.median(xs)
    if len(xs) < 20:
        return med, med, 0.5
    return med, sorted(xs)[-11], (len(xs) - 10) / len(xs)


def end_to_end(raw):
    s = raw["samples"]
    out, notes = {}, {}

    def put(name, value, unit, n, note=""):
        out[name] = {"value": value, "unit": unit}
        notes[name] = f"n={n}" + (f" {note}" if note else "")

    rounds = raw["setup_rounds_s"]
    put("setup_s", raw["session_s"] + raw["warmup_s"] + statistics.median(rounds),
        "s", len(rounds), "session start + warmup + median program set-up")
    rates = s["ingest_rate"]
    put("ingest_questions_per_s", statistics.median(rates), "1/s", len(rates))
    med, tail, p = timing(s["append_s"])
    put("append_p50_s", med, "s", len(s["append_s"]))
    put("append_tail_s", tail, "s", len(s["append_s"]), f"p{p * 100:.0f}")
    med, tail, p = timing(s["search_ms"])
    put("search_p50_ms", med, "ms", len(s["search_ms"]))
    put("search_tail_ms", tail, "ms", len(s["search_ms"]), f"p{p * 100:.0f}")
    put("search_qps", len(s["search_ms"]) / (sum(s["search_ms"]) / 1000.0),
        "1/s", len(s["search_ms"]))
    put("peak_rss_mb", raw["peak_rss_mb"], "MB", 1)
    return out, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the raw result (samples, spans) here")
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    work = build.OUT / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    load = os.getloadavg()[0]
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-XX:ReservedCodeCacheSize={CODE_CACHE}", "-XX:+UseParallelGC",
            # a fixed young generation: with adaptive sizing the window's
            # GC time varied from 5% to 16% between runs
            f"-Xmn{YOUNG}", "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "pathbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(raw_path)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(2)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        stop()
    if code != 0 or not raw_path.exists():
        print(f"benchmark JVM failed ({code})", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(2)
    raw = json.loads(raw_path.read_text())
    if a.keep:
        shutil.copy(raw_path, a.keep)
    shutil.rmtree(work, ignore_errors=True)

    env = dict(raw["env"], start_load_1m=load, heap=HEAP, young=YOUNG, code_cache=CODE_CACHE,
               gen_s=raw["gen_s"], session_s=raw["session_s"],
               warmup_s=raw["warmup_s"],
               setup_rounds_s=raw["setup_rounds_s"], window_s=raw["window_s"],
               check_s=raw["check_s"], window_gc_s=raw["window_gc_s"],
               window_steal_s=raw["window_steal_s"])
    print("env " + json.dumps(env, sort_keys=True))
    for msg in raw["findings"][:10]:
        print("finding: " + msg)
    for msg in raw["errors"]:
        print("CHECK FAILED: " + msg)
    if a.trace:
        metrics = raw["layers"]
        for name, m in metrics.items():
            print(f"  {name:34s} {m['value']:>16.6g} {m['unit']}")
    else:
        metrics, notes = end_to_end(raw)
        for name, m in metrics.items():
            print(f"  {name:24s} {m['value']:>12.6g} {m['unit']:5s} {notes[name]}")
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    sys.exit(0 if raw["correct"] else 1)


if __name__ == "__main__":
    main()
