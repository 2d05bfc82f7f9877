#!/usr/bin/env python3
"""Parent-vs-change A/B of the paper-path benchmark, in alternating pairs.

Usage (from anywhere inside the repository):
    python3 tools/pathbench_ab.py --parent HEAD~1 --change HEAD --pairs 10 \
        --seed 101 [--workload search_hot] [--keep ab.json]

Clones the two commits into a fresh temporary directory (plain `git clone`
of this repository, so only committed files are measured), then runs, per
workload, N pairs of the benchmark command from BENCHMARK.json with
`--trace 0` and the declared run length. Pair i uses seed `--seed + i` on
both sides; the parent runs first in even pairs and the change first in odd
ones, so a drift in host load hits both sides alike.

Prints, per workload and end-to-end metric, each side's median and
quartiles, the change's wins (a tie counts for neither side) and the
relative move of the medians. Under every `*_tail_*` metric it prints each
side's sample count and tail percentile (from the runs' own notes), and
says when the two sides' counts differ: a tail is the highest sample with
ten beyond it, so a side that fits more samples in the window reports a
deeper percentile (24 samples give p58, 40 give p75). A metric is flagged WORSE when the change's
median is worse than the parent's by more than its BENCHMARK.json bound, and
GAIN when the change wins at least 9 of 10 pairs and the medians differ by
more than the parent's interquartile range. Bounds and directions come from
BENCHMARK.json only. Exits 1 when a run fails or reports `correct: false`,
or when a metric is flagged WORSE.
"""
import argparse
import json
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def clone(sha, dest):
    subprocess.run(["git", "clone", "--quiet", "--no-hardlinks", str(ROOT),
                    str(dest)], check=True)
    git("checkout", "--quiet", sha, cwd=dest)


# A metric line of a run's stdout: name, value, unit, then its note,
# "n=<samples>" and, for a tail, "p<percentile>".
NOTE = re.compile(r"^\s+(\S+)\s+\S+\s+\S+\s+n=(\d+)(?: p(\d+))?")


def sample_notes(stdout):
    """{metric: (sample count, tail percentile or None)} from a run's
    metric lines."""
    out = {}
    for line in stdout.splitlines():
        m = NOTE.match(line)
        if m:
            out[m.group(1)] = (int(m.group(2)),
                               int(m.group(3)) if m.group(3) else None)
    return out


def run_once(bench, checkout, workload, seed):
    """One benchmark run; returns its last stdout line as JSON, with the
    metric notes under "samples", or None."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(f"run failed (exit {p.returncode}):\n{p.stderr[-2000:]}\n")
        return None
    res["samples"] = sample_notes(p.stdout)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def cell(median, q):
    return f"{median:.4g} [{q[0]:.4g}, {q[1]:.4g}]"


def span(xs):
    lo, hi = min(xs), max(xs)
    return f"{lo}" if lo == hi else f"{lo}-{hi}"


def samples_line(name, pairs):
    """Each side's sample counts and tail percentiles for one metric, and
    whether the two sides' counts differ; None without notes."""
    sides = {}
    for i, side in enumerate(("parent", "change")):
        notes = [r[i].get("samples", {}).get(name) for r in pairs]
        notes = [n for n in notes if n]
        if not notes:
            return None
        ns, ps = [n[0] for n in notes], [n[1] for n in notes if n[1]]
        sides[side] = (sorted(ns), f"n={span(ns)}" +
                       (f" p{span(ps)}" if ps else ""))
    line = (f"  {'':22} samples: parent {sides['parent'][1]}, "
            f"change {sides['change'][1]}")
    if sides["parent"][0] != sides["change"][0]:
        line += ("; counts differ, so the tails sit at different "
                 "percentiles (the side with more samples reads deeper)")
    return line


def report(bench, workload, pairs):
    """Prints one workload's table; returns the names of WORSE metrics."""
    worse = []
    print(f"\n{workload}: {len(pairs)} pairs")
    print(f"{'metric':24} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'wins':>6} {'move':>8}  flag")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        got = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
               for p, c in pairs
               if name in p["metrics"] and name in c["metrics"]]
        if not got:
            continue
        ps, cs = [g[0] for g in got], [g[1] for g in got]
        wins = sum((c < p) if lower else (c > p) for p, c in got)
        pm, cm = statistics.median(ps), statistics.median(cs)
        pq, cq = quartiles(ps), quartiles(cs)
        move = (cm - pm) / pm if pm else 0.0
        worse_by = move if lower else -move
        flag = ""
        if worse_by > m["bound"]:
            flag = f"WORSE (bound {m['bound']})"
            worse.append(name)
        elif wins >= 0.9 * len(got) and abs(cm - pm) > pq[1] - pq[0]:
            flag = "GAIN"
        print(f"{name:24} {cell(pm, pq):>30} {cell(cm, cq):>30} "
              f"{wins:>3}/{len(got):<2} {move:+8.1%}  {flag}")
        if "_tail_" in name:
            line = samples_line(name, pairs)
            if line:
                print(line)
    return worse


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True,
                    help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--workload", action="append",
                    help="run only this workload (repeatable)")
    ap.add_argument("--keep", help="write every run's JSON line here")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    shas = {side: git("rev-parse", "--verify", ref + "^{commit}")
            for side, ref in (("parent", a.parent), ("change", a.change))}
    print(f"parent {shas['parent'][:12]}  change {shas['change'][:12]}")

    tmp = Path(tempfile.mkdtemp(prefix="pathbench_ab_"))
    failed, worse, kept = False, [], {}
    try:
        for side, sha in shas.items():
            clone(sha, tmp / side)
        for w in workloads:
            pairs = []
            for i in range(a.pairs):
                seed = a.seed + i
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                res = {s: run_once(bench, tmp / s, w, seed) for s in order}
                ok = all(r is not None and r["correct"] and r["failed"] == 0
                         for r in res.values())
                print(f"{w} seed {seed} ({order[0]} first): " + ", ".join(
                    f"{s} " + ("ok" if res[s] and res[s]["correct"] else "FAILED")
                    for s in order), flush=True)
                kept.setdefault(w, []).append({"seed": seed, "first": order[0], **res})
                if ok:
                    pairs.append((res["parent"], res["change"]))
                else:
                    failed = True
            if pairs:
                worse += [f"{w}.{n}" for n in report(bench, w, pairs)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if a.keep:
            Path(a.keep).write_text(json.dumps(kept, indent=1))
    if worse:
        print("\nworse than bound: " + ", ".join(worse))
    if failed:
        print("\nat least one run failed or reported correct: false")
    sys.exit(1 if failed or worse else 0)


if __name__ == "__main__":
    main()
