#!/usr/bin/env python3
"""Measure how steady the benchmark is: run every workload with several
seeds and report, per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives them.

    python3 perfbench/steady.py --runs 10 --first-seed 100 --out perfbench/results/pass1.json
    python3 perfbench/steady.py --runs 3 --trace --first-seed 100 \
        --untraced perfbench/results/pass1.json --out perfbench/results/traced.json

Runs are sequential, one JVM at a time, and alternate between the workloads
(seed 1 of every workload, then seed 2, ...), so a change in the host's
speed during a pass shows in every workload alike. With --trace each run is
traced and the per-layer metrics are recorded as well; with --untraced the
report adds trace.overhead_pct per end-to-end metric: the traced median
against the untraced pass's median, in percent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "exit": p.returncode, "wall_s": wall}
    result = json.loads(lines[-1])
    # the workload's own named metrics, printed before the result line
    named = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 6 and parts[0] == "[perfbench]" and parts[1] == workload and parts[3] == "=":
            named[parts[2]] = float(parts[4])
    # error messages name files under the checkout; keep them checkout-relative
    findings = [l.split("finding: ", 1)[1].replace(ROOT, "<checkout>")
                for l in lines if "] finding: " in l]
    return {"seed": seed, "exit": 0, "wall_s": wall, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "named": named, "findings": findings}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--untraced", help="an untraced pass's record, for trace.overhead_pct")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    b = bench()
    names = a.workloads or [w["name"] for w in b["workloads"]]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    report = {"run_seconds": b["run_seconds"], "runs": a.runs, "traced": a.trace,
              "cpus": os.cpu_count(), "workloads": {}}
    runs = {w: [] for w in names}
    for i in range(a.runs):
        for w in names:
            r = run(w, a.first_seed + i, b["run_seconds"], a.trace)
            runs[w].append(r)
            print(f"{w} seed={r['seed']} exit={r['exit']} wall={r['wall_s']:.1f}s "
                  f"failed={r.get('failed')} {json.dumps(r.get('metrics', {}) if not a.trace else {})}",
                  file=sys.stderr, flush=True)
    untraced = None
    if a.untraced:
        with open(a.untraced) as f:
            untraced = json.load(f)["workloads"]
    for w in names:
        ok = [r for r in runs[w] if r["exit"] == 0]
        entry = {"runs": runs[w]}
        if not a.trace and len(ok) >= 2:
            entry["spreads"] = {}
            for m in ok[0]["metrics"]:
                s = spread([r["metrics"][m] for r in ok])
                s["bound"] = bounds.get(m)
                s["within_third_of_bound"] = bounds.get(m) is not None and s["spread"] < bounds[m] / 3
                entry["spreads"][m] = s
            entry["named_spreads"] = {m: spread([r["named"][m] for r in ok])
                                      for m in ok[0]["named"] if all(m in r["named"] for r in ok)}
        if a.trace and ok and untraced and w in untraced:
            # the end-to-end metrics of a traced run are on its named lines
            entry["trace.overhead_pct"] = {
                m: 100.0 * (statistics.median([r["named"][m] for r in ok]) / s["median"] - 1)
                for m, s in untraced[w].get("spreads", {}).items()
                if all(m in r["named"] for r in ok)}
        entry["max_wall_s"] = max(r["wall_s"] for r in runs[w])
        entry["mean_wall_s"] = sum(r["wall_s"] for r in runs[w]) / len(runs[w])
        report["workloads"][w] = entry
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    for w, e in report["workloads"].items():
        for m, s in e.get("spreads", {}).items():
            print(f"{w:8s} {m:14s} median={s['median']:.4g} spread={s['spread']:.3f} bound={s['bound']}",
                  file=sys.stderr)
        for m, pct in e.get("trace.overhead_pct", {}).items():
            print(f"{w:8s} {m:14s} trace.overhead_pct={pct:.1f}", file=sys.stderr)


if __name__ == "__main__":
    main()
