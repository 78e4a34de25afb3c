#!/usr/bin/env python3
"""Steadiness check: repeats each workload with fresh seeds and prints, for
every end-to-end metric, the median, quartiles and spread (quartile distance
over the median) next to the metric's bound.

Usage: python3 perfbench/steady.py [--runs 10] [--sets 1] [--workloads a,b] [--seed0 1000]

A spread passes when it is within a third of the bound (setup_s is exempt).
With --sets 2 it also shows the second criterion: the second set's median
may not be worse than the first set's by more than the bound. Results are
appended to .bench_build/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def worse_by(first, second, better):
    """How much worse the second median is than the first, as a share of it."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workloads")
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            results = []
            for i in range(a.runs):
                r = run(w, a.seed0 + 100 * s + i, bench["run_seconds"])
                ok &= r["correct"]
                results.append(r)
                print(f"{w} set {s + 1} run {i + 1}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
            sets.append(results)
        print(f"== {w}: {a.runs} runs per set")
        print(f"  {'metric':<26} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6}  verdict")
        for m in bench["end_to_end"]:
            meds = []
            for s, results in enumerate(sets):
                vals = [r["metrics"][m["name"]]["value"] for r in results]
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                exempt = m["name"] == "setup_s"
                good = exempt or sp <= m["bound"] / 3
                ok &= good
                verdict = "exempt" if exempt else ("ok" if good else "TOO WIDE")
                print(f"  {m['name']:<26} {med:11.4f} {q1:11.4f} {q3:11.4f} {sp:7.3f} "
                      f"{m['bound']:6.2f}  set {s + 1} {verdict}")
            if len(meds) == 2:
                d = worse_by(meds[0], meds[1], m["better"])
                good = d <= m["bound"]
                ok &= good
                print(f"  {'':<26} second median worse by {d:+.3f} (bound {m['bound']:.2f}) "
                      f"{'ok' if good else 'REGRESSED'}")
        with open(os.path.join(ROOT, ".bench_build", "steady.jsonl"), "a") as f:
            f.write(json.dumps({"workload": w, "seed0": a.seed0, "sets": sets}) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
