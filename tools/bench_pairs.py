#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, summarised for a speed claim.

Usage:
  python3 tools/bench_pairs.py <parent_dir> <change_dir> --workload W --seeds A-B [--out FILE]

For every seed from A to B it runs `perfbench/run.py --trace 0` once in each
checkout, one after the other, never both at once: the parent first on odd
seeds, the change first on even ones. Each checkout builds and keeps its own
`.bench_build/`. Then it prints, for each end-to-end metric of
`BENCHMARK.json`, each side's median and quartiles, how many pairs the change
won (ties count for neither side), the gap between the medians and the
distance between the parent's quartiles, plus each side's run wall time.
A claimed gain needs the change to win at least nine pairs in ten and a
median gap larger than the parent's quartile distance.

With --out, every pair is appended to FILE as one JSON line. Nothing else is
written outside the two checkouts' `.bench_build/` directories.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.exit(f"{checkout}: seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    meta, result = json.loads(lines[-2])["meta"], json.loads(lines[-1])
    return {"wall_s": meta["wall_s"], "correct": result["correct"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return range(lo, hi + 1)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B, inclusive")
    ap.add_argument("--out")
    a = ap.parse_args()
    parent, change = os.path.realpath(a.parent), os.path.realpath(a.change)
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)

    pairs = []
    for seed in a.seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(parent if side == "parent" else change, a.workload, seed,
                             bench["run_seconds"])
        pairs.append(pair)
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{side} {m['name']}={pair[side]['metrics'][m['name']]:.4g}"
            for m in bench["end_to_end"][:3] for side in ("parent", "change")),
            file=sys.stderr, flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, **pair}) + "\n")

    n = len(pairs)
    print(f"== {a.workload}: {n} pairs, seeds {a.seeds.start}-{a.seeds.stop - 1}, "
          f"{sum(not (p['parent']['correct'] and p['change']['correct']) for p in pairs)} "
          f"pairs with a failed output check")
    print(f"  {'metric':<26} {'parent median (q1/q3)':>30} {'change median (q1/q3)':>30} "
          f"{'change':>8} {'wins':>6} {'gap':>9} {'parent q3-q1':>12}")
    rows = [(m["name"], m["better"], [p["parent"]["metrics"][m["name"]] for p in pairs],
             [p["change"]["metrics"][m["name"]] for p in pairs]) for m in bench["end_to_end"]]
    rows.append(("meta.wall_s", "lower", [p["parent"]["wall_s"] for p in pairs],
                 [p["change"]["wall_s"] for p in pairs]))
    for name, better, before, after in rows:
        sign = 1 if better == "lower" else -1
        wins = sum(sign * (b - c) > 0 for b, c in zip(before, after))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(before), quartiles(after)
        rel = f"{(cmed - pmed) / pmed:+.1%}" if pmed else "n/a"
        print(f"  {name:<26} {pmed:>12.4f} ({pq1:.4f}/{pq3:.4f}) {cmed:>12.4f} ({cq1:.4f}/{cq3:.4f}) "
              f"{rel:>8} {wins:>3}/{n:<2} {abs(cmed - pmed):>9.4f} {pq3 - pq1:>12.4f}")


if __name__ == "__main__":
    main()
