#!/usr/bin/env python3
"""Side-by-side table of two traced benchmark runs.

Usage: python3 tools/diff_runs.py <before trace dir> <after trace dir>

A trace dir holds the raw.json and spans.jsonl of one traced perfbench run;
`perfbench/run.py --trace 1` keeps the last one of each workload in
`.bench_build/traces/<workload>`. For the traced units of each run this
prints, per span name, the sample count and the median duration, then every
per-layer metric the benchmark defines (per pass unless its unit says
otherwise), each with the relative change from before to after.
"""
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import metrics  # noqa: E402
import report  # noqa: E402


def span_medians(raw, spans):
    """Span name -> (sample count, median seconds) over the traced units."""
    ids = {u["id"] for u in raw["traced_units"]}
    by_name = {}
    for sp in spans:
        if sp["unit"] in ids:
            by_name.setdefault(sp["name"], []).append(sp["end_s"] - sp["start_s"])
    return {k: (len(v), statistics.median(v)) for k, v in by_name.items()}


def change(before, after):
    if before is None or after is None:
        return ""
    if before == 0:
        return "" if after == 0 else "new"
    return f"{100.0 * (after - before) / abs(before):+.1f} %"


def diff(before, after):
    """The table for two (raw, spans) pairs, as text."""
    (rb, sb), (ra, sa) = before, after
    lines = [f"== {rb['workload']}: before seed {rb['seed']}, "
             f"{len(rb['traced_passes'])} traced passes | after seed {ra['seed']}, "
             f"{len(ra['traced_passes'])} traced passes"]
    lines.append(f"{'span':<36} {'n':>5} {'median ms':>10} {'n':>5} {'median ms':>10}  change")
    mb, ma = span_medians(rb, sb), span_medians(ra, sa)
    for name in sorted(set(mb) | set(ma)):
        nb, tb = mb.get(name, (0, None))
        na, ta = ma.get(name, (0, None))
        fmt = lambda t: f"{1000.0 * t:10.1f}" if t is not None else f"{'-':>10}"
        lines.append(f"  {name:<34} {nb:>5} {fmt(tb)} {na:>5} {fmt(ta)}  {change(tb, ta)}")
    lines.append(f"{'per-layer metric':<36} {'before':>12} {'after':>12}  unit  change")
    pb, pa = metrics.per_layer(rb, sb), metrics.per_layer(ra, sa)
    for k in list(pb) + [k for k in pa if k not in pb]:
        vb, unit = pb.get(k, (None, pa.get(k, (None, ""))[1]))
        va = pa.get(k, (None, unit))[0]
        fmt = lambda v: f"{v:12.4f}" if v is not None else f"{'-':>12}"
        lines.append(f"  {k:<34} {fmt(vb)} {fmt(va)}  {unit:<5} {change(vb, va)}")
    return "\n".join(lines)


def main(args):
    if len(args) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    print(diff(report.load(args[0]), report.load(args[1])))


if __name__ == "__main__":
    main(sys.argv[1:])
