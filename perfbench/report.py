#!/usr/bin/env python3
"""Per-layer report of traced runs.

Usage: python3 perfbench/report.py [trace dir ...]

A trace dir holds the raw.json and spans.jsonl of one traced run; `run.py
--trace 1` keeps the last one of each workload in .bench_build/traces/<name>.
For each workload this prints each layer's self time per pass and its share
of unit wall time, the share of each unit's wall time that falls under named
layers, the per-layer counts, and the tracing overhead.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.realpath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def load(d):
    with open(os.path.join(d, "raw.json")) as f:
        raw = json.load(f)
    with open(os.path.join(d, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return raw, spans


def layer_self_times(spans):
    """Layer -> self time; a span without a layer name belongs to its nearest
    named ancestor, a unit's own span to the benchmark."""
    by_id = {sp["id"]: sp for sp in spans}

    def layer(sp):
        while sp is not None:
            name = metrics.layer_of(sp["name"])
            if name:
                return name
            sp = by_id.get(sp["parent"])
        return "benchmark"

    out = {}
    for sid, t in metrics.self_times(spans).items():
        key = layer(by_id[sid])
        out[key] = out.get(key, 0.0) + t
    return out


def report(raw, spans):
    units = raw["traced_units"]
    ids = {u["id"] for u in units}
    spans_in = [sp for sp in spans if sp["unit"] in ids]
    n_pass = len(raw["traced_passes"])
    wall = sum(u["wall_s"] for u in units)
    lines = [f"== {raw['workload']} (seed {raw['seed']}, {len(units)} units in {n_pass} traced passes)"]
    lines.append("layer self time per pass:")
    for layer, t in sorted(layer_self_times(spans_in).items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<14} {t / n_pass:9.3f} s  {100 * t / wall:5.1f} % of unit wall")
    lines.append("share of unit wall time under named layers:")
    roots = {sp["unit"]: sp for sp in spans_in if sp["parent"] == -1}
    per_name = {}
    for u in units:
        covered, total = per_name.get(u["name"], (0.0, 0.0))
        per_name[u["name"]] = (covered + metrics.under_layers(spans_in, roots[u["id"]]),
                               total + u["wall_s"])
    for name, (covered, total) in sorted(per_name.items()):
        lines.append(f"  {name:<24} {100 * covered / total:5.1f} % of {total:.3f} s")
    lines.append("per-layer metrics:")
    for k, (v, unit) in metrics.per_layer(raw, spans).items():
        lines.append(f"  {k:<30} {v:12.4f} {unit}")
    traced = metrics.median([p["wall_s"] for p in raw["traced_passes"]])
    plain = metrics.median([p["wall_s"] for p in raw["passes"]])
    lines.append(f"tracing overhead: traced pass {traced:.3f} s - untraced pass {plain:.3f} s = "
                 f"{traced - plain:+.3f} s ({100 * (traced - plain) / plain:+.1f} %)")
    return "\n".join(lines)


def main(dirs):
    dirs = dirs or sorted(glob.glob(os.path.join(os.path.dirname(HERE), ".bench_build", "traces", "*")))
    if not dirs:
        sys.exit("no traced runs; run perfbench/run.py with --trace 1 first")
    for d in dirs:
        print(report(*load(d)))


if __name__ == "__main__":
    main(sys.argv[1:])
