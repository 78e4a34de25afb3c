"""Checks BENCHMARK.json against the benchmark's contract and the per-layer
predictions in predictions.json. `python3 perfbench/schema.py` prints every
problem and exits non-zero if there is one."""
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")
METRIC_KEYS = {"end_to_end": {"name", "unit", "better", "bound"},
               "per_layer": {"name", "unit", "better"}}


def prediction(preds, metric):
    """The prediction for a per-layer metric: its own entry, else its layer's."""
    layers = preds["layers"]
    return layers.get(metric) or layers.get(metric.split(".", 1)[0])


def problems(bench, preds):
    out = []
    if set(bench) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        out.append(f"top-level keys are {sorted(bench)}")
        return out
    paths = bench["paths"]
    if not (1 <= len(paths) <= 16) or not all(
            isinstance(p, str) and PATH.match(p) and not p.startswith("/")
            and ".." not in p.split("/") for p in paths):
        out.append(f"bad paths {paths}")
    cmd = bench["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32
            and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        out.append("command must be a list of at most 32 strings of at most 200 characters")
    else:
        for c in cmd[1:]:
            if c.startswith("/") or ".." in c.split("/"):
                out.append(f"command argument {c} leaves the checkout")
            elif os.path.exists(os.path.join(ROOT, c)) and not any(
                    c == p or c.startswith(p.rstrip("/") + "/") for p in paths):
                out.append(f"command names {c}, which is outside paths")
    rs = bench["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        out.append(f"run_seconds {rs} is not a whole number from 1 to 60")
    names = []
    ws = bench["workloads"]
    if not 2 <= len(ws) <= 8:
        out.append(f"{len(ws)} workloads; need 2 to 8")
    for w in ws:
        if set(w) != {"name", "why"}:
            out.append(f"workload keys {sorted(w)}")
            continue
        names.append(w["name"])
        why = w["why"]
        if not (isinstance(why, str) and 0 < len(why) <= 200 and "\n" not in why):
            out.append(f"workload {w['name']}: why must be one line of at most 200 characters")
    for section, lo, hi in (("end_to_end", 1, 16), ("per_layer", 1, 128)):
        ms = bench[section]
        if not lo <= len(ms) <= hi:
            out.append(f"{section} has {len(ms)} metrics; need {lo} to {hi}")
        for m in ms:
            if set(m) != METRIC_KEYS[section]:
                out.append(f"{section} metric keys {sorted(m)}")
                continue
            names.append(m["name"])
            if not UNIT.match(m["unit"]):
                out.append(f"{m['name']}: bad unit {m['unit']!r}")
            if m["better"] not in ("lower", "higher"):
                out.append(f"{m['name']}: better must be lower or higher")
            if section == "end_to_end" and not (
                    isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= 0.25):
                out.append(f"{m['name']}: bound {m['bound']} is not in (0, 0.25]")
    for n in names:
        if not NAME.match(n):
            out.append(f"bad name {n!r}")
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        out.append(f"names used twice: {dup}")
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    setup = e2e.get("setup_s")
    if not setup or setup["unit"] != "s" or setup["better"] != "lower":
        out.append("setup_s must be an end-to-end metric in s, lower is better")
    elif setup["bound"] < max(m["bound"] for m in e2e.values()):
        out.append("setup_s must have the largest bound")
    workloads = set(w["name"] for w in ws)
    for m in bench["per_layer"]:
        p = prediction(preds, m["name"])
        if p is None:
            out.append(f"{m['name']}: no layer-to-metric prediction")
            continue
        for e in p["moves"]:
            if e not in e2e:
                out.append(f"{m['name']}: predicted to move unknown metric {e}")
        for w in p["on"] + p["no_change_on"]:
            if w not in workloads:
                out.append(f"{m['name']}: prediction names unknown workload {w}")
    if len(json.dumps(bench)) > 64 * 1024:
        out.append("BENCHMARK.json is larger than 64 KiB")
    return out


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "predictions.json")) as f:
        preds = json.load(f)
    return bench, preds


if __name__ == "__main__":
    found = problems(*load())
    for p in found:
        print(p)
    sys.exit(1 if found else 0)
