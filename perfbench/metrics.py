"""Arithmetic that turns one run's raw record into the benchmark's metrics."""
import math
import statistics

# Layers of the program, named after its modules, in the order a unit calls
# them. A span belongs to the layer its name starts with.
LAYERS = ("GraftSession", "SparkEntry", "plans", "operators", "sources", "streaming", "jvm")

MIB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs)


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least q % of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, q):
    """How many of n samples lie strictly beyond the q-th percentile's rank."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond it,
    or None when even the median has fewer."""
    for q in candidates:
        if beyond(n, q) >= 10:
            return q
    return None


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, jobs):
    """Time in [start, end] that no running job covers."""
    return (end - start) - union_length(jobs, start, end)


def self_times(spans):
    """Span id -> its duration minus the part of it its child spans cover."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start_s"], sp["end_s"]))
    return {sp["id"]: (sp["end_s"] - sp["start_s"])
            - union_length(children.get(sp["id"], []), sp["start_s"], sp["end_s"])
            for sp in spans}


# Program objects called from inside a layer span, by the module they live in.
OBJECT_LAYER = {"ApiIngest": "sources", "PartitionedLake": "sources", "JdbcSink": "sources",
                "Medallion": "operators"}


def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else OBJECT_LAYER.get(head)


def under_layers(spans, root):
    """Time of the root span covered by its children that enter a layer."""
    return union_length([(sp["start_s"], sp["end_s"]) for sp in spans
                         if sp["parent"] == root["id"] and layer_of(sp["name"])])


def end_to_end(raw, inputs_s, attempted, failed):
    """The end-to-end metrics of the measured (untraced) window. Times are
    medians over its passes; the unit time is the geometric mean, over the
    distinct units, of each unit's median latency. `failed` counts units that
    threw, timed out or gave wrong output."""
    by_name = {}
    for u in raw["units"]:
        by_name.setdefault(u["name"], []).append(u["wall_s"])
    passes = raw["passes"]
    return {
        "setup_s": (inputs_s + sum(raw["setup"].values()), "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "unit_geomean_s": (geomean([median(w) for w in by_name.values()]), "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "heap_live_mb": (median([p["heap_live_mb"] for p in passes]), "MB"),
        "disk_bytes_per_input_byte": (raw["disk_bytes"] / raw["input_bytes"], "ratio"),
    }


def per_layer(raw, spans):
    """Per-layer metrics of the traced window, per pass unless noted."""
    units = raw["traced_units"]
    n_pass = len(raw["traced_passes"])
    ids = {u["id"] for u in units}
    cores = raw["cores"]
    spans_in = [sp for sp in spans if sp["unit"] in ids]

    def span_total(name):
        return sum(sp["end_s"] - sp["start_s"] for sp in spans_in if sp["name"] == name)

    def per_pass(x):
        return x / n_pass

    def counter(k):
        return sum(u["counters"].get(k, 0) for u in units)

    lookups = [sp["end_s"] - sp["start_s"] for sp in spans_in if sp["name"] == "SparkEntry.lookup"]
    builds = [(sp["unit"], sp["start_s"], sp["end_s"]) for sp in spans_in
              if sp["name"] == "SparkEntry.build"]
    # spans are on the monotonic clock of the JVM, jobs on its wall clock:
    # place each unit's spans on the wall clock by its root span
    root = {sp["unit"]: sp for sp in spans_in if sp["parent"] == -1}
    by_id = {u["id"]: u for u in units}
    build_jobs = 0
    for unit, s, e in builds:
        u, r = by_id[unit], root[unit]
        lo = u["start_ms"] + (s - r["start_s"]) * 1000.0
        hi = u["start_ms"] + (e - r["start_s"]) * 1000.0
        build_jobs += sum(1 for js, _ in u["jobs"] if lo <= js <= hi)
    gaps = sum(driver_gap(u["start_ms"], u["end_ms"], u["jobs"]) for u in units) / 1000.0
    wall = sum(u["wall_s"] for u in units)
    plan = lambda k: sum(u.get("plan", {}).get(k, 0) for u in units)

    drains = [st for u in units for st in u["streams"]]
    batches = [p for st in drains for p in st["progress"]]
    stream_units = [u for u in units if u["streams"]]

    def batch_mean(k):
        return statistics.fmean(p[k] for p in batches) if batches else 0.0

    startups = [st["progress"][0]["ts_ms"] - st["started_ms"]
                for st in drains if st["progress"] and st["started_ms"] >= 0]
    overhead = sum(
        next(sp["end_s"] - sp["start_s"] for sp in spans_in
             if sp["unit"] == u["id"] and sp["name"] == "SparkEntry.build")
        - sum(p["trigger_ms"] for st in u["streams"] for p in st["progress"]) / 1000.0
        for u in stream_units)
    last = [st["progress"][-1] for st in drains if st["progress"]]
    files = counter("files_written")
    parts = counter("partitions_written")

    covered = sum(under_layers(spans_in, root[u["id"]]) for u in units)
    traced_pass = median([p["wall_s"] for p in raw["traced_passes"]])
    untraced_pass = median([p["wall_s"] for p in raw["passes"]])
    boot = [sp for sp in spans if sp["name"] == "GraftSession.start"]

    m = {
        "GraftSession.start_s": (boot[0]["end_s"] - boot[0]["start_s"] if boot else 0.0, "s"),
        "SparkEntry.lookup_ms": (statistics.fmean(lookups) * 1000.0 if lookups else 0.0, "ms"),
        "SparkEntry.build_s": (per_pass(span_total("SparkEntry.build")), "s"),
        "SparkEntry.build_jobs": (per_pass(build_jobs), "count"),
        "plans.plan_s": (per_pass(span_total("plans.plan")), "s"),
        "plans.exchanges": (per_pass(plan("exchanges")), "count"),
        "plans.smj": (per_pass(plan("smj")), "count"),
        "plans.bhj": (per_pass(plan("bhj")), "count"),
        "plans.global_windows": (per_pass(plan("global_windows")), "count"),
        "operators.exec_s": (per_pass(span_total("operators.exec")), "s"),
        "operators.jobs": (per_pass(sum(len(u["jobs"]) for u in units)), "count"),
        "operators.stages": (per_pass(counter("stages")), "count"),
        "operators.tasks": (per_pass(counter("tasks")), "count"),
        "operators.task_run_s": (per_pass(counter("task_run_ms") / 1000.0), "s"),
        "operators.task_cpu_s": (per_pass(counter("task_cpu_ns") / 1e9), "s"),
        "operators.gc_s": (per_pass(counter("gc_ms") / 1000.0), "s"),
        "operators.input_mb": (per_pass(counter("input_bytes") / MIB), "MB"),
        "operators.shuffle_write_mb": (per_pass(counter("shuffle_write_bytes") / MIB), "MB"),
        "operators.shuffle_read_mb": (per_pass(counter("shuffle_read_bytes") / MIB), "MB"),
        "operators.spill_mb": (per_pass(counter("spill_bytes") / MIB), "MB"),
        "operators.peak_exec_mem_mb": (
            max((u["counters"].get("peak_exec_mem_bytes", 0) for u in units), default=0) / MIB, "MB"),
        "operators.driver_gap_s": (per_pass(gaps), "s"),
        "operators.slot_util": (counter("task_run_ms") / 1000.0 / (wall * cores), "ratio"),
        "sources.bronze_s": (per_pass(span_total("sources.bronze")), "s"),
        "sources.silver_s": (per_pass(span_total("sources.silver")), "s"),
        "sources.gold_s": (per_pass(span_total("sources.gold")), "s"),
        "sources.files_written": (per_pass(files), "count"),
        "sources.bytes_written_mb": (per_pass(counter("bytes_written") / MIB), "MB"),
        "sources.files_per_partition": (files / parts if parts else 0.0, "count"),
        "streaming.batches": (per_pass(len(batches)), "count"),
        "streaming.trigger_ms": (batch_mean("trigger_ms"), "ms"),
        "streaming.add_batch_ms": (batch_mean("add_batch_ms"), "ms"),
        "streaming.wal_commit_ms": (batch_mean("wal_commit_ms"), "ms"),
        "streaming.commit_offsets_ms": (batch_mean("commit_offsets_ms"), "ms"),
        "streaming.planning_ms": (batch_mean("planning_ms"), "ms"),
        "streaming.latest_offset_ms": (batch_mean("latest_offset_ms"), "ms"),
        "streaming.startup_ms": (statistics.fmean(startups) if startups else 0.0, "ms"),
        "streaming.overhead_s": (per_pass(overhead), "s"),
        "streaming.state_rows": (statistics.fmean(p["state_rows"] for p in last) if last else 0.0, "count"),
        "streaming.state_mem_mb": (
            statistics.fmean(p["state_mem_bytes"] for p in last) / MIB if last else 0.0, "MB"),
        "jvm.cpu_s": (median([p["cpu_s"] for p in raw["passes"]]), "s"),
        "jvm.gc_s": (raw["jvm"]["gc_s"], "s"),
        "jvm.jit_s": (raw["jvm"]["jit_s"], "s"),
        "jvm.peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "trace.layer_share": (covered / wall, "ratio"),
        "trace.overhead_s": (traced_pass - untraced_pass, "s"),
    }
    return m
