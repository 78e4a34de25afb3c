#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the benchmark (sbt, once per checkout), copies the
fixed input tables into a fresh run directory, runs the workload in its own
JVM (the seed orders its units and makes the medallion payloads), checks the
outputs and prints one JSON object as the last line of standard output.
Everything it writes goes under `.bench_build/` in the checkout.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("medallion_refresh", "batch_mix")
BUILD = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(BUILD, "scratch")  # where the build points the program's scratch files
RUN = os.path.join(BUILD, "run")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# the program's sf0.1 test tables (seed 42), read by batch_mix
TABLES = os.path.join(HERE, "data")
HEAP = "3g"
DEADLINE_S = 170.0
BUILD_DEADLINE_S = 840.0
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, plus where it was built."""
    h = hashlib.sha256(ROOT.encode())
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_bounded(cmd, timeout, log_path, **kw):
    """Runs cmd in its own process group, output to log_path; kills the whole
    group past the timeout. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata from sbt's JVMs
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = run_bounded(["sbt", "--batch", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                      f"-Djna.tmpdir={tmp}", f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                      "-J-XX:-UsePerfData", "compile"],
                     BUILD_DEADLINE_S, os.path.join(BUILD, "build.log"), cwd=HERE, env=env)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/build.log", 3)
    with open(stamp, "w") as f:
        f.write(digest)


def copy_inputs(workload, data):
    """Copies the fixed tables into the run's data directory and checks each
    copy against its digest; returns the seconds the copy took."""
    if workload == "medallion_refresh":
        return 0.0  # the JVM makes each day's payloads from the seed
    with open(os.path.join(TABLES, "SHA256SUMS")) as f:
        digests = {name: digest for digest, name in (line.split() for line in f if line.strip())}
    t = time.perf_counter()
    for name in digests:
        shutil.copyfile(os.path.join(TABLES, name), os.path.join(data, name))
    took = time.perf_counter() - t
    for name, digest in digests.items():
        with open(os.path.join(data, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                fail(f"input table {name} does not match perfbench/data/SHA256SUMS")
    return took


def tail(units):
    """Unit latency at the highest percentile with ten samples beyond it."""
    walls = [u["wall_s"] for u in units]
    q = metrics.tail_percentile(len(walls))
    return {"samples": len(walls), "percentile": q,
            "value_s": metrics.percentile(walls, q) if q else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")

    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    while True:  # one run at a time per checkout: they share the scratch directory
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except BlockingIOError:
            if time.monotonic() - start > 120:
                fail("another benchmark run holds .bench_build/lock")
            time.sleep(1)

    build()
    deadline = time.monotonic() + DEADLINE_S
    for d in (SCRATCH, RUN):
        shutil.rmtree(d, ignore_errors=True)
    data, out, tmp = (os.path.join(RUN, x) for x in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d)
    inputs_s = copy_inputs(a.workload, data)

    cores = len(os.sched_getaffinity(0))
    cmd = (["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(RUN, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(RUN, 'warehouse')}",
            f"-Dderby.stream.error.file={os.path.join(RUN, 'derby.log')}",
            f"-Dperfbench.scratch={SCRATCH}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), data, out, str(cores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(RUN, "spark-local"))
    rc = run_bounded(cmd, deadline - time.monotonic(), os.path.join(RUN, "jvm.log"), cwd=RUN, env=env)
    if rc != 0:
        fail(f"workload JVM failed (exit {rc}); see .bench_build/run/jvm.log", 4)
    with open(os.path.join(out, "raw.json")) as f:
        raw = json.load(f)

    failures = [f"{x['phase']} {x['name']}: {x['error']}" for x in raw["failures"]]
    wrong = list(raw["check_errors"])
    if a.workload != "medallion_refresh" and not raw["aborted"]:
        import oracle
        names = sorted({u["name"] for u in raw["units"]})
        with open(os.path.join(TABLES, "SHA256SUMS")) as f:
            tables_digest = hashlib.sha256(f.read().encode()).hexdigest()
        wrong += [f"{n}: {err}" for n, err in oracle.check(
            data, out, names, tables_digest, os.path.join(BUILD, "oracle-cache")).items() if err]
    for line in failures + wrong:
        log(f"FAIL {line}")

    attempted = len(raw["warmup_units"]) + len(raw["units"]) + len(raw.get("traced_units", []))
    failed = len(failures) + len(wrong)
    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        values = metrics.per_layer(raw, spans)
        keep = os.path.join(BUILD, "traces", a.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for name in ("raw.json", "spans.jsonl"):
            shutil.copy(os.path.join(out, name), keep)
    else:
        values = metrics.end_to_end(raw, inputs_s, attempted, failed)
    meta = {"commit": git_commit(), "source_digest": source_digest(), "workload": a.workload,
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "heap": HEAP, "heap_max_mb": raw["heap_max_mb"],
            "units": len(raw["units"]), "passes": len(raw["passes"]),
            "unit_tail": tail(raw["units"]),
            "wall_s": time.monotonic() - start}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    with open(os.path.join(BUILD, "results.jsonl"), "a") as f:
        f.write(json.dumps({"meta": meta, "result": result}) + "\n")
    print(json.dumps({"meta": meta}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
