#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload notebook_rerun --seed 1 --seconds 15 --trace 0

Builds the program with the benchmark (once per source state), generates
the workload's inputs from the seed, runs the workload in one JVM on a
local[<cores>] Spark session, checks the outputs, prints a report line
with every metric by name and, last, one JSON result line. --trace 1
reports the per-layer metrics of BENCHMARK.json instead of the
end-to-end ones.

BENCHMARK.json lists notebook_rerun and ingest_refresh. operator_sweep
runs the same way but is not listed: with three workloads, a full round of
runs fits the time limit only with 10-second runs, and those spread too
widely on a shared 4-vCPU host."""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("notebook_rerun", "ingest_refresh", "operator_sweep")
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
SETUPS = 3
# Class-data archive of the classpath's jars, written at exit by the first
# run after a build and mapped by every later one. It takes 3-8 s of class
# loading off each run's wall time (not off any metric), which a full round
# of runs needs to finish in time.
CDS_ARCHIVE = os.path.join(TARGET, "classes.jsa")
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
               + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")

_children = []


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _run(cmd, timeout, log, **kw):
    """Runs a child in its own process group; kills the group on timeout or
    interruption and waits for it, so nothing outlives the benchmark."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        _children.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            _children.remove(p)


def _source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles program + benchmark with sbt, offline, unless the classes
    already match the sources. Returns the runtime classpath and the JVM
    options build.sbt wrote."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvm-options.txt")

    def built():
        with open(cp_file) as f, open(opts_file) as g:
            return f.read().strip(), g.read().split()

    stamp = _source_stamp()
    if all(map(os.path.exists, (stamp_file, cp_file, opts_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return built()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OFFLINE)
    log = os.path.join(TARGET, "build.log")
    rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
              max(30, deadline - time.time()), log, cwd=HERE, env=env)
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"build failed (rc={rc}):\n{tail}")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return built()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def oracle_check(res, work):
    """Compares each operator result with its DuckDB oracle over the same
    inputs: columns by name, rows sorted, exact values (the repository's
    oracle gate). Returns a list of mismatches."""
    import duckdb
    bad = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    ops = os.path.join(work, "data", "ops")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ops}/{t}.parquet')")
    for q, path in sorted(res.get("op_outputs", {}).items()):
        try:
            spark = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table()
            duck = con.execute(res["oracle_sql"][q]).fetch_arrow_table()
        except Exception as e:  # a missing output or a failing oracle is a failure
            bad.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
            continue
        cols = sorted(spark.column_names)
        if cols != sorted(duck.column_names):
            bad.append(f"{q}: columns {cols} != {sorted(duck.column_names)}")
            continue
        key = lambda r: tuple((str(type(v)), str(v)) for v in (r[c] for c in cols))  # noqa: E731
        sp = sorted(spark.select(cols).to_pylist(), key=key)
        dp = sorted(duck.select(cols).to_pylist(), key=key)
        if len(sp) != len(dp):
            bad.append(f"{q}: {len(sp)} rows != oracle {len(dp)}")
            continue
        for a, b in zip(sp, dp):
            diff = [c for c in cols if not (a[c] == b[c] or (
                isinstance(a[c], float) and isinstance(b[c], float)
                and math.isnan(a[c]) and math.isnan(b[c])))]
            if diff:
                bad.append(f"{q}: value mismatch in {diff[0]}: {a[diff[0]]!r} != {b[diff[0]]!r}")
                break
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"no program sources under {PROGRAM_SRC}; run from the repository root")
    classpath, jvm_options = build(start + 870)

    run_start = time.time()
    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        try:
            manifest = gen.generate(a.workload, a.seed, os.path.join(work, "data"))
        except FileNotFoundError as e:
            fail(str(e))
        with open(os.path.join(work, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        gen_s = time.time() - run_start

        n = cores()
        cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
               else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
        cmd = (["java", "-Xmx2g", cds, f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
               + jvm_options
               + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
                  "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--cores", str(n), "--setups", str(SETUPS)])
        log = os.path.join(work, "jvm.log")
        budget = 175 - (time.time() - run_start)
        rc = _run(cmd, budget, log, cwd=ROOT)
        if rc != 0:
            with open(log, errors="replace") as f:
                tail = f.read()[-4000:]
            fail(f"workload JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
        with open(os.path.join(work, "results.json")) as f:
            res = json.load(f)
        spans = []
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]

        # One failure count: failed cells, plus each operator whose output
        # differs from its oracle.
        oracle = oracle_check(res, work) if a.workload == "operator_sweep" else []
        failures = list(res["failures"]) + [f"oracle {m}" for m in oracle]
        attempted = len(res["cells"])
        failed = sum(1 for c in res["cells"] if not c["ok"]) + len(oracle)
        full = metrics.report(a.workload, res, failed, attempted)
        shape = {"tables": manifest["shape"], "cells": res["shape"]}
        info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": n,
                "generate_s": round(gen_s, 3), "measured_s": res["measured_s"],
                "input_shape": shape, "report": full,
                "pass_slots": metrics.pass_slots(a.workload, res),
                "failures": failures[:20], "checks": res["checks"]}
        if a.trace:
            layer = metrics.per_layer(a.workload, res, spans)
            info["per_layer"] = layer
            info["layer_map"] = metrics.LAYER_MAP
            # A layer the workload does not reach reads 0.
            out = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in metrics.BENCH["per_layer"]}
        else:
            e2e = metrics.end_to_end(a.workload, res)
            out = {}
            for m in metrics.BENCH["end_to_end"]:
                v = e2e[m["name"]][0]
                if v is None:
                    fail(f"metric {m['name']} has no samples; the run measured too little")
                out[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps(info))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    for p in list(_children):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    main()
