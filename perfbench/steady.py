#!/usr/bin/env python3
"""Steadiness helper: runs one workload N times, each with another seed,
and prints each metric's median, quartiles and relative spread
((q3 - q1) / median) next to its bound in BENCHMARK.json, and each run's
wall time. Run from the repository root:

    python3 perfbench/steady.py --workload notebook_rerun --runs 10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", str(a.trace)],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall={walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, xs in values.items():
        m, q1, q3, s = spread(xs)
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if s < b / 3 else "WIDE")
        print(f"{k:32s} {m:12.5g} {q1:12.5g} {q3:12.5g} {s:8.3f} "
              f"{'' if b is None else b:>6} {flag}")
    print(f"wall seconds per run: median {statistics.median(walls):.1f}, max {max(walls):.1f}")


if __name__ == "__main__":
    main()
