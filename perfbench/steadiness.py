#!/usr/bin/env python3
"""Same-code steadiness report: run each workload repeatedly on one
commit, one seed per run, and print every end-to-end metric's median
and quartiles next to its bound from ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--traced 2]

A metric is flagged when its spread (interquartile range over median)
exceeds its bound, and noted when it exceeds a third of it. ``setup_s``
and ``ops_per_s`` are listed first. ``--traced N`` adds N traced runs
per workload and reports the tracing overhead: traced ``ops_per_s``
against the untraced median. Run from the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

FIRST = ("setup_s", "ops_per_s")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    # the run's detail line (cycle rates, CPU steal, ...) rides along in --json
    result["detail"] = next(
        (json.loads(x)["detail"] for x in lines if x.startswith('{"workload"')), None
    )
    return result, wall


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--json", help="also write every run's result to this file")
    args = ap.parse_args()

    e2e = {m["name"]: m for m in bench["end_to_end"]}
    order = [n for n in FIRST if n in e2e] + [n for n in e2e if n not in FIRST]
    raw: dict = {}
    flagged = 0
    for workload in args.workloads.split(","):
        runs, walls = [], []
        for i in range(args.runs):
            result, wall = run_once(workload, args.seed0 + i, args.seconds, 0)
            runs.append(result)
            walls.append(wall)
            print(f"  {workload} seed {args.seed0 + i}: {wall:.1f} s wall, "
                  f"correct={result['correct']} failed={result['failed']}/{result['attempted']}",
                  file=sys.stderr, flush=True)
        traced = [
            run_once(workload, args.seed0 + i, args.seconds, 1)[0] for i in range(args.traced)
        ]
        raw[workload] = {"untraced": runs, "traced": traced, "wall_s": walls}
        bad = sum(1 for r in runs if not r["correct"])
        print(f"\n{workload}: {len(runs)} runs, {bad} not correct, "
              f"run wall median {statistics.median(walls):.1f} s (max {max(walls):.1f} s)")
        print(f"  {'metric':14s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}")
        for name in order:
            values = [r["metrics"][name]["value"] for r in runs]
            q1, q2, q3 = quartiles(values)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            bound = e2e[name]["bound"]
            mark = ""
            if spread > bound:
                mark, flagged = "  EXCEEDS BOUND", flagged + 1
            elif spread > bound / 3:
                mark = "  above bound/3"
            print(f"  {name:14s} {q2:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {bound:6.2f}{mark}")
        if traced:
            t_ops = statistics.median(r["metrics"]["trace.ops_per_s"]["value"] for r in traced)
            u_ops = statistics.median(r["metrics"]["ops_per_s"]["value"] for r in runs)
            print(f"  tracing overhead: traced ops_per_s {t_ops:.4f} vs untraced {u_ops:.4f} "
                  f"({100 * (u_ops - t_ops) / u_ops:+.1f}% slower)")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(raw, f, indent=1)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
