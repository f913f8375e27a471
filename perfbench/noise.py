#!/usr/bin/env python3
"""Noise study: repeat one workload N times, one seed per run, and print
for each metric its median, quartiles, quartile spread and max/min spread
(both as a share of the median). Every run is untraced (`--trace 0`),
the mode whose metrics are gated.

    python3 perfbench/noise.py --workload corpus_dedup --runs 10 --seconds 12

Use it to size passes before trusting a bound: a regression check
compares medians of runs like these, and a metric is only usable if its
quartile spread stays inside the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    for line in proc.stderr.splitlines():
        if line.startswith("[perfbench]"):
            print(f"  {line}", file=sys.stderr)
    if proc.returncode != 0:
        sys.exit(f"run failed (exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    rel = (lambda x: x / med) if med else (lambda x: float("nan"))
    return {
        "median": med, "q1": q1, "q3": q3,
        "iqr_frac": rel(q3 - q1), "range_frac": rel(max(values) - min(values)),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--seed-base", type=int, default=1)
    args = ap.parse_args()

    results = []
    for i in range(args.runs):
        res = one_run(args.workload, args.seed_base + i, args.seconds)
        results.append(res)
        vals = {k: round(m["value"], 4) for k, m in res["metrics"].items()}
        print(f"run {i + 1}/{args.runs} seed={args.seed_base + i}"
              f" correct={res['correct']} {vals}", file=sys.stderr, flush=True)
    print(f"{'metric':36s} {'median':>12s} {'q1':>12s} {'q3':>12s}"
          f" {'iqr/med':>8s} {'range/med':>9s}")
    for name in results[0]["metrics"]:
        s = spread([r["metrics"][name]["value"] for r in results])
        print(f"{name:36s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f}"
              f" {s['iqr_frac']:8.3f} {s['range_frac']:9.3f}")
    print(f"all correct: {all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
