#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print for every metric its median, quartiles and spread (the distance
between the quartiles as a share of the median) next to its bound in
BENCHMARK.json. Runs are untraced, so the metrics are the end-to-end ones.

Usage (from the repository root):
  python3 perfbench/steady.py --workload tpch --runs 10 [--seed0 1]

Use it to set the bounds: a bound should be at least three times the
spread seen here, and spread/bound at most 0.33. A metric whose spread
stays above that at the largest bound allowed, 0.25, is noted in
README.md with its figures. The raw values of every run are printed too.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values, shares, all_correct = {}, set(), True
    for seed in range(a.seed0, a.seed0 + a.runs):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        started = time.monotonic()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - started
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(f"seed {seed}: run failed with code {r.returncode}")
        out = json.loads(lines[-1])
        all_correct &= out["correct"]
        shares.add((out["failed"], out["attempted"]))
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall={wall:.1f}s attempted={out['attempted']} failed={out['failed']} "
              f"correct={out['correct']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)

    print(f"\n{a.workload}, {a.runs} runs, correct in all: {all_correct}, "
          f"failed/attempted seen: {sorted(shares)}")
    print(f"{'metric':28s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s} {'spread/bound':>12s}")
    for k, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds[k]
        print(f"{k:28s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
              f"{b:6.2f} {spread / b:12.2f}")


if __name__ == "__main__":
    main()
