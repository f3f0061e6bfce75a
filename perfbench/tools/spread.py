#!/usr/bin/env python3
"""Runs one workload once per seed and reports, for each end-to-end
metric, the median and the spread: the distance between the first and
third quartile (statistics.quantiles, n=4) as a share of the median, next
to the metric's bound in BENCHMARK.json.

Run from the repository root:
  python3 perfbench/tools/spread.py --workload live_20k --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds",
                            str(bench["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}")
            continue
        r = json.loads(lines[-1])
        host = lines[-2] if len(lines) > 1 else ""
        print(f"seed {seed}: {time.time() - t0:.0f} s correct={r['correct']} failed={r['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()) + f" {host}",
              flush=True)
        for k, v in r["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f}"
              f" (bound {m['bound']})")


if __name__ == "__main__":
    main()
