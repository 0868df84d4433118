#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload once per
seed, untraced, and prints each metric's median and its interquartile range
as a share of the median, beside the bound BENCHMARK.json fixes.

Usage (from the repository root):
  python3 perfbench/spread.py --workload bar_pipeline --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run failed")
        result = json.loads(out.stdout.splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values[k].append(v["value"])
    print(f"{'metric':<14}{'median':>12}{'iqr/median':>12}{'bound':>8}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:<14}{q2:>12.4g}{(q3 - q1) / q2:>12.3f}{m['bound']:>8}")


if __name__ == "__main__":
    main()
