#!/usr/bin/env python3
"""Traced-run report: for each workload, several pairs of an untraced and a
traced run, pair i on seed + i and the traced run first in every other
pair. Prints every per-layer metric of the first traced run (self time per
layer, counts, ratios), the tracing overhead (the median over the pairs of
traced run_s minus untraced run_s), and the per-layer metrics that read 0
where the workload exercises their layer.

For bar_pipeline it also runs a traced pass on a universe four times larger
and prints the three scale findings: point-read latency against universe
size, LiveFeed input rows per polled trade, and addBatch's share of a
trigger.

Usage (from the repository root):
  python3 perfbench/report.py [--seed 1] [--pairs 4] [--workloads relational_queries,bar_pipeline]
"""
import argparse
import json
import statistics
import subprocess
import sys

# per-layer metric prefix -> workloads whose run exercises that layer
EXERCISED = [
    (("queries.", "self_s.queries"), {"relational_queries"}),
    (("sources.barstore.", "sources.compact", "streaming.", "pipeline.", "self_s.sources",
      "self_s.streaming", "self_s.operators"), {"bar_pipeline"}),
]
# bar_pipeline's default universe (BarParams.default.symbols)
UNIVERSE = 80


def run(workload, seed, trace, symbols=None):
    spec = json.load(open("BENCHMARK.json"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    if symbols:
        cmd += ["--symbols", str(symbols)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: run failed")
    result = json.loads(out.stdout.splitlines()[-1])
    return result, {k: v["value"] for k, v in result["metrics"].items()}


def pair(workload, seed, traced_first):
    """(untraced result, traced result) on one seed; the order alternates
    between pairs so that neither mode always runs second."""
    if traced_first:
        traced = run(workload, seed, 1)
        return run(workload, seed, 0), traced
    plain = run(workload, seed, 0)
    return plain, run(workload, seed, 1)


def exercised(name, workload):
    for prefixes, workloads in EXERCISED:
        if name.startswith(prefixes):
            return workload in workloads
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--workloads", default="relational_queries,bar_pipeline")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in a.workloads.split(","):
        pairs = [pair(w, a.seed + i, traced_first=i % 2 == 1) for i in range(a.pairs)]
        traced, layer = pairs[0][1]
        print(f"\n## {w} (seeds {a.seed}-{a.seed + a.pairs - 1})\n")
        print("correct: " + ", ".join(
            f"seed {a.seed + i} untraced {p[0]['correct']} traced {t[0]['correct']}"
            for i, (p, t) in enumerate(pairs)) +
            f"; ops {traced['attempted']}, failed {traced['failed']}")
        shares = []
        for i, ((_, e2e), (_, lay)) in enumerate(pairs):
            shares.append((lay["trace.run_s"] - e2e["run_s"]) / e2e["run_s"])
            print(f"seed {a.seed + i}: run_s untraced {e2e['run_s']:.3f} s, "
                  f"traced {lay['trace.run_s']:.3f} s ({shares[-1]:+.1%})")
        print(f"tracing overhead, median of {len(shares)} pairs: "
              f"{statistics.median(shares):+.1%} of untraced run_s")
        print(f"op tail: p{layer['ops.tail_pct']:.0f} over {layer['ops.count']:.0f} ops; "
              f"per-layer figures from the traced run on seed {a.seed}\n")
        print("| metric | value | unit |\n|---|---:|---|")
        for name, value in layer.items():
            if exercised(name, w):
                print(f"| {name} | {value:.4g} | {units[name]} |")
        zero = [n for n, v in layer.items() if exercised(n, w) and v == 0]
        print(f"\nread 0 on this workload although it exercises their layer: "
              f"{', '.join(zero) if zero else 'none'}")
        if w == "bar_pipeline":
            findings(a.seed, layer)


def findings(seed, small):
    _, big = run("bar_pipeline", seed, 1, symbols=4 * UNIVERSE)
    print("\n### scale findings\n")
    print(f"- point read p50: {small['pipeline.point_read_p50_s']:.3f} s at {UNIVERSE} symbols, "
          f"{big['pipeline.point_read_p50_s']:.3f} s at {4 * UNIVERSE} symbols "
          f"(files read per lookup {small['sources.barstore.files_read_per_lookup']:.0f} and "
          f"{big['sources.barstore.files_read_per_lookup']:.0f}; jobs per lookup "
          f"{small['sources.barstore.jobs_per_lookup']:.1f} and "
          f"{big['sources.barstore.jobs_per_lookup']:.1f})")
    print(f"- LiveFeed input rows per polled trade: "
          f"{small['streaming.livefeed.input_rows_per_trade']:.2f}")
    share = small["streaming.livefeed.add_batch_ms"] / max(small["streaming.livefeed.trigger_ms"], 1e-9)
    print(f"- addBatch {small['streaming.livefeed.add_batch_ms']:.0f} ms of a "
          f"{small['streaming.livefeed.trigger_ms']:.0f} ms trigger (median batch): {share:.0%}")


if __name__ == "__main__":
    main()
