#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <relational_queries|bar_pipeline>
      --seed <n> --seconds <s> --trace <0|1> [--symbols <n>]

Builds the program first if its sources changed (perfbench/build.py), then
runs the workload in a fresh JVM (perfbench.Main) on local[nproc]. Every
file the run writes lives under .bench_build/perfbench; the per-run work
directory is removed at exit, the op list and spans stay in
.bench_build/perfbench/results.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("relational_queries", "bar_pipeline")
JVM_TIMEOUT_S = 170
# The program's own heap limit and code cache (build.sbt). The heap is fixed
# at that limit (-Xms = -Xmx) and the young generation at 512 MB, because G1
# otherwise resizes both from measured pause and GC times and peak RSS would
# follow the host's timing noise; with a fixed heap only the pages the
# program touches are resident, so peak RSS still grows with what it
# allocates and keeps. Two malloc arenas keep native memory from following
# thread scheduling. No perf-data file is written to /tmp.
JVM_OPTS = ["-Xmx8g", "-Xms8g", "-Xmn512m", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"]
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--symbols", type=int, help="bar_pipeline universe size override")
    a = ap.parse_args()

    for need in ("perfbench/goldens.json", "perfbench/data/sf0.01"):
        if not os.path.exists(need):
            sys.exit(f"run: {need} is missing; run from the repository root")
    build.build()

    t0_ms = int(time.time() * 1000)
    work = os.path.abspath(os.path.join(
        build.OUT, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    out = os.path.abspath(os.path.join(build.OUT, "results"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", out, "--t0-ms", str(t0_ms)] +
        (["--symbols", str(a.symbols)] if a.symbols else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True,
                            env={**os.environ, **JVM_ENV})
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: {a.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"run: JVM exited with {proc.returncode}")
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {}
    expected = expected_metrics(a.trace)
    if set(result) != {"correct", "attempted", "failed", "metrics"} or \
            set(result["metrics"]) != expected:
        missing = sorted(expected - set(result.get("metrics", {})))
        extra = sorted(set(result.get("metrics", {})) - expected)
        sys.exit(f"run: result does not match BENCHMARK.json (missing {missing}, extra {extra})")
    print(json.dumps(result))


def java_cmd(work, args):
    """The JVM command line of perfbench.Main, scratch files under `work`."""
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
            JVM_OPTS + ["-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", build.classpath(), "perfbench.Main",
             "--root", os.getcwd(), "--work", work] + args)


def expected_metrics(trace):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}


if __name__ == "__main__":
    main()
