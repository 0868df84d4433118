#!/usr/bin/env python3
"""Derives perfbench/goldens.json: the row count and content hash of every
query the two query workloads run, accepted only where tools/check.py finds
the query's output equal to its DuckDB oracle (SparkEntry.oracleSql).
Queries without an oracle get a rows-only golden.

Usage (from the repository root, once, or after a query's output changes on
purpose):  python3 perfbench/derive_goldens.py
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

SF = "perfbench/data/sf0.01"


def main():
    build.build()
    out = os.path.abspath(os.path.join(build.OUT, "goldens"))
    work = os.path.abspath(os.path.join(build.OUT, "work", "goldens"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        subprocess.run(run.java_cmd(work, ["--golden-out", out]), check=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    prints = json.load(open(os.path.join(out, "fingerprints.json")))
    oracled = json.load(open(os.path.join(out, "oracle_sql.json")))
    if oracled and subprocess.run([sys.executable, "tools/check.py", SF, out,
                                   "--only", ",".join(oracled)]).returncode != 0:
        sys.exit("queries disagree with their oracle; goldens not written")
    goldens = {}
    for name, fp in prints.items():
        goldens[name] = {"rows": fp["rows"], "hash": fp["hash"] if name in oracled else None,
                         "cols": fp["cols"]}
        if name not in oracled:
            print(f"ROWS-ONLY {name} ({fp['rows']} rows)")
    with open("perfbench/goldens.json", "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(goldens)} goldens")


if __name__ == "__main__":
    main()
