#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/perfbench/classes.

Usage (from the repository root):  python3 perfbench/build.py

The build is skipped when a stamp over every source file is unchanged.
SPARK_HOME selects the Spark distribution (default /opt/spark).
"""
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
JARS = os.path.join(SPARK_HOME, "jars")
OUT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
RESOURCES = os.path.join("src", "main", "resources")


def sources():
    found = []
    for top in (os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")):
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {top}")
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(JARS, "*")])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.path.join(JARS, "*")] + srcs
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
