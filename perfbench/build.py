#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own sources (perfbench/src) into
.bench_build/classes with the Scala compiler that ships among the Spark jars.

The build is skipped when a stamp of every source file's path and contents
matches the last successful build.

Usage (from the repository root): python3 perfbench/build.py
Exit code 0 on success; 1 when sources or toolchain are missing or the
compile fails.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
SCALA_VERSION = "2.13.17"


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        out += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classes directory, building it when stale; None on failure."""
    engine = glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
    if not engine:
        print(f"build: no engine sources under {ENGINE_SRC}", file=sys.stderr)
        return None
    files = sources()
    stamp = stamp_of(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == stamp:
        return CLASSES
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        print(f"build: Scala compiler jars not found: {missing}", file=sys.stderr)
        return None
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-cp", os.path.join(SPARK_JARS, "*"), "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        print("build: compile failed", file=sys.stderr)
        return None
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return CLASSES


if __name__ == "__main__":
    sys.exit(0 if build() else 1)
