#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark (see build.py),
then runs one workload in a fresh JVM on local[nproc] and passes its output
through. The last line of standard output is the result JSON object.

Usage (from the repository root):
  python3 perfbench/run.py --workload web_calm --seed 1 --seconds 10 --trace 0

Everything the run writes stays under .bench_build/ in the current directory.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("web_calm", "web_skewed")
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 175.0
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    t0 = time.monotonic()
    classes = build.build()
    if classes is None:
        return 1
    # the first run in a checkout compiles and may take longer in total
    built_s = time.monotonic() - t0
    limit = RUN_LIMIT_S if built_s > 10 else RUN_LIMIT_S - built_s
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    log_cfg = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = (["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log_cfg}"] + ADD_OPENS +
           ["-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work])
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print("run: JVM exceeded its time limit; killed", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
