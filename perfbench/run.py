#!/usr/bin/env python3
"""Benchmark entry point. Builds the program and the benchmark if their
sources changed (see build.py), then runs one workload in one JVM with
one local[N] Spark session, N = the JVM's available processors.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The last line of standard output is
one JSON object {"correct", "attempted", "failed", "metrics"}; the exit
code is 0 only when the run finished and every output check held.
Everything the run writes goes under .bench_build/perfbench.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["physics_pipeline", "curation_pipeline", "query_mix", "iterative_mix"]
TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    os.chdir(ROOT)
    build.build()
    work = os.path.join(build.OUT, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", "perfbench/data/sf0.01", "--work", work,
            "--expected", "perfbench/expected.tsv",
            "--nproc", str(len(os.sched_getaffinity(0)))])
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep its files
    # inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"run: no result within {TIMEOUT_S} s")
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        sys.exit(f"run: the JVM exited with code {proc.returncode} and no result")
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
