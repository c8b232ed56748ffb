#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/perfbench/classes`, with the Scala compiler that ships
in Spark's jar directory. Nothing outside `.bench_build` is written.

A build is skipped when the stamp file records the same digest of every
source file, so only the first run in a checkout pays for it.

usage: python3 perfbench/build.py        (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"
OUT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    program's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for root in SOURCE_ROOTS:
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark."""
    return os.pathsep.join(
        [CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def build():
    if not os.path.isdir("src/main/scala") or not os.path.isdir(RESOURCES):
        raise SystemExit("build: run from the root of a full checkout "
                         "(src/main/scala is missing)")
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{part}-2.13.17.jar")
                for part in ("compiler", "library", "reflect")]
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"build: scalac failed with code {rc}")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    build()
