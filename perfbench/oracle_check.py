#!/usr/bin/env python3
"""Cross-checks perfbench/expected.tsv against the DuckDB oracles.

Runs every query named by a `count.*` key, and the s03 histogram query
behind `physics.histogram_digest`, through perfbench.OracleDump; compares
each result with its family's oracle using tools/check_correctness.py;
then checks that the expected counts and digest are the ones the
oracle-checked results have. Needs the `duckdb` Python module; the
benchmark itself does not run this.

usage: python3 perfbench/oracle_check.py     (from the root of a checkout)
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

DATA = "perfbench/data/sf0.01"
HIST_QUERY = "s03_stage2_histograms"


def main():
    os.chdir(run.ROOT)
    build.build()
    with open("perfbench/expected.tsv") as fh:
        expected = dict(line.rstrip("\n").split("\t") for line in fh
                        if "\t" in line)
    counts = {k[len("count."):]: v for k, v in expected.items()
              if k.startswith("count.")}
    keys = sorted(counts) + [HIST_QUERY]
    out = os.path.join(build.OUT, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    dump = subprocess.run(
        ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
        ["-Xmx3g", "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
         "-cp", build.classpath(), "perfbench.OracleDump", DATA, out,
         ",".join(keys)],
        stdout=subprocess.PIPE, text=True, check=True)
    got = {k: (n, d) for k, n, d in
           (line.split("\t") for line in dump.stdout.splitlines() if "\t" in line)}
    oracle = subprocess.run(
        [sys.executable, "tools/check_correctness.py", out, DATA, ",".join(keys)])
    bad = [f"count.{k}: expected {v}, oracle-checked result has {got[k][0]}"
           for k, v in counts.items() if got[k][0] != v]
    if got[HIST_QUERY][1] != expected["physics.histogram_digest"]:
        bad.append(f"physics.histogram_digest: expected "
                   f"{expected['physics.histogram_digest']}, oracle-checked "
                   f"result has {got[HIST_QUERY][1]}")
    for b in bad:
        print("MISMATCH", b)
    shutil.rmtree(out, ignore_errors=True)
    ok = oracle.returncode == 0 and not bad
    print("oracle check:", "ok" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
