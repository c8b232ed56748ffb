#!/usr/bin/env python3
"""Smoke test of the benchmark: runs every workload briefly, untraced and
traced, and asserts that each run prints every metric BENCHMARK.json
names, with its unit, that every output check held and that no
operation failed (a fail ratio of 0).

usage: python3 perfbench/test/smoke_test.py [workload ...]
(from the root of a checkout; all workloads of run.py by default)
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run  # noqa: E402

MIX_METRICS = {"query_p50_ms": "ms", "query_p90_ms": "ms"}


def bench_metrics(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run_once(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    return proc.returncode, json.loads(proc.stdout.splitlines()[-1])


class Smoke(unittest.TestCase):
    workloads = run.WORKLOADS

    def check(self, workload, trace, want):
        rc, result = run_once(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], f"{workload}: an output check failed")
        self.assertEqual(rc, 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0, f"{workload}: fail ratio is not 0")
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def test_end_to_end(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                want = bench_metrics("end_to_end")
                if w.endswith("_mix"):
                    want.update(MIX_METRICS)
                self.check(w, 0, want)

    def test_per_layer(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                self.check(w, 1, bench_metrics("per_layer"))


if __name__ == "__main__":
    if len(sys.argv) > 1:
        Smoke.workloads = sys.argv[1:]
    unittest.main(argv=sys.argv[:1])
