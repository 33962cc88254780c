#!/usr/bin/env python3
"""The benchmark's own test: every workload at smoke size, untraced and
traced, must pass its checks and report exactly the metrics BENCHMARK.json
names.

    python3 perfbench/test_smoke.py        # from the repository root

Takes a few minutes (four runs of one JVM each, plus the first build).
"""

import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check(self, trace):
        s = spec()
        key = "per_layer" if trace else "end_to_end"
        names = {m["name"]: m["unit"] for m in s[key]}
        for w in (w["name"] for w in s["workloads"]):
            with self.subTest(workload=w, trace=trace):
                r = run(w, trace)
                self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(r["correct"], r)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(
                    {n: m["unit"] for n, m in r["metrics"].items()}, names)
                for n, m in r["metrics"].items():
                    self.assertIsInstance(m["value"], (int, float), n)

    def test_untraced(self):
        self.check(0)

    def test_traced(self):
        self.check(1)


if __name__ == "__main__":
    unittest.main()
