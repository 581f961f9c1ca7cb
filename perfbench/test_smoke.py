#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, on
sf0.001 inputs (`--smoke`) for one second. Asserts that the run exits 0,
that its outputs pass every check, and that every metric BENCHMARK.json
names is printed by name with its unit, both as a report line and in the
closing JSON line.

    python3 perfbench/test_smoke.py        # from the repository root
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stdout)
        self.assertGreaterEqual(result["attempted"], 1)
        metrics = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in metrics})
        printed = {l.split()[0]: l.split()[2] for l in lines[:-1] if len(l.split()) >= 3}
        for m in metrics:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertEqual(printed.get(m["name"]), m["unit"], m["name"])
        if not trace:
            self.assertTrue(any("failed_share" in l for l in lines), "failed_share not printed")
            self.assertTrue(any(l.startswith("op_tail_ms") and "samples" in l for l in lines))

    def test_every_workload_prints_every_metric(self):
        for workload in ("dashboard", "collector", "corpus"):
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    self.check(workload, trace)


if __name__ == "__main__":
    unittest.main()
