#!/usr/bin/env python3
"""Harness smoke test: every workload at its smallest size, traced and
untraced, plus a corrupted pin that must be caught.

Run from the root of a checkout:  python3 perfbench/test_smoke.py
Takes a few minutes: each case is one short harness run in its own JVM.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

DECLARED = json.loads(Path("BENCHMARK.json").read_text())
SCRATCH = Path(".bench_build/smoke")


def run(workload, trace, *extra):
    """Run one smoke-size workload; returns its parsed result line."""
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--size", "smoke", *extra],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert done.returncode == 0, f"{workload} trace={trace} exited {done.returncode}"
    lines = done.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench diagnostics "), lines[-2]
    return json.loads(lines[-1])


class Smoke(unittest.TestCase):

    def check_shape(self, result, trace):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        declared = DECLARED["per_layer" if trace else "end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in declared},
                         {n: m["unit"] for n, m in result["metrics"].items()})
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def test_every_workload_prints_every_metric(self):
        for w in DECLARED["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    result = run(w["name"], trace)
                    self.check_shape(result, trace)
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)

    def test_corrupted_pin_is_caught(self):
        pins = json.loads(Path("perfbench/expected.json").read_text())
        name, (rows, checksum) = next(iter(pins["suite"].items()))
        pins["suite"][name] = [rows, (checksum or 0) + 1]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        corrupted = SCRATCH / "expected-corrupted.json"
        corrupted.write_text(json.dumps(pins))
        result = run("suite", 0, "--expected", str(corrupted))
        self.check_shape(result, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)


if __name__ == "__main__":
    unittest.main()
