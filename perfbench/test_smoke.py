#!/usr/bin/env python3
"""Self-check of the benchmark: both workloads end to end on the sf0.001
TPC-H fixture, every oracle on, untraced and traced, and the result lines
hold exactly the metrics BENCHMARK.json declares.

    python3 perfbench/test_smoke.py

The fixture directory is the sf 0.001 row of the repository's
TESTDATA.md, the same tables the engine's own test suite reads.
"""
import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def fixture_dir():
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*0\.001\s*\|\s*`([^`]+)`", f.read(), re.M)
    assert m, "TESTDATA.md names no sf 0.001 directory"
    return m.group(1)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke", fixture_dir()]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:]
    return json.loads(p.stdout.splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in want})
        for m in want:
            got = r["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0)

    def test_traced(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 1)


if __name__ == "__main__":
    unittest.main()
