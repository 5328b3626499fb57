#!/usr/bin/env python3
"""Smoke test: every workload, untraced and traced, at sf0.001.

    python3 -m unittest perfbench/test_smoke.py

Each run must exit 0, pass its correctness checks, print the metrics
BENCHMARK.json lists for its mode, and print the same input hash when
repeated with the same seed. The runner itself must refuse to run, without
a result line, when the engine sources are missing.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sparql_read", "store_lifecycle", "llm_dedup")


def run(workload, trace, seed=3, cwd=ROOT, runner=None):
    return subprocess.run(
        [sys.executable, runner or os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class Smoke(unittest.TestCase):
    maxDiff = None

    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed",
                                       "metrics"])
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        want = {m["name"] for m in bench["per_layer" if trace else
                                         "end_to_end"]}
        self.assertEqual(set(out["metrics"]), want)
        return re.search(r"input_sha256 (\w+)", r.stdout).group(1)

    def test_workloads(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                first = self.check(w, 0)
                self.assertEqual(first, self.check(w, 1),
                                 "same seed, different inputs")

    def test_refuses_without_sources(self):
        # a directory holding only BENCHMARK.json and perfbench/
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project"))
            r = run("llm_dedup", 0, cwd=d,
                    runner=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
