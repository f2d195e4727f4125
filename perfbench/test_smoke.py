#!/usr/bin/env python3
"""Self-test of the benchmark: runs the fast smoke mode of the same command.

    python3 perfbench/test_smoke.py

Run from the root of a checkout. Every workload is run once untraced and
one workload traced, on the smallest inputs; each run must pass all of its
output checks and print every metric that BENCHMARK.json names, with its
unit. A copy of the benchmark without the engine sources must fail fast.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "11", "--seconds", "3",
                             "--trace", str(trace), "--smoke", "1"]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    return p


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace, wanted):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines)
        self.assertEqual(result["failed"], 0, lines)
        self.assertGreaterEqual(result["attempted"], 1)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in wanted})
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def test_end_to_end_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0, SPEC["end_to_end"])

    def test_traced_run_reports_every_layer(self):
        self.check(SPEC["workloads"][0]["name"], 1, SPEC["per_layer"])

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("target"))
        try:
            p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(unittest.main())
