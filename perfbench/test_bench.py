#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_bench.py

Each test launches perfbench/run.py on tiny inputs (--smoke), so the whole
file takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args, env=None, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, *args], cwd=cwd, env=env,
                       capture_output=True, text=True, timeout=1800)
    lines = p.stdout.strip().splitlines()
    last = None
    if lines:
        try:
            last = json.loads(lines[-1])
        except ValueError:
            pass
    return p, last


class BenchmarkTest(unittest.TestCase):
    def assert_metrics(self, result, declared, workloads):
        for w in workloads:
            for m in declared:
                got = result["metrics"].get(f"{w}.{m['name']}")
                self.assertIsNotNone(got, f"{w}.{m['name']} missing")
                self.assertEqual(got["unit"], m["unit"])
                self.assertIsInstance(got["value"], (int, float))

    def test_smoke_end_to_end(self):
        p, res = run("--workload", "all", "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        self.assert_metrics(res, SPEC["end_to_end"], WORKLOADS)

    def test_smoke_traced(self):
        p, res = run("--workload", "all", "--seed", "2", "--seconds", "1", "--trace", "1", "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(res["correct"])
        self.assert_metrics(res, SPEC["per_layer"], WORKLOADS)
        self.assertIn("pipe.largest_non_kernel_layer.1c", p.stdout)
        self.assertIn("pipe.largest_non_kernel_layer.4c", p.stdout)
        spans = os.path.join(ROOT, ".perfbench", "spans-all-seed2.jsonl")
        with open(spans) as f:
            kinds = {json.loads(l)["kind"] for l in f}
        self.assertEqual(kinds, {"span", "job", "stage"})

    def test_injected_failure_keeps_other_workload(self):
        p, res = run("--workload", "all", "--seed", "3", "--seconds", "1", "--trace", "0",
                     "--smoke", "--inject-failure", "table")
        self.assertIsNotNone(res, "no parseable result line")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("== table: failed", p.stdout)
        self.assertIn("== extract: ok", p.stdout)
        self.assert_metrics(res, SPEC["end_to_end"], ["extract"])
        self.assertFalse(any(k.startswith("table.") for k in res["metrics"]))

    def test_refuses_ab_switch(self):
        env = dict(os.environ, SPARK_GRAFT_SLIM_SPANS="0")
        p, res = run("--workload", "extract", "--seed", "1", "--seconds", "1", env=env)
        self.assertEqual(p.returncode, 2)
        self.assertIsNone(res)

    def test_fails_without_program_sources(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p, res = run("--workload", "extract", "--seed", "1", "--seconds", "1", "--trace", "0",
                         cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
