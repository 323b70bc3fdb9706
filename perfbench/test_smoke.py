"""The benchmark's own test.

    python3 -m unittest perfbench/test_smoke.py      (from the repository root)

A small-scale run (`--scale smoke`) of every workload in BENCHMARK.json,
untraced and traced, must exit 0 with correct outputs and emit exactly the
metrics BENCHMARK.json names for that mode, each with its unit. Without the
repository's sources beside it the benchmark must fail without a result.
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
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, workload, trace, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


class SmokeTest(unittest.TestCase):
    def test_every_metric_with_its_unit(self):
        for w in BENCH["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    p = run(ROOT, w["name"], trace)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    out = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual({k: m["unit"] for k, m in out["metrics"].items()},
                                     {m["name"]: m["unit"] for m in BENCH[key]})

    def test_fails_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target", "project"))
            p = run(d, BENCH["workloads"][0]["name"], 0, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
