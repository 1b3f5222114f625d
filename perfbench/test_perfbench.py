#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py

- the harness self tests (seeded generators, every SQL twin against dftly,
  the checksum check catching a wrong twin);
- the metric names and units a run prints equal those in BENCHMARK.json,
  untraced and traced;
- without the repository's sources the command fails without a result.

Takes about three minutes (each case starts a JVM).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def run(*args, cwd=ROOT, script=RUN):
    return subprocess.run([sys.executable, script, *args], cwd=cwd, capture_output=True, text=True,
                          timeout=900)


class PerfbenchTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_selftest(self):
        res = run("--selftest")
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-3000:])
        self.assertIn("selftest: all passed", res.stdout)

    def check_names(self, trace, section):
        res = run("--workload", "opmap_wide", "--seed", "3", "--seconds", "1", "--trace", str(trace))
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-3000:])
        result = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        printed = [(k, v["unit"]) for k, v in result["metrics"].items()]
        declared = [(m["name"], m["unit"]) for m in self.spec[section]]
        self.assertEqual(printed, declared)

    def test_end_to_end_names(self):
        self.check_names(0, "end_to_end")

    def test_per_layer_names(self):
        self.check_names(1, "per_layer")

    def test_fails_without_sources(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = run("--workload", "etl_scan", "--seed", "1", "--seconds", "1", "--trace", "0",
                      cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(res.returncode, 0)
            self.assertFalse(any(line.startswith("{") for line in res.stdout.splitlines()))
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
