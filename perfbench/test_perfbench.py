#!/usr/bin/env python3
"""The benchmark's own tests: a planted fault must raise `error_rate`, and
the benchmark must refuse to run without the program's sources.

    python3 perfbench/test_perfbench.py

Run from the root of a source checkout; each fault test runs one
benchmark JVM (about a minute).
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


def bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py")] + list(args),
        cwd=cwd, capture_output=True, text=True, timeout=400)


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class FaultsRaiseErrorRate(unittest.TestCase):

    def test_dropped_alert_in_a_topic(self):
        r = result(bench("--workload", "night_batch", "--seed", "3",
                         "--seconds", "5", "--trace", "0",
                         "--inject", "drop_alert"))
        self.assertFalse(r["correct"])
        # the catch-all topic's row count and its payload checksum
        self.assertEqual(r["failed"], 2)

    def test_altered_query_result(self):
        r = result(bench("--workload", "registry", "--seed", "3",
                         "--seconds", "5", "--trace", "0",
                         "--inject", "alter_result"))
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


class RefusesWithoutSources(unittest.TestCase):

    def test_benchmark_files_alone(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = bench("--workload", "registry", "--seed", "1", "--seconds", "5",
                      "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
