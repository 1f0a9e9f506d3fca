"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class InputsTest(unittest.TestCase):
    def test_same_seed_same_checksum_other_seed_differs(self):
        for workload in gen.SIZES:
            with self.subTest(workload=workload):
                a = gen.checksum(gen.generate(workload, 7))
                self.assertEqual(a, gen.checksum(gen.generate(workload, 7)))
                self.assertNotEqual(a, gen.checksum(gen.generate(workload, 8)))

    def test_fingerprint_names_version_seed_and_sizes(self):
        fp = gen.fingerprint("ingest", 3, gen.generate("ingest", 3))
        self.assertEqual(fp["generator_version"], gen.GENERATOR_VERSION)
        self.assertEqual(fp["seed"], 3)
        self.assertEqual(fp["sizes"], gen.SIZES["ingest"])


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(stats.InsufficientSamples):
            stats.percentile(list(range(99)), 0.9)
        with self.assertRaises(stats.InsufficientSamples):
            stats.percentile(list(range(19)), 0.5)
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)

    def test_highest_supported_percentile(self):
        self.assertEqual(stats.highest_percentile(list(range(1000))), (0.99, 989))
        self.assertEqual(stats.highest_percentile(list(range(100))), (0.9, 89))
        self.assertIsNone(stats.highest_percentile(list(range(50))))


class SpecTest(unittest.TestCase):
    def test_metric_names_and_counts(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        for name in names:
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(s["end_to_end"]), 16)
        self.assertLessEqual(len(s["per_layer"]), 128)

    def test_benchmark_workloads_have_generators(self):
        for w in spec()["workloads"]:
            self.assertIn(w["name"], gen.SIZES)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sim",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(re.search(r'"correct"', p.stdout))


if __name__ == "__main__":
    unittest.main()
