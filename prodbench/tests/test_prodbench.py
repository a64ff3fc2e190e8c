"""Tests of the benchmark itself.

    python3 -m unittest discover -s prodbench/tests     # from the repository root

The percentile tests are pure Python. The determinism and planted-fault
tests run the driver (they build it on first use, like run.py).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def run_tool(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    return p.returncode, p.stdout


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(run.percentile([5], 95), 5)
        self.assertAlmostEqual(run.percentile(list(range(1, 101)), 95), 95.05)
        self.assertEqual(run.percentile([3, 1, 2], 0), 1)
        self.assertEqual(run.percentile([3, 1, 2], 100), 3)

    def test_empty_input_is_an_error(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_ten_samples_beyond_each_percentile(self):
        self.assertEqual(run.min_samples(50), 20)
        self.assertEqual(run.min_samples(75), 40)
        self.assertEqual(run.min_samples(90), 100)
        self.assertEqual(run.min_samples(95), 200)

    def test_short_sample_is_reported_as_a_failure(self):
        raw = {"setup_s": [1.0, 2.0, 3.0], "inc_files": [10] * 5, "inc_points": [12] * 5,
               "inc_searchable_ms": [1000.0, 500.0, 1000.0, 2000.0, 1000.0], "search_ms": [100.0] * 15,
               "search_window_s": 10.0, "store_bytes": 300.0, "text_bytes": 100.0}
        metrics, problems = run.end_to_end(raw)
        self.assertEqual(metrics["setup_s"], 2.0)
        self.assertEqual(metrics["ingest_files_per_s"], 10.0)
        self.assertEqual(metrics["store_bytes_per_text_byte"], 3.0)
        self.assertTrue(any("search_p50_ms" in p for p in problems), problems)

    def test_metric_tables_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(run.PER_LAYER))
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(m["unit"], {**run.END_TO_END, **run.PER_LAYER}[m["name"]])


class DriverTest(unittest.TestCase):
    def test_same_seed_same_corpus_new_seed_new_corpus(self):
        for w in run.WORKLOADS:
            a = run_tool("--fingerprint", "--workload", w, "--seed", "5")
            b = run_tool("--fingerprint", "--workload", w, "--seed", "5")
            c = run_tool("--fingerprint", "--workload", w, "--seed", "6")
            self.assertEqual(a[0], 0)
            self.assertEqual(a[1].strip(), b[1].strip(), w)
            self.assertNotEqual(a[1].strip(), c[1].strip(), w)

    def test_checks_reject_planted_wrong_results(self):
        code, out = run_tool("--selftest")
        self.assertEqual(code, 0, out)
        self.assertIn("selftest ok", out)
        self.assertNotIn("FAIL", out)


if __name__ == "__main__":
    unittest.main()
