#!/usr/bin/env python3
"""Self-tests of the benchmark harness's arithmetic and metric map.

    python3 perfbench/test_stats.py
"""
import json
import os
import re
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(11, 0), 10)

    def test_supported_percentile_needs_ten_beyond(self):
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(20), 52)
        self.assertIsNone(stats.supported_percentile(10))
        for n in (11, 20, 37, 100, 1000):
            p = stats.supported_percentile(n)
            self.assertGreaterEqual(stats.beyond(n, p), 10)
            if p < 99:
                self.assertLess(stats.beyond(n, p + 1), 10)


class Spread(unittest.TestCase):
    def test_quartile_spread_over_median(self):
        xs = [float(i) for i in range(1, 11)]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)
        self.assertAlmostEqual(stats.spread(xs), 1.0)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class Bounds(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertAlmostEqual(stats.worse_by(1.0, 1.2, "lower"), 0.2)
        self.assertAlmostEqual(stats.worse_by(1.0, 0.8, "lower"), -0.2)
        self.assertTrue(stats.within_bound(1.0, 1.1, "lower", 0.1 + 1e-12))
        self.assertFalse(stats.within_bound(1.0, 1.2, "lower", 0.1))

    def test_higher_is_better(self):
        self.assertAlmostEqual(stats.worse_by(1.0, 0.8, "higher"), 0.2)
        self.assertTrue(stats.within_bound(1.0, 1.5, "higher", 0.0))
        self.assertFalse(stats.within_bound(1.0, 0.8, "higher", 0.1))


class BenchmarkFile(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        with open(os.path.join(HERE, "METRICS.md")) as f:
            cls.doc = f.read()

    def test_keys(self):
        self.assertEqual(set(self.spec), {
            "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})

    def test_names_are_well_formed_and_unique(self):
        names = [w["name"] for w in self.spec["workloads"]] + [
            m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(stats.NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_metric_fields(self):
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertGreater(m["bound"], 0)
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m["unit"])

    def test_setup_metric_has_the_largest_bound(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_every_metric_and_workload_is_documented(self):
        for n in [w["name"] for w in self.spec["workloads"]] + [
                m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]:
            self.assertIn(f"`{n}`", self.doc)


if __name__ == "__main__":
    unittest.main()
