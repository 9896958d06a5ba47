"""Unit tests of the benchmark's own arithmetic and its metric names.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_tail_value_and_label(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), ("p90", metrics.quantile(xs, 90)))
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), ("max", 3.0))

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.quantile([5], 99), 5)
        self.assertEqual(metrics.quantile([4, 1, 3, 2], 100), 4)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_self_plus_child_is_wall(self):
        spans = metrics.self_times([
            {"id": "op", "parent": None, "name": "q", "start": 0.0, "end": 100.0},
            {"id": "c", "parent": "op", "name": "construct", "start": 0.0, "end": 30.0},
            {"id": "j1", "parent": "op", "name": "job", "start": 20.0, "end": 60.0},
            {"id": "j2", "parent": "op", "name": "job", "start": 90.0, "end": 120.0},
            {"id": "s1", "parent": "j1", "name": "stage", "start": 25.0, "end": 35.0},
        ])
        by = {s["id"]: s for s in spans}
        self.assertEqual(by["op"]["child_ms"], 70.0)
        self.assertEqual(by["op"]["self_ms"], 30.0)
        self.assertEqual(by["j1"]["self_ms"], 30.0)
        self.assertEqual(by["s1"]["self_ms"], 10.0)
        for s in spans:
            self.assertAlmostEqual(s["child_ms"] + s["self_ms"], s["end"] - s["start"])


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_names_are_well_formed(self):
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9_.-]+$")

    def test_every_workload_prints_the_assigned_names(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], list(run.PER_LAYER))
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        for m in self.spec["end_to_end"]:
            self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
        for m in self.spec["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]))

    def test_layer_metrics_cover_every_name_for_every_workload(self):
        empty = {"ops": [], "jobs": [], "stages": [], "qes": [],
                 "window": {"start": 0, "end": 1}}
        for w in run.WORKLOADS:
            self.assertEqual(sorted(metrics.layers(empty, w)), sorted(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
