"""Unit tests for tools/pairs.py's summary math, on canned result lines.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import unittest

import pairs


def line(p50, setup, correct=True, failed=0):
    """A result line as graftbench/run.py prints it last."""
    return json.dumps({"correct": correct, "attempted": 1, "failed": failed, "metrics": {
        "setup_s": {"value": setup, "unit": "s"},
        "latency_p50_ms": {"value": p50, "unit": "ms"}}})


METRICS = [("setup_s", "lower"), ("latency_p50_ms", "lower")]


def canned(rows):
    """Pairs from (seed, base line, change line) rows, parsed as the tool parses."""
    return [(seed, {"base": pairs.parse_run("noise\n" + b), "change": pairs.parse_run(c)})
            for seed, b, c in rows]


class SummaryMath(unittest.TestCase):

    def test_quantile_interpolates_linearly(self):
        self.assertEqual(pairs.quantile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(pairs.quantile([1, 2, 3, 4, 5], 25), 2)
        self.assertAlmostEqual(pairs.quantile([10, 20], 75), 17.5)
        self.assertEqual(pairs.quantile([7], 25), 7)

    def test_medians_quartiles_change_and_wins(self):
        got = canned([(1, line(100, 2.0), line(80, 2.0)),
                      (2, line(110, 2.1), line(90, 1.9)),
                      (3, line(120, 2.2), line(125, 2.3)),
                      (4, line(130, 2.3), line(95, 2.2))])
        rows = {r["name"]: r for r in pairs.summarize(got, METRICS)}
        p50 = rows["latency_p50_ms"]
        self.assertEqual(p50["n"], 4)
        self.assertEqual(p50["base"], (115, 107.5, 122.5))
        self.assertEqual(p50["change"], (92.5, 87.5, 102.5))
        self.assertAlmostEqual(p50["rel"], 92.5 / 115 - 1)
        self.assertEqual(p50["wins"], 3)
        # a tie is not a win
        self.assertEqual(rows["setup_s"]["wins"], 2)

    def test_higher_is_better_counts_the_other_way(self):
        got = canned([(1, line(100, 1), line(120, 1)), (2, line(100, 1), line(90, 1))])
        (row,) = pairs.summarize(got, [("latency_p50_ms", "higher")])
        self.assertEqual(row["wins"], 1)

    def test_a_missing_run_drops_its_pair_and_is_a_problem(self):
        got = canned([(1, line(100, 1), line(90, 1))]) + [(2, {"base": None,
                                                               "change": pairs.parse_run(line(1, 1))})]
        self.assertEqual([r["n"] for r in pairs.summarize(got, METRICS)], [1, 1])
        self.assertEqual(pairs.problems(got), ["seed 2 base: no result"])

    def test_incorrect_or_failed_runs_are_problems(self):
        got = canned([(5, line(1, 1, correct=False), line(1, 1, failed=2))])
        self.assertEqual(pairs.problems(got), ["seed 5 base: correct=False failed=0",
                                               "seed 5 change: correct=True failed=2"])

    def test_unparseable_output_is_no_result(self):
        self.assertIsNone(pairs.parse_run(""))
        self.assertIsNone(pairs.parse_run("graftbench: build failed"))
        self.assertIsNone(pairs.parse_run('{"no": "metrics"}'))

    def test_format_shows_every_metric_with_wins(self):
        got = canned([(1, line(100, 2.0), line(80, 2.0))])
        text = pairs.format_summary(pairs.summarize(got, METRICS))
        self.assertIn("latency_p50_ms", text)
        self.assertIn("-20.0%", text)
        self.assertIn("1/1", text)


if __name__ == "__main__":
    unittest.main()
