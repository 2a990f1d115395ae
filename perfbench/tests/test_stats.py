"""Tests for the benchmark's measurement arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import decimal
import json
import math
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 210))  # 209 samples, as in a full declared-query pass
        s = stats.summarize(xs)
        self.assertEqual(s["n"], 209)
        beyond = [x for x in xs if x > s["tail"]]
        self.assertEqual(len(beyond), 10)
        self.assertAlmostEqual(s["tail_pct"], 100 * 199 / 209)

    def test_p99_needs_a_thousand_samples(self):
        s = stats.summarize(range(1000))
        self.assertAlmostEqual(s["tail_pct"], 99.0)
        self.assertEqual(s["tail"], 989)

    def test_too_few_samples_have_no_tail(self):
        s = stats.summarize(range(10))
        self.assertTrue(math.isnan(s["tail"]))
        self.assertEqual(s["p50"], 4.5)

    def test_failures_rank_above_every_latency(self):
        xs = [1.0] * 95 + [stats.FAILED] * 11
        s = stats.summarize(xs)
        self.assertEqual(s["tail"], stats.FAILED)
        self.assertEqual(s["p50"], 1.0)

    def test_fixed_percentile_is_nearest_rank(self):
        xs = list(range(36, 0, -1))  # 12 queries x 3 timed passes
        p70 = stats.percentile(xs, 70)
        self.assertEqual(p70, 26)
        self.assertEqual(len([x for x in xs if x > p70]), 10)
        self.assertEqual(stats.percentile([5.0], 70), 5.0)
        self.assertTrue(math.isnan(stats.percentile([], 70)))
        self.assertEqual(stats.percentile([1.0] * 25 + [stats.FAILED] * 11, 70), stats.FAILED)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 0, "start": 0.0, "end": 10.0, "parent": None},
            {"id": 1, "start": 1.0, "end": 4.0, "parent": 0},
            {"id": 2, "start": 3.0, "end": 6.0, "parent": 0},   # overlaps 1
            {"id": 3, "start": 8.0, "end": 12.0, "parent": 0},  # runs past 0
            {"id": 4, "start": 2.0, "end": 3.0, "parent": 1},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0 - 2.0)
        self.assertAlmostEqual(st[1], 3.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.0)


class Freshness(unittest.TestCase):
    def test_event_visible_at_first_poll_reaching_its_ordinal(self):
        published = [(1, 2, 0.0), (3, 4, 1.0), (5, 6, 2.0)]
        polls = [(0.5, 0), (1.5, 2), (2.25, 3), (2.5, 1), (3.0, 6)]
        f = stats.freshness(published, polls)
        self.assertEqual(f, [1.5, 1.5, 1.25, 2.0, 1.0, 1.0])

    def test_never_seen_event_is_a_failure(self):
        f = stats.freshness([(1, 1, 0.0), (2, 2, 1.0)], [(0.5, 1)])
        self.assertEqual(f, [0.5, stats.FAILED])


class Digest(unittest.TestCase):
    def test_cell_encoding(self):
        self.assertEqual(stats.cell(None), "N")
        self.assertEqual(stats.cell(True), "b1")
        self.assertEqual(stats.cell(42), "i42")
        self.assertEqual(stats.cell(1.0), "d3ff0000000000000")
        self.assertEqual(stats.cell(-0.0), stats.cell(0.0))
        self.assertEqual(stats.cell(decimal.Decimal("0.5")), stats.cell(0.5))
        self.assertEqual(stats.cell("héllo"), "s5:héllo")
        self.assertEqual(stats.cell(dt.date(1970, 1, 2)), "t86400000000")
        self.assertEqual(stats.cell(dt.datetime(1970, 1, 2)), stats.cell(dt.date(1970, 1, 2)))
        self.assertEqual(stats.cell([1, 2.5]), "[i1,d4004000000000000]")

    def test_digest_sorts_columns_and_keeps_row_order(self):
        a = stats.digest(["b", "a"], [(1, "x"), (2, "y")])
        self.assertEqual(a, stats.digest(["a", "b"], [("x", 1), ("y", 2)]))
        self.assertNotEqual(a, stats.digest(["b", "a"], [(2, "y"), (1, "x")]))
        self.assertNotEqual(a, stats.digest(["b", "a"], [(1.0, "x"), (2, "y")]))


class Declaration(unittest.TestCase):
    def test_benchmark_json_declares_what_the_runs_report(self):
        decl = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in decl["end_to_end"]], workloads.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in decl["per_layer"]], workloads.LAYERS)
        self.assertLessEqual({w["name"] for w in decl["workloads"]}, set(workloads.RUNNERS))


if __name__ == "__main__":
    unittest.main()
