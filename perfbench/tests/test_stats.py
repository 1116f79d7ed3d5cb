"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = [5, 1, 4, 2, 3, 10, 9, 8, 7, 6]
        self.assertEqual(stats.percentile(v, 50), 5)
        self.assertEqual(stats.percentile(v, 90), 9)
        self.assertEqual(stats.percentile(v, 100), 10)
        self.assertEqual(stats.percentile(v, 1), 1)

    def test_single_and_empty(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)
        self.assertIsNone(stats.percentile([], 50))

    def test_failed_rank_beyond_every_value(self):
        # 8 completed + 2 failed: p80 is the largest completed value, p90
        # lands on a failure
        v = list(range(1, 9))
        self.assertEqual(stats.percentile(v, 80, failed=2), 8)
        self.assertEqual(stats.percentile(v, 90, failed=2), stats.INF)
        self.assertEqual(stats.percentile([], 50, failed=3), stats.INF)

    def test_censored_rank_above_values(self):
        self.assertEqual(stats.percentile_censored([5, 1], [3, 2], 50), 5)
        self.assertEqual(stats.percentile_censored([5, 1], [3, 2], 75), 2)
        self.assertEqual(stats.percentile_censored([], [9, 4], 100), 9)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_children_subtracted(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 50, 60)]
        self.assertEqual(stats.self_times(spans), {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_counted_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 50)]
        self.assertEqual(stats.self_times(spans)[0], 60)

    def test_child_clipped_to_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 50),
                 self.span(2, 1, 10, 20)]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 40, 2: 10})

    def test_self_times_sum_to_root_wall(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 5, 45),
                 self.span(2, 1, 10, 20), self.span(3, 0, 50, 95)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)


class AttributionTest(unittest.TestCase):
    def test_group_names(self):
        self.assertEqual(stats.span_of_group("s12.plan"), (12, "plan"))
        self.assertEqual(stats.span_of_group("s3.exec"), (3, "exec"))
        for g in ("", "trace", "s.plan", "sx.exec", "s1.other", None):
            self.assertEqual(stats.span_of_group(g), (None, None))

    def test_jobs_land_on_their_span_layer(self):
        spans = [
            {"id": 0, "name": "ops.similarity", "parent": -1, "start": 0,
             "plan_end": 2_000_000, "end": 10_000_000, "rows": 100},
            {"id": 1, "name": "query", "parent": -1, "start": 10_000_000,
             "plan_end": 11_000_000, "end": 12_000_000, "rows": 10}]
        groups = {
            "s0.plan": {"jobs": 1, "tasks": 1, "cpu_ns": 1e9},
            "s0.exec": {"jobs": 2, "tasks": 8, "shuffle_bytes": 2**20},
            "s1.exec": {"jobs": 1, "tasks": 4, "spill_bytes": 2 * 2**20},
            "": {"jobs": 5, "tasks": 5}}
        L = stats.attribute(spans, groups)
        sim, q = L["ops.similarity"], L["query"]
        self.assertEqual((sim["calls"], sim["jobs"], sim["plan_jobs"], sim["tasks"]),
                         (1, 3, 1, 9))
        self.assertEqual((sim["plan_ms"], sim["exec_ms"], sim["rows_out"]), (2.0, 8.0, 100))
        self.assertEqual((sim["cpu_s"], sim["shuffle_mb"]), (1.0, 1.0))
        self.assertEqual((q["jobs"], q["plan_jobs"], q["spill_mb"]), (1, 0, 2.0))
        self.assertEqual(L["unattributed"]["jobs"], 5)


class LatenessTest(unittest.TestCase):
    def test_late_sends(self):
        self.assertEqual(stats.lateness([(0, 0), (10, 12.5), (20, 19)]), [0, 2.5, 0.0])

    def test_freshness_from_due_time(self):
        # batch A covers offsets 0..1 and ends at 150 ms; batch B covers 2
        events = [(100, 0), (120, 1), (300, 2), (400, 3)]
        batches = [(-1, 1, 150), (1, 2, 390)]
        values, failed = stats.freshness(events, batches)
        self.assertEqual(values, [50, 30, 90])
        self.assertEqual(failed, 1)

    def test_stream_censored_age(self):
        res = {"backlog": 1, "drain_start_ms": 0, "backlog_offset": 0,
               "events": [[1, 100.0, 101.0, 1], [2, 200.0, 201.0, 2]],
               "batches": [{"start_offset": -1, "end_offset": 0, "start_ms": 10,
                            "durations": {"triggerExecution": 40}}]}
        # events at offsets 1 and 2 never land; ages at the last send (201)
        self.assertEqual(checks.stream_censored(res), [101.0, 1.0])
        self.assertEqual(checks.stream_drain(res), 1 / 0.05)


class OracleTest(unittest.TestCase):
    def test_materialized_keeps_recursive_cte(self):
        sql = ("WITH RECURSIVE\nq AS (SELECT 1),\nreach(n, m) AS (SELECT 1, 1),\n"
               "comp AS (SELECT 2)\nSELECT 1")
        m = checks.materialized(sql)
        self.assertIn("q AS MATERIALIZED (", m)
        self.assertIn("comp AS MATERIALIZED (", m)
        self.assertIn("reach(n, m) AS (", m)


if __name__ == "__main__":
    unittest.main()
