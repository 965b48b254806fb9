#!/usr/bin/env python3
"""Self-tests of the benchmark's own decision logic. No Spark needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402
from perfbench.common import Tracer  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.percentile(v, 0.9), 90)
        self.assertEqual(stats.percentile(v, 1.0), 100)
        self.assertEqual(stats.percentile([7.0], 0.99), 7.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        # p90 of 100 samples leaves exactly 10 beyond it
        self.assertEqual(stats.tail_percentile(100), 0.9)
        self.assertEqual(stats.tail_percentile(99), 0.75)
        self.assertEqual(stats.tail_percentile(200), 0.95)
        self.assertEqual(stats.tail_percentile(1000), 0.99)
        self.assertIsNone(stats.tail_percentile(39))
        for n in range(1, 2000, 7):
            q = stats.tail_percentile(n)
            if q is not None:
                self.assertGreaterEqual(n - math.ceil(q * n), stats.TAIL_SAMPLES)

    def test_quartiles_match_statistics_module(self):
        import statistics

        v = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        q1, q2, q3 = stats.quartiles(v)
        self.assertEqual((q1, q2, q3), tuple(statistics.quantiles(v, n=4)))
        self.assertAlmostEqual(stats.spread(v), (q3 - q1) / q2)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)

    def test_rejects_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)
        with self.assertRaises(ValueError):
            stats.median([])


class PairRule(unittest.TestCase):
    def test_clear_gain(self):
        pairs = [(10.0 + i * 0.01, 8.0 + i * 0.01) for i in range(10)]
        v = stats.paired_verdict(pairs, "lower", 0.1)
        self.assertTrue(v.gain)
        self.assertEqual(v.wins, 10)
        self.assertEqual(v.label, "gain")

    def test_fewer_than_ten_pairs_is_no_gain(self):
        pairs = [(10.0 + i * 0.01, 8.0 + i * 0.01) for i in range(9)]
        self.assertFalse(stats.paired_verdict(pairs, "lower", 0.1).gain)

    def test_eight_of_ten_is_no_gain(self):
        pairs = [(10.0, 8.0)] * 8 + [(10.0, 12.0)] * 2
        self.assertFalse(stats.paired_verdict(pairs, "lower", 0.5).gain)

    def test_wins_but_inside_parent_iqr_is_no_gain(self):
        parent = [10.0, 14.0, 6.0, 12.0, 8.0, 11.0, 9.0, 13.0, 7.0, 10.5]
        pairs = [(p, p - 0.1) for p in parent]
        v = stats.paired_verdict(pairs, "lower", 1.0)
        self.assertEqual(v.wins, 10)
        self.assertFalse(v.gain)

    def test_higher_is_better(self):
        pairs = [(100.0 + i, 130.0 + i) for i in range(10)]
        self.assertTrue(stats.paired_verdict(pairs, "higher", 0.1).gain)
        self.assertTrue(stats.paired_verdict([(c, p) for p, c in pairs], "higher", 0.1).regression)

    def test_ties_count_for_neither(self):
        pairs = [(10.0, 10.0)] * 2 + [(10.0, 5.0)] * 8
        v = stats.paired_verdict(pairs, "lower", 0.1)
        self.assertEqual((v.wins, v.ties), (8, 2))
        self.assertFalse(v.gain)

    def test_regression_beyond_bound(self):
        pairs = [(10.0 + 0.01 * i, 12.0 + 0.01 * i) for i in range(10)]
        v = stats.paired_verdict(pairs, "lower", 0.1)
        self.assertTrue(v.regression)
        self.assertEqual(v.label, "regression")

    def test_unresolved_when_parent_spreads_past_bound(self):
        parent = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        pairs = [(p, p + 0.5 if i % 2 else p - 0.5) for i, p in enumerate(parent)]
        v = stats.paired_verdict(pairs, "lower", 0.05)
        self.assertFalse(v.regression)
        self.assertTrue(v.unresolved)
        self.assertEqual(v.label, "unresolved")


class StageReuse(unittest.TestCase):
    def test_fresh_sample_passes(self):
        ref = stats.StageCounts(6, 1000)
        self.assertEqual(stats.reused_stages(ref, stats.StageCounts(6, 1000)), 0)
        # AQE may add stages; more work is never reuse
        self.assertEqual(stats.reused_stages(ref, stats.StageCounts(7, 1200)), 0)

    def test_skipped_upstream_stages_are_reuse(self):
        # the re-collect failure: one stage per sample, upstream skipped
        ref = stats.StageCounts(6, 1000)
        self.assertEqual(stats.reused_stages(ref, stats.StageCounts(1, 0)), 5)

    def test_less_shuffle_is_reuse(self):
        ref = stats.StageCounts(3, 1000)
        self.assertEqual(stats.reused_stages(ref, stats.StageCounts(3, 10)), 1)


class OpenLoop(unittest.TestCase):
    def test_due_times_are_evenly_spaced(self):
        d = stats.due_times(4.0, 2.0, start=10.0)
        self.assertEqual(len(d), 8)
        self.assertAlmostEqual(d[0], 10.0)
        self.assertAlmostEqual(d[1] - d[0], 0.25)
        self.assertLess(d[-1], 12.0)

    def test_latency_counts_from_due_time(self):
        o = stats.Outcome("x", due=1.0, sent=1.5, done=1.7, ok=True)
        self.assertAlmostEqual(o.latency, 0.7)
        self.assertAlmostEqual(o.lag, 0.5)
        self.assertAlmostEqual(o.service, 0.2)
        early = stats.Outcome("x", due=1.0, sent=0.99, done=1.1, ok=True)
        self.assertEqual(early.lag, 0.0)

    def test_failure_misses_any_limit(self):
        r = stats.Rung(1.0, [stats.Outcome("x", i, i, i + 0.01, i != 3) for i in range(20)], 0, 20)
        self.assertTrue(math.isinf(max(r.latencies())))
        self.assertFalse(r.meets(1.0, 10.0))

    def _rung(self, rate: float, service: float, seconds: float = 10.0) -> stats.Rung:
        """Simulate one server that takes ``service`` s per request."""
        free = 0.0
        outs = []
        for due in stats.due_times(rate, seconds):
            sent = max(due, free)
            free = sent + service
            outs.append(stats.Outcome("x", due, sent, free, True))
        return stats.Rung(rate, outs, 0.0, seconds)

    def test_backlog_detection(self):
        self.assertFalse(stats.backlog_grows(self._rung(2.0, 0.3).outcomes, 0.0, 10.0))
        self.assertTrue(stats.backlog_grows(self._rung(8.0, 0.3).outcomes, 0.0, 10.0))
        self.assertEqual(stats.backlog_at(self._rung(2.0, 0.3).outcomes, 10.0), 0)

    def test_max_rate_interpolates_and_respects_backlog(self):
        rungs = [self._rung(r, 0.3) for r in (1.0, 2.0, 3.0, 4.0)]
        # 3/s at 0.3 s per request keeps up; 4/s does not (0.25 s apart)
        rate = stats.max_rate(rungs, 0.9, 1.0)
        self.assertGreaterEqual(rate, 3.0)
        self.assertLess(rate, 4.0)
        self.assertEqual(stats.max_rate([self._rung(8.0, 0.3)], 0.9, 1.0), 0.0)
        self.assertEqual(stats.max_rate(rungs[:2], 0.9, 1.0), 2.0)

    def test_goodput_counts_only_requests_within_the_limit(self):
        under = self._rung(2.0, 0.3)
        self.assertAlmostEqual(stats.goodput(under, 1.0), 2.0)
        over = self._rung(8.0, 0.3)  # serves ~3.3/s, the queue grows
        self.assertLess(stats.goodput(over, 1.0), 8.0 / 2)
        self.assertGreater(stats.goodput(over, 1.0), 0.0)

    def test_drain_rate_is_the_service_rate_above_capacity(self):
        # one connection at 0.25 s per request serves 4/s
        self.assertAlmostEqual(stats.drain_rate(self._rung(8.0, 0.25)), 4.0, delta=0.05)
        # below capacity it is the offered rate
        self.assertAlmostEqual(stats.drain_rate(self._rung(2.0, 0.25)), 2.0, delta=0.1)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        t = Tracer(True)
        with t.span("outer", rid="a"):
            with t.span("inner"):
                pass
        outer, inner = t.spans
        self.assertEqual(inner["parent"], outer["idx"])
        self.assertEqual(inner["rid"], "a")
        selfs = t.self_times()
        self.assertAlmostEqual(
            selfs["outer"][0],
            (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]),
        )

    def test_disabled_records_nothing(self):
        t = Tracer(False)
        with t.span("x"):
            pass
        self.assertEqual(t.spans, [])


if __name__ == "__main__":
    unittest.main()
