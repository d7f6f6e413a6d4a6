"""Self-tests of the benchmark's own arithmetic, on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_leaves_exactly_ten_samples_beyond(self):
        samples = [float(x) for x in range(1, 101)]  # 1..100, shuffled below
        samples = samples[::2] + samples[1::2]
        value, pct, n = metrics.tail(samples)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for s in samples if s > value), 10)

    def test_ties_count_beyond_only_when_larger(self):
        value, pct, _ = metrics.tail([5.0] * 30)
        self.assertEqual(value, 5.0)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)


class JobUnion(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        jobs = [(0, 10), (5, 15), (6, 7), (20, 25)]
        self.assertEqual(metrics.union_length(jobs), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 10)]), 10)

    def test_clipping_to_a_window(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 30)], lo=5, hi=25), 10)

    def test_outside_jobs_is_window_minus_union(self):
        # a 100 ms pass with jobs busy 10-40 and 30-60: 50 ms covered
        self.assertEqual(metrics.outside_jobs((0, 100), [(10, 40), (30, 60)]), 50)
        # jobs spilling past the window only count inside it
        self.assertEqual(metrics.outside_jobs((0, 100), [(-50, 10), (90, 200)]), 80)
        self.assertEqual(metrics.outside_jobs((0, 100), []), 100)


class CoreIdle(unittest.TestCase):
    def test_fully_busy_cores(self):
        # 4 cores x 100 ms of job wall, 400 ms of task time: nothing idle
        self.assertEqual(metrics.core_idle_frac(400, 4, [(0, 100)]), 0.0)

    def test_one_busy_core_of_four(self):
        self.assertEqual(metrics.core_idle_frac(100, 4, [(0, 50), (25, 100)]), 0.75)

    def test_no_jobs(self):
        self.assertEqual(metrics.core_idle_frac(0, 4, []), 0.0)


class SpanSelfTime(unittest.TestCase):
    SPANS = [
        {"id": 1, "parent": 0, "name": "pass", "start": 0, "end": 100},
        {"id": 2, "parent": 1, "name": "stage:a", "start": 10, "end": 40},
        {"id": 3, "parent": 2, "name": "extract:a", "start": 15, "end": 25},
        {"id": 4, "parent": 1, "name": "stage:b", "start": 30, "end": 60},  # overlaps 2
        {"id": 5, "parent": 1, "name": "publish:a", "start": 80, "end": 90},
    ]

    def test_self_time_subtracts_the_union_of_children(self):
        st = metrics.self_times(self.SPANS)
        self.assertEqual(st[1], 100 - 50 - 10)  # children cover 10-60 and 80-90
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[5], 10)

    def test_totals_group_by_name_prefix(self):
        totals = metrics.span_totals(self.SPANS)
        self.assertEqual(totals["stage"], (60, 50))
        self.assertEqual(totals["extract"], (10, 10))

    def test_profile_covers_leaf_spans_only(self):
        trace = {"spans": self.SPANS, "stages": [], "plans": [], "batches": [],
                 "jobs": [{"job": 0, "span": 3, "start": 16, "end": 20, "stages": 1}]}
        prof = metrics.per_op_profile(trace)
        self.assertEqual(sorted(prof), ["extract:a", "publish:a", "stage:b"])
        self.assertEqual(prof["extract:a"]["jobs"], 1)
        self.assertEqual(prof["extract:a"]["outside_jobs_ms"], 6)

    def test_innermost_span(self):
        self.assertEqual(metrics.innermost(self.SPANS, 20), 3)
        self.assertEqual(metrics.innermost(self.SPANS, 70), 1)
        self.assertEqual(metrics.innermost(self.SPANS, 150), 0)


if __name__ == "__main__":
    unittest.main()
