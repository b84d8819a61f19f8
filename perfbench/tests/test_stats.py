"""Self-checks of the benchmark harness: python3 -m unittest discover -s perfbench/tests"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertFalse(stats.supported(list(range(99)), 90))
        self.assertTrue(stats.supported(list(range(100)), 90))
        self.assertEqual(stats.beyond(list(range(100)), 90), 10)

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        xs = [1.0] * 95 + [2.0] * 15
        self.assertFalse(stats.supported(xs, 90))

    def test_median_is_always_reported(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_mean_moves_smoothly_between_two_clusters(self):
        # reads that overlap a stream batch (~700 ms) and reads that do
        # not (~300 ms): one read changing cluster moves the median by
        # the whole gap, the mean by a share of it
        a = [300.0] * 5 + [700.0] * 6
        b = [300.0] * 6 + [700.0] * 5
        self.assertEqual(stats.median(a) - stats.median(b), 400.0)
        self.assertAlmostEqual(stats.mean(a) - stats.mean(b), 400.0 / 11)
        self.assertTrue(math.isnan(stats.mean([])))


class FailedShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failed_share(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_share(3, 4)

    def test_wrong_output_counts_as_failure_once(self):
        ops = [{"kind": "panel", "op": i, "ok": i != 1} for i in range(4)]
        checks = [{"name": "oracle a", "ok": False, "covers": [("panel", 1), ("panel", 2)]},
                  {"name": "oracle b", "ok": True, "covers": [("panel", 3)]}]
        self.assertEqual(stats.account(ops, checks), (4, 2))

    def test_a_check_covering_a_kind_fails_all_of_it(self):
        ops = [{"kind": "file", "op": i, "ok": True} for i in range(3)] + \
              [{"kind": "read", "op": 0, "ok": True}]
        checks = [{"name": "sink equals batch", "ok": False, "covers": "file"}]
        self.assertEqual(stats.account(ops, checks), (4, 3))

    def test_a_failed_run_level_check_is_attempted_and_failed(self):
        ops = [{"kind": "serve", "op": 0, "ok": True}]
        self.assertEqual(stats.account(ops, [{"name": "x", "ok": False}]), (2, 1))


class OpenLoop(unittest.TestCase):
    def test_generator_stall_counts_against_later_files(self):
        due = [0.0, 100.0, 200.0, 300.0]
        # the generator stalled 250 ms before sending file 1; files 1-3
        # went out together at 350 and committed at 400
        done = [50.0, 400.0, 400.0, 400.0]
        self.assertEqual(stats.open_loop_latencies(due, done), [50.0, 300.0, 200.0, 100.0])

    def test_self_time_subtracts_overlapping_children_once(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 100.0},
                 {"id": 2, "parent": 1, "start_ms": 10.0, "end_ms": 40.0},
                 {"id": 3, "parent": 1, "start_ms": 30.0, "end_ms": 60.0},
                 {"id": 4, "parent": 3, "start_ms": 35.0, "end_ms": 45.0}]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 50.0)
        self.assertEqual(st[3], 20.0)


if __name__ == "__main__":
    unittest.main()
