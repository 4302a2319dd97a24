"""Tests of the benchmark's arithmetic: percentiles, span self time,
steady-window throughput, freshness and conservation.

    python3 -m unittest discover -s perfbench/tests

Each check is paired with a deliberately wrong output that it must reject.
"""
import os
import statistics
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "lib"))
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_matches_numpy_linear_interpolation(self):
        rng = np.random.default_rng(1)
        for n in (100, 101, 7):
            v = rng.exponential(10, n).tolist()
            for q in (0, 10, 37, 50, 62.5, 90, 99, 100):
                self.assertAlmostEqual(stats.percentile(v, q), float(np.percentile(v, q)))

    def test_known_values(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertNotEqual(stats.percentile([1, 2, 3, 4], 50), 3)  # the upper-median mistake

    def test_spread_uses_statistics_quantiles(self):
        v = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(stats.spread(v), (q3 - q1) / q2)
        # a range-based spread would be wrong
        self.assertNotAlmostEqual(stats.spread(v), (max(v) - min(v)) / q2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTime(unittest.TestCase):
    SPANS = [
        {"id": "b", "parent": None, "t0": 0, "t1": 10},
        {"id": "add", "parent": "b", "t0": 2, "t1": 9},
        {"id": "sink", "parent": "add", "t0": 3, "t1": 8},
        {"id": "j1", "parent": "sink", "t0": 3, "t1": 5},
        {"id": "j2", "parent": "sink", "t0": 4, "t1": 7},  # overlaps j1
    ]

    def test_self_time_subtracts_union_of_children(self):
        st = stats.self_times(self.SPANS)
        self.assertEqual(st["b"], 3)      # 10 - 7
        self.assertEqual(st["add"], 2)    # 7 - 5
        self.assertEqual(st["sink"], 1)   # 5 - union(3..5, 4..7) = 5 - 4
        self.assertEqual(st["j1"], 2)

    def test_overlapping_children_are_not_double_counted(self):
        st = stats.self_times(self.SPANS)
        wrong = (8 - 3) - ((5 - 3) + (7 - 4))  # summing child durations
        self.assertNotEqual(st["sink"], wrong)
        self.assertGreaterEqual(min(st.values()), 0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [{"id": "p", "parent": None, "t0": 0, "t1": 4},
                 {"id": "c", "parent": "p", "t0": 3, "t1": 9}]
        self.assertEqual(stats.self_times(spans)["p"], 3)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class SteadyWindow(unittest.TestCase):
    # (start, end, frames): back-to-back batches of 1 s, 1000 frames each,
    # except a slow warm-up batch and a final partial batch
    BATCHES = [(0, 5, 100)] + [(5 + i, 6 + i, 1000) for i in range(10)] + [(15, 15.2, 7)]

    def test_counts_whole_batches_inside_the_window(self):
        fps, n = stats.steady_fps(self.BATCHES, 5, 15)
        self.assertEqual(n, 10)
        self.assertAlmostEqual(fps, 1000.0)

    def test_excludes_warm_up_and_partial_batches(self):
        fps, n = stats.steady_fps(self.BATCHES, 4.5, 15.1)
        self.assertEqual(n, 10)
        self.assertAlmostEqual(fps, 1000.0)
        first_write_to_last_commit = sum(b[2] for b in self.BATCHES) / 15.2
        self.assertNotAlmostEqual(fps, first_write_to_last_commit)

    def test_one_stalled_batch_does_not_move_the_median(self):
        batches = [(i, i + 1, 1000) for i in range(5)] + [(5, 8, 1000)] + \
            [(8 + i, 9 + i, 1000) for i in range(4)]
        fps, n = stats.steady_fps(batches, 0, 12)
        self.assertEqual(n, 10)
        self.assertAlmostEqual(fps, 1000.0)
        self.assertNotAlmostEqual(fps, 10000 / 12)  # frames over the whole span

    def test_rate_runs_from_the_previous_commit(self):
        # a gap between batches (trigger wait, planning) counts against them
        batches = [(2 * i + 1, 2 * i + 2, 1000) for i in range(5)]
        fps, n = stats.steady_fps(batches, 0, 20)
        self.assertAlmostEqual(fps, 500.0)

    def test_straddling_batches_are_left_out(self):
        fps, n = stats.steady_fps(self.BATCHES, 5.5, 15)
        self.assertEqual(n, 9)

    def test_empty_window(self):
        self.assertEqual(stats.steady_fps(self.BATCHES, 100, 200), (0.0, 0))

    def test_open_ended_window_runs_to_the_last_batch(self):
        # a traced run's short phases count every batch after warm-up
        fps, n = stats.steady_fps(self.BATCHES, 5, float("inf"))
        self.assertEqual(n, len([b for b in self.BATCHES if b[0] >= 5]))
        self.assertAlmostEqual(fps, 1000.0)


class Freshness(unittest.TestCase):
    RATE = 100.0
    T0 = 1000.0

    def due(self, offs):
        return self.T0 + offs / self.RATE

    def test_commit_minus_due_time(self):
        # frames 0..99 commit at t0+1.5, frames 100..199 at t0+2.5
        batches = [(0, 100, self.T0 + 1.5), (100, 200, self.T0 + 2.5)]
        vals, owner = stats.freshness(batches, self.due, 0, 200)
        self.assertEqual(len(vals), 200)
        self.assertAlmostEqual(vals[0], 1500.0)
        self.assertAlmostEqual(vals[99], 510.0)
        self.assertAlmostEqual(vals[100], 1500.0)
        self.assertEqual(sorted(set(owner.tolist())), [0, 1])

    def test_window_restricts_offsets(self):
        batches = [(0, 100, self.T0 + 1.5), (100, 200, self.T0 + 2.5)]
        vals, owner = stats.freshness(batches, self.due, 150, 200)
        self.assertEqual(len(vals), 50)
        self.assertEqual(set(owner.tolist()), {1})

    def test_a_stall_counts_against_every_later_frame(self):
        # measuring from the batch's own start instead of the schedule
        # would hide the stall; from due times it shows on all frames
        batches = [(0, 100, self.T0 + 1.0), (100, 200, self.T0 + 6.0)]
        vals, _ = stats.freshness(batches, self.due, 0, 200)
        self.assertGreater(np.percentile(vals, 90), 4000)

    def test_batches_beyond_percentile(self):
        batches = [(i * 10, i * 10 + 10, self.T0 + i * 0.1 + 0.05 * (i % 3)) for i in range(100)]
        vals, owner = stats.freshness(batches, self.due, 0, 1000)
        self.assertGreaterEqual(stats.batches_beyond(vals, owner, 90), 10)
        one_batch = [(0, 1000, self.T0 + 20)]
        vals, owner = stats.freshness(one_batch, self.due, 0, 1000)
        self.assertEqual(stats.batches_beyond(vals, owner, 90), 1)


class Conservation(unittest.TestCase):
    TRUTH = {"queries": 500, "responses": 80}
    SUMS = {"queries": [500, 500, 500, 1200], "responses": [80, 80, 80, 200]}

    def test_balanced_run_passes(self):
        self.assertEqual(stats.conservation(1000, 1000, self.TRUTH, self.SUMS), [])
        self.assertEqual(stats.unaccounted(1000, 1000, self.TRUTH, self.SUMS), 0)

    def test_lost_frames_fail(self):
        f = stats.conservation(1000, 990, self.TRUTH, self.SUMS)
        self.assertEqual(len(f), 1)
        self.assertEqual(stats.unaccounted(1000, 990, self.TRUTH, self.SUMS), 10)

    def test_a_wrong_grouping_set_fails(self):
        sums = {"queries": [500, 499, 500, 1200], "responses": [80, 80, 81, 200]}
        f = stats.conservation(1000, 1000, self.TRUTH, sums)
        self.assertEqual(len(f), 2)
        self.assertTrue(any("by_address" in x for x in f))
        self.assertTrue(any("by_question" in x for x in f))
        self.assertEqual(stats.unaccounted(1000, 1000, self.TRUTH, sums), 1)

    def test_counting_noerror_responses_fails(self):
        # a sink that kept NOERROR responses would over-count the response leg
        sums = {"queries": [500, 500, 500, 1200], "responses": [400, 400, 400, 900]}
        self.assertEqual(len(stats.conservation(1000, 1000, self.TRUTH, sums)), 3)
        self.assertEqual(stats.unaccounted(1000, 1000, self.TRUTH, sums), 320)

    def test_unaccounted_is_capped_at_frames_sent(self):
        sums = {"queries": [0, 0, 0, 0], "responses": [0, 0, 0, 0]}
        self.assertEqual(stats.unaccounted(100, 0, self.TRUTH, sums), 100)


if __name__ == "__main__":
    unittest.main()
