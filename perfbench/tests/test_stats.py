"""Tests of the benchmark's pure helpers: python3 -m unittest discover -s perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import clip, length, op_time_by_round, self_time, split_wall, tail, union  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(tail(range(10)))
        self.assertIsNone(tail([]))

    def test_eleven_samples_give_the_median_rank(self):
        # p50 of 11 is rank 6, which leaves 5 beyond: too few. No ladder
        # step leaves 10 beyond 11 samples except none at all.
        self.assertIsNone(tail(range(1, 12)))

    def test_twenty_samples_give_p50(self):
        value, p, n = tail(range(1, 21))
        self.assertEqual((value, p, n), (10, 50.0, 20))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples
        value, p, n = tail(xs)
        # p95 is rank 190, leaving exactly 10 beyond; p98 would leave 4
        self.assertEqual((value, p, n), (190, 95.0, 200))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(tail(xs), tail(sorted(xs)))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(union([(5, 7), (1, 3), (2, 4), (7, 8)]), [(1, 4), (5, 8)])

    def test_union_drops_empty_intervals(self):
        self.assertEqual(union([(3, 3), (4, 2)]), [])

    def test_length_counts_overlap_once(self):
        self.assertEqual(length([(0, 10), (5, 15), (20, 21)]), 16)

    def test_clip(self):
        self.assertEqual(clip([(0, 5), (8, 12), (20, 30)], 3, 10), [(3, 5), (8, 10)])


class SplitTest(unittest.TestCase):
    def test_three_way_partition(self):
        # span [0, 100]: jobs cover 10-30 and 50-60 (30); actions cover
        # 5-40 and 45-70, of which 5-10, 30-40, 45-50, 60-70 lie outside
        # jobs (30); the remaining 40 is outside any action
        job, gap, outside = split_wall(0, 100, [(10, 30), (50, 60)], [(5, 40), (45, 70)])
        self.assertEqual((job, gap, outside), (30, 30, 40))

    def test_jobs_outside_actions_count_as_jobs(self):
        job, gap, outside = split_wall(0, 10, [(2, 4)], [])
        self.assertEqual((job, gap, outside), (2, 0, 8))

    def test_parts_sum_to_wall_when_events_overhang(self):
        job, gap, outside = split_wall(10, 20, [(5, 12), (18, 40)], [(0, 15), (30, 50)])
        self.assertAlmostEqual(job + gap + outside, 10)
        self.assertEqual((job, gap, outside), (4, 3, 3))


class SelfTimeTest(unittest.TestCase):
    def test_subtracts_child_union(self):
        self.assertEqual(self_time(0, 100, [(10, 20), (15, 30), (90, 120)]), 70)

    def test_no_children(self):
        self.assertEqual(self_time(3, 8, []), 5)


class OpTimeTest(unittest.TestCase):
    def test_sums_operations_per_round_leaving_out_gaps(self):
        ops = [{"round": 0, "t0": 1000, "t1": 1500}, {"round": 0, "t0": 3000, "t1": 3250},
               {"round": 1, "t0": 4000, "t1": 6000}]
        self.assertEqual(op_time_by_round(ops), {0: 0.75, 1: 2.0})


if __name__ == "__main__":
    unittest.main()
