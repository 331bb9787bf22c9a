"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.0, 1.0, 7.0, 3.0, 5.0, 11.0, 2.0, 8.0, 4.0, 6.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
        # exclusive method on 1..10: positions 2.75 and 8.25
        self.assertEqual(stats.quartiles([float(i) for i in range(1, 11)]), (2.75, 8.25))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0))

    def test_spread_is_iqr_over_median(self):
        xs = [float(i) for i in range(1, 11)]
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (90.0, 90.0, 10))

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(40, 0, -1)]  # 40..1
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (30.0, 75.0, 10))
        self.assertEqual(sum(1 for x in xs if x > value), beyond)

    def test_eleven_samples_give_the_minimum(self):
        xs = [float(i) for i in range(11)]
        self.assertEqual(stats.tail(xs), (0.0, 100.0 / 11, 10))

    def test_too_few_samples_report_max_unresolved(self):
        self.assertEqual(stats.tail([3.0, 9.0, 5.0]), (9.0, 100.0, 0))
        self.assertEqual(stats.tail([float(i) for i in range(10)]), (9.0, 100.0, 0))

    def test_custom_beyond(self):
        self.assertEqual(stats.tail([1.0, 2.0, 3.0, 4.0], beyond=1), (3.0, 75.0, 1))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 0, 10)]), {0: 10})

    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 90)]
        self.assertEqual(stats.self_times(spans), {0: 40, 1: 20, 2: 40})

    def test_overlapping_children_count_once(self):
        # two concurrent children (futures inside one library call)
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_children_are_clipped_to_parent(self):
        spans = [span(0, -1, 10, 20), span(1, 0, 5, 15)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_grandchildren_belong_to_their_parent_only(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 10, 40)]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 20, 2: 30})

    def test_coverage(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 0, 50, 95),
                 span(3, 1, 0, 50)]
        self.assertAlmostEqual(stats.coverage(spans[0], spans), 0.95)
        self.assertEqual(stats.coverage(span(4, -1, 5, 5), []), 1.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
