"""Tests for the benchmark's arithmetic: python3 -m unittest discover perfbench"""
import statistics
import unittest

import stats


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(39), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_percentile_interpolates(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([3.0], 95), 3.0)
        self.assertEqual(stats.percentile([5.0, 1.0], 0), 1.0)
        self.assertEqual(stats.percentile([5.0, 1.0], 100), 5.0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)

    def test_median_and_quartiles(self):
        xs = [7.0, 1.0, 3.0, 5.0, 9.0, 11.0, 13.0, 2.0, 4.0, 6.0]
        self.assertEqual(stats.median(xs), 5.5)
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, 5.5)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(3, 4), (0, 1), (1, 2)]), 3)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_union_of_children(self):
        # two overlapping stages inside a 10 ms job: union 6, self 4
        self.assertEqual(stats.self_time((0, 10), [(1, 5), (3, 7)]), 4)
        # children leaking past the parent are clipped
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(stats.self_time((0, 10), []), 10)


    def test_attribute_gives_each_instant_to_the_deepest_span(self):
        spans = [(0, 10, 0, "pass"), (1, 9, 1, "exec"), (2, 6, 2, "job"), (4, 8, 2, "job"),
                 (3, 5, 3, "stage")]
        got = stats.attribute(spans, 0, 10)
        self.assertEqual(got, {"pass": 2, "exec": 2, "job": 4, "stage": 2})
        self.assertEqual(sum(got.values()), 10)
        # clipped to the window; uncovered time is not attributed
        self.assertEqual(stats.attribute([(-5, 3, 0, "a")], 0, 10), {"a": 3})


class ParentVsChange(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.3, 10.0, 9.8, 10.2, 10.1, 10.0]

    def test_clear_win(self):
        change = [x - 1.0 for x in self.parent]
        won, wins, gap, iqr = stats.change_wins(self.parent, change)
        self.assertTrue(won)
        self.assertEqual(wins, 10)
        self.assertGreater(gap, iqr)

    def test_eight_of_ten_is_not_enough(self):
        change = [x - 1.0 for x in self.parent]
        change[0] += 2.0
        change[1] += 2.0
        self.assertFalse(stats.change_wins(self.parent, change)[0])

    def test_gap_within_parent_iqr_is_not_a_win(self):
        change = [x - 0.01 for x in self.parent]
        won, wins, gap, iqr = stats.change_wins(self.parent, change)
        self.assertEqual(wins, 10)
        self.assertFalse(won)

    def test_higher_is_better(self):
        change = [x + 1.0 for x in self.parent]
        self.assertTrue(stats.change_wins(self.parent, change, better="higher")[0])
        self.assertFalse(stats.change_wins(self.parent, change, better="lower")[0])


if __name__ == "__main__":
    unittest.main()
