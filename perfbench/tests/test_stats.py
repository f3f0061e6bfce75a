"""Unit tests of the benchmark's nearest-rank percentile helper.

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests -p test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from stats import nearest_rank, median  # noqa: E402


class NearestRankTest(unittest.TestCase):
    def test_single_value_is_every_percentile(self):
        for p in (1, 50, 90, 99, 100):
            self.assertEqual(nearest_rank([7.5], p), 7.5)

    def test_rank_is_ceiling_of_p_times_n(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(nearest_rank(xs, 50), 5)
        self.assertEqual(nearest_rank(xs, 90), 9)
        self.assertEqual(nearest_rank(xs, 91), 10)
        self.assertEqual(nearest_rank(xs, 10), 1)
        self.assertEqual(nearest_rank(xs, 1), 1)

    def test_input_order_does_not_matter(self):
        self.assertEqual(nearest_rank([5, 1, 4, 2, 3], 50), 3)

    def test_ties_return_the_tied_value(self):
        xs = [1, 2, 2, 2, 2, 9]
        self.assertEqual(nearest_rank(xs, 50), 2)
        self.assertEqual(nearest_rank(xs, 66), 2)
        self.assertEqual(nearest_rank(xs, 67), 2)
        self.assertEqual(nearest_rank(xs, 84), 9)

    def test_p99_with_fewer_than_100_values_is_the_maximum(self):
        for n in (1, 2, 10, 50, 99):
            xs = list(range(n))
            self.assertEqual(nearest_rank(xs, 99), n - 1)

    def test_p99_with_100_and_200_values(self):
        self.assertEqual(nearest_rank(list(range(1, 101)), 99), 99)
        self.assertEqual(nearest_rank(list(range(1, 201)), 99), 198)

    def test_median_is_the_lower_middle_for_even_n(self):
        self.assertEqual(median([4, 1, 3, 2]), 2)
        self.assertEqual(median([3, 1, 2]), 2)

    def test_rejects_empty_input_and_bad_percentiles(self):
        with self.assertRaises(ValueError):
            nearest_rank([], 50)
        for p in (0, -1, 101):
            with self.assertRaises(ValueError):
                nearest_rank([1, 2], p)


if __name__ == "__main__":
    unittest.main()
