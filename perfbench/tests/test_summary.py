import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from summary import median, tail  # noqa: E402


class SummaryTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([7]), 7)

    def test_median_of_nothing_raises(self):
        with self.assertRaises(ValueError):
            median([])

    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100, shuffled order must not matter
        value, pct, n = tail(list(reversed(xs)))
        self.assertEqual(n, 100)
        self.assertEqual(pct, 90.0)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_at_small_counts(self):
        self.assertIsNone(tail(list(range(10))))
        value, pct, n = tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_tail_counts_ties_as_samples(self):
        value, pct, n = tail([5.0] * 20)
        self.assertEqual((value, pct, n), (5.0, 50.0, 20))


if __name__ == "__main__":
    unittest.main()
