"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import spread, tail  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        value, pct, n = tail(list(range(1, 101)))
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_higher_percentile_with_more_samples(self):
        value, pct, _ = tail(list(range(1000)))
        self.assertEqual((value, pct), (989, 99.0))

    def test_order_of_samples_does_not_matter(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(tail(xs), tail(sorted(xs)))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(tail(list(range(19))))
        self.assertEqual(tail(list(range(20)))[1], 50.0)

    def test_spread(self):
        m, q1, q3, s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((m, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(s, 1.0)


class MtimeScheduleTest(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        self.assertEqual(gen.mtime_schedule(7, 200), gen.mtime_schedule(7, 200))

    def test_other_seed_other_schedule(self):
        self.assertNotEqual(gen.mtime_schedule(7, 50), gen.mtime_schedule(8, 50))

    def test_prefix_stable_and_increasing(self):
        long, short = gen.mtime_schedule(3, 100), gen.mtime_schedule(3, 40)
        self.assertEqual(long[:40], short)
        self.assertTrue(all(b > a for a, b in zip(long, long[1:])))

    def test_every_version_lands_in_a_later_second(self):
        s = gen.mtime_schedule(11, 2000)
        self.assertTrue(all(b // 1000 > a // 1000 for a, b in zip(s, s[1:])))


if __name__ == "__main__":
    unittest.main()
