"""Unit tests of the A/B decision rules in tools/ab_perfbench.py.

    python3 -m unittest discover -s tools/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from ab_perfbench import bound_verdict, claim_verdict, quartiles  # noqa: E402


class QuartilesTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(quartiles([4, 1, 3, 2, 5]), (2, 3, 4))
        self.assertEqual(quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))
        self.assertEqual(quartiles([7]), (7, 7, 7))


class ClaimTest(unittest.TestCase):
    parent = [0.70, 0.72, 0.74, 0.76, 0.78, 0.80, 0.71, 0.73, 0.75, 0.77]

    def test_clear_gain_passes(self):
        change = [p / 2 for p in self.parent]
        v = claim_verdict(list(zip(self.parent, change)), "lower")
        self.assertEqual((v["wins"], v["n"]), (10, 10))
        self.assertTrue(v["ok"])

    def test_nine_of_ten_is_enough_eight_is_not(self):
        change = [p / 2 for p in self.parent]
        change[0] = self.parent[0] + 0.1
        self.assertTrue(claim_verdict(list(zip(self.parent, change)), "lower")["ok"])
        change[1] = self.parent[1] + 0.1
        v = claim_verdict(list(zip(self.parent, change)), "lower")
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["ok"])

    def test_ties_count_for_neither_side(self):
        change = [p / 2 for p in self.parent]
        change[0] = self.parent[0]
        change[1] = self.parent[1]
        v = claim_verdict(list(zip(self.parent, change)), "lower")
        self.assertEqual((v["wins"], v["n"]), (8, 10))
        self.assertFalse(v["ok"])

    def test_gap_must_exceed_parent_iqr(self):
        # every pair won, by less than the parent's own spread
        change = [p - 0.001 for p in self.parent]
        v = claim_verdict(list(zip(self.parent, change)), "lower")
        self.assertEqual(v["wins"], 10)
        self.assertLess(v["gap"], v["iqr"])
        self.assertFalse(v["ok"])

    def test_fewer_than_ten_pairs_never_pass(self):
        pairs = [(p, p / 2) for p in self.parent[:9]]
        self.assertFalse(claim_verdict(pairs, "lower")["ok"])

    def test_higher_is_better(self):
        change = [p * 2 for p in self.parent]
        self.assertTrue(claim_verdict(list(zip(self.parent, change)), "higher")["ok"])
        self.assertFalse(claim_verdict(list(zip(self.parent, change)), "lower")["ok"])


class BoundTest(unittest.TestCase):
    def test_relative_to_parent_median(self):
        parent = [1.0, 1.0, 1.0]
        self.assertTrue(bound_verdict(parent, [1.2, 1.2, 1.2], 0.25, "lower")["ok"])
        self.assertFalse(bound_verdict(parent, [1.3, 1.3, 1.3], 0.25, "lower")["ok"])
        self.assertTrue(bound_verdict(parent, [0.5, 0.5, 0.5], 0.25, "lower")["ok"])

    def test_higher_is_better(self):
        self.assertFalse(bound_verdict([1.0], [0.7], 0.25, "higher")["ok"])
        self.assertTrue(bound_verdict([1.0], [0.8], 0.25, "higher")["ok"])


if __name__ == "__main__":
    unittest.main()
