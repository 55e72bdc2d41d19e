"""Summary maths of tools/ab_pairs.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(__file__))
from ab_pairs import quartiles, summarize  # noqa: E402


class SummarizeTest(unittest.TestCase):
    def test_quartiles(self):
        self.assertEqual(quartiles([4.0]), (4.0, 4.0, 4.0))
        q1, med, q3 = quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(q1, 2.75)
        self.assertAlmostEqual(q3, 8.25)

    def test_clear_gain(self):
        pairs = [(4.0 + i / 10, 3.4 + i / 10) for i in range(10)]
        r = summarize(pairs, "lower")
        self.assertEqual((r["wins"], r["ties"], r["n"]), (10, 0, 10))
        self.assertTrue(r["gain"])
        self.assertAlmostEqual(r["worse_by"], (3.85 - 4.45) / 4.45)

    def test_nine_of_ten_needed_and_ties_count_for_neither(self):
        pairs = [(4.0, 3.0)] * 8 + [(4.0, 4.0), (4.0, 5.0)]
        r = summarize(pairs, "lower")
        self.assertEqual((r["wins"], r["ties"]), (8, 1))
        self.assertFalse(r["gain"])

    def test_median_gap_must_exceed_parent_spread(self):
        # every pair won, but by less than the parent's own quartile spread
        pairs = [(float(p), p - 0.1) for p in range(1, 11)]
        r = summarize(pairs, "lower")
        self.assertEqual(r["wins"], 10)
        self.assertFalse(r["gain"])

    def test_higher_is_better(self):
        pairs = [(1.0, 2.0)] * 10
        r = summarize(pairs, "higher")
        self.assertEqual(r["wins"], 10)
        self.assertTrue(r["gain"])
        self.assertAlmostEqual(r["worse_by"], -1.0)
        self.assertFalse(summarize(pairs, "lower")["gain"])

    def test_an_errored_or_wrong_change_run_loses_its_pair(self):
        # seven clear wins, three pairs whose change run errored: 7/10
        pairs = [(4.0, 3.0)] * 7 + [(4.0, None)] * 3
        r = summarize(pairs, "lower")
        self.assertEqual((r["wins"], r["n"]), (7, 10))
        self.assertEqual(r["change"], (3.0, 3.0, 3.0))
        self.assertFalse(r["gain"])

    def test_an_errored_parent_run_is_won_by_the_change(self):
        pairs = [(4.0 + i / 10, 3.0) for i in range(9)] + [(None, 3.0)]
        r = summarize(pairs, "lower")
        self.assertEqual((r["wins"], r["ties"], r["n"]), (10, 0, 10))
        self.assertTrue(r["gain"])

    def test_pairs_where_both_sides_errored_still_count(self):
        pairs = [(4.0, 3.0)] * 9 + [(None, None)]
        self.assertEqual(summarize(pairs, "lower")["wins"], 9)
        self.assertTrue(summarize(pairs, "lower")["gain"])
        pairs = [(4.0, 3.0)] * 8 + [(None, None)] * 2
        self.assertFalse(summarize(pairs, "lower")["gain"])

    def test_more_failed_operations_is_no_gain(self):
        pairs = [(4.0 + i / 10, 3.4 + i / 10) for i in range(10)]
        self.assertTrue(summarize(pairs, "lower", failed=(2, 2))["gain"])
        self.assertFalse(summarize(pairs, "lower", failed=(0, 1))["gain"])

    def test_no_runs_on_a_side(self):
        r = summarize([(4.0, None)] * 10, "lower")
        self.assertEqual(r["wins"], 0)
        self.assertFalse(r["gain"])
        self.assertTrue(all(v != v for v in r["diff"]))  # NaN: no pair

    def test_paired_difference_shows_a_gain_the_seed_spread_hides(self):
        # the parent spreads 3.0-4.8 s across seeds; every pair is 0.6 s
        # lower on the change: the difference's quartiles are tight while
        # the verdict, which compares the medians, stays as it was
        pairs = [(3.0 + i / 5, 2.4 + i / 5) for i in range(10)]
        r = summarize(pairs, "lower")
        for got in r["diff"]:
            self.assertAlmostEqual(got, -0.6)
        self.assertEqual(r["wins"], 10)
        self.assertFalse(r["gain"])

    def test_paired_difference_skips_pairs_missing_a_side(self):
        pairs = [(4.0, 3.0), (5.0, 4.5), (6.0, 6.5), (None, 1.0), (3.0, None)]
        q1, med, q3 = summarize(pairs, "lower")["diff"]
        self.assertEqual(med, -0.5)
        self.assertEqual((q1, q3), quartiles([-1.0, -0.5, 0.5])[::2])


if __name__ == "__main__":
    unittest.main()
