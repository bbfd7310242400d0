"""Unit tests of tools/ab_pairs.py's summary:

    python3 -m unittest discover -s tools -p 'test_ab_pairs.py'
"""
import unittest

import ab_pairs


class SummarizeTest(unittest.TestCase):

    def test_wins_losses_and_ties_by_direction(self):
        pairs = [(10.0, 8.0), (10.0, 10.0), (9.0, 11.0), (12.0, 7.0)]
        low = ab_pairs.summarize(pairs, "lower")
        self.assertEqual((low["wins"], low["losses"], low["n"]), (2, 1, 4))
        high = ab_pairs.summarize(pairs, "higher")
        self.assertEqual((high["wins"], high["losses"]), (1, 2))

    def test_medians_and_parent_quartiles(self):
        s = ab_pairs.summarize([(1.0, 5.0), (2.0, 6.0), (3.0, 7.0), (4.0, 8.0), (5.0, 9.0)],
                               "lower")
        self.assertEqual((s["parent_median"], s["change_median"]), (3.0, 7.0))
        self.assertEqual((s["parent_q1"], s["parent_q3"]), (2.0, 4.0))

    def test_gain_needs_nine_tenths_of_wins_and_a_margin_over_the_spread(self):
        parent = [6.0, 6.1, 6.2, 6.3, 6.4, 6.5, 6.6, 6.7, 6.8, 6.9]
        clear = [(p, p - 1.0) for p in parent]
        self.assertTrue(ab_pairs.summarize(clear, "lower")["gain"])
        # every pair won, but by less than the parent's 0.45 s quartile spread
        narrow = [(p, p - 0.3) for p in parent]
        self.assertFalse(ab_pairs.summarize(narrow, "lower")["gain"])
        # a clear margin, but two of ten pairs lost
        two_lost = clear[:8] + [(p, p + 0.1) for p in parent[8:]]
        self.assertFalse(ab_pairs.summarize(two_lost, "lower")["gain"])
        self.assertFalse(ab_pairs.summarize(clear, "higher")["gain"])

    def test_one_pair(self):
        s = ab_pairs.summarize([(2.0, 1.0)], "lower")
        self.assertEqual((s["parent_q1"], s["parent_q3"], s["wins"]), (2.0, 2.0, 1))

    def test_parse_seeds(self):
        self.assertEqual(ab_pairs.parse_seeds("1501-1503,1510"), [1501, 1502, 1503, 1510])


if __name__ == "__main__":
    unittest.main()
