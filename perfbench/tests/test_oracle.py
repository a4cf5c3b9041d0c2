import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import oracle  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_order_and_width_do_not_matter(self):
        a = pd.DataFrame({"d1": [1, 2], "d2": [5, 6], "j": [0.5, 0.75]})
        b = pd.DataFrame({"j": [0.75, 0.5], "d2": [6.0, 5.0],
                          "d1": pd.Series([2, 1], dtype="int32")})
        self.assertEqual(oracle.digest(a), oracle.digest(b))

    def test_values_and_names_matter(self):
        a = pd.DataFrame({"d1": [1, 2], "j": [0.5, 0.75]})
        self.assertNotEqual(oracle.digest(a),
                            oracle.digest(pd.DataFrame({"d1": [1, 2], "j": [0.5, 0.7500001]})))
        self.assertNotEqual(oracle.digest(a),
                            oracle.digest(pd.DataFrame({"d1": [1, 2, 2], "j": [0.5, 0.75, 0.75]})))
        self.assertNotEqual(oracle.digest(a),
                            oracle.digest(pd.DataFrame({"d2": [1, 2], "j": [0.5, 0.75]})))

    def test_negative_zero_differs(self):
        self.assertNotEqual(oracle.digest(pd.DataFrame({"x": [0.0]})),
                            oracle.digest(pd.DataFrame({"x": [-0.0]})))

    def test_nulls_and_strings(self):
        a = pd.DataFrame({"s": ["x", None], "n": [1.0, float("nan")]})
        b = pd.DataFrame({"s": [None, "x"], "n": [float("nan"), 1.0]})
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        self.assertNotEqual(oracle.digest(a), oracle.digest(
            pd.DataFrame({"s": ["1", None], "n": [1.0, float("nan")]})))

    def test_timestamps_compare_naive(self):
        naive = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"])})
        aware = naive.assign(t=naive["t"].dt.tz_localize("UTC"))
        self.assertEqual(oracle.digest(naive), oracle.digest(aware))


if __name__ == "__main__":
    unittest.main()
