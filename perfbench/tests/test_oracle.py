"""The oracle comparison of query-suite results.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import oracle  # noqa: E402

CORPUS = os.path.join(os.path.dirname(__file__), "..", "corpus", "sf0.01")


class CompareTest(unittest.TestCase):
    def test_order_of_rows_and_columns_does_not_matter(self):
        got = ([(1, 2.5), (3, 4.5)], ["k", "v"])
        exp = ([(4.5, 3), (2.5, 1)], ["v", "k"])
        self.assertIsNone(oracle.compare(got[1], got[0], exp[1], exp[0]))

    def test_none_equals_only_none(self):
        self.assertIsNone(oracle.compare(["c"], [(None,), ("x",)], ["c"], [("x",), (None,)]))
        self.assertIn("mismatch", oracle.compare(["c"], [(None,)], ["c"], [(0,)]))

    def test_float_drift_is_a_mismatch(self):
        diff = oracle.compare(["v"], [(0.1 + 0.2,)], ["v"], [(0.3,)])
        self.assertIn("mismatch", diff)

    def test_row_count_and_column_differences_are_reported(self):
        self.assertIn("rows", oracle.compare(["v"], [(1,)], ["v"], [(1,), (2,)]))
        self.assertIn("columns", oracle.compare(["v"], [(1,)], ["w"], [(1,)]))

    def test_a_query_without_oracle_sql_fails(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "oracle_sql.json"), "w") as f:
                json.dump({"gone": None}, f)
            checked, failures = oracle.check(d, CORPUS)
        self.assertEqual(checked, 1)
        self.assertEqual(failures, ["gone: no oracle SQL"])


if __name__ == "__main__":
    unittest.main()
