"""Tests of the oracle compare's verdicts.

    python3 -m unittest tools/test_check_oracle.py      # from the repository root
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check_oracle  # noqa: E402


def _dump(d, oracle, results):
    """A Verify-style output dir: oracle_sql.json plus one parquet
    directory per key in `results`."""
    with open(os.path.join(d, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    for key, df in results.items():
        os.makedirs(os.path.join(d, key))
        df.to_parquet(os.path.join(d, key, "part-0.parquet"))


def _check(d, only=None):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        verdict = check_oracle.check(duckdb.connect(), d, only)
    return verdict, out.getvalue()


class CheckTest(unittest.TestCase):
    ORACLE = {"q_a": "SELECT 1 AS x UNION ALL SELECT 2", "q_b": "SELECT 7 AS y"}

    def test_matching_results_pass(self):
        with tempfile.TemporaryDirectory() as d:
            _dump(d, self.ORACLE, {"q_a": pd.DataFrame({"x": [2, 1]}),
                                   "q_b": pd.DataFrame({"y": [7]})})
            self.assertEqual(_check(d)[0], (2, 0))

    def test_listed_key_without_output_fails(self):
        # q_b's builder threw, so Verify wrote no directory for it
        with tempfile.TemporaryDirectory() as d:
            _dump(d, self.ORACLE, {"q_a": pd.DataFrame({"x": [1, 2]})})
            verdict, out = _check(d)
            self.assertEqual(verdict, (1, 1))
            self.assertIn("FAIL q_b: no output directory", out)

    def test_unlisted_directory_is_not_compared(self):
        # a directory left by an earlier run of a key this run did not list
        with tempfile.TemporaryDirectory() as d:
            _dump(d, {"q_a": self.ORACLE["q_a"]},
                  {"q_a": pd.DataFrame({"x": [1, 2]}),
                   "q_old": pd.DataFrame({"z": [0]})})
            verdict, out = _check(d)
            self.assertEqual(verdict, (1, 0))
            self.assertNotIn("q_old", out)

    def test_value_difference_fails(self):
        with tempfile.TemporaryDirectory() as d:
            _dump(d, self.ORACLE, {"q_a": pd.DataFrame({"x": [1, 3]}),
                                   "q_b": pd.DataFrame({"y": [7]})})
            verdict, out = _check(d)
            self.assertEqual(verdict, (1, 1))
            self.assertIn("FAIL q_a: 1 col diffs", out)

    def test_only_restricts_the_keys(self):
        with tempfile.TemporaryDirectory() as d:
            _dump(d, self.ORACLE, {"q_a": pd.DataFrame({"x": [1, 2]})})
            self.assertEqual(_check(d, only={"q_a"})[0], (1, 0))


if __name__ == "__main__":
    unittest.main()
