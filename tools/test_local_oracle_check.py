"""Unit tests of tools/local_oracle_check.py's helpers.

Run from the repository root:

    python3 -m unittest tools/test_local_oracle_check.py
"""
import os
import sys
import unittest

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import local_oracle_check as check  # noqa: E402


class OracleCheckTest(unittest.TestCase):
    SQL = ("SELECT x AS id, CASE WHEN x = 0 THEN NULL ELSE [x, x + 1] END AS arr, "
           "x::BIGINT * 10 AS n FROM range(3) t(x)")

    def test_leading_none_does_not_hide_an_array_column(self):
        con = duckdb.connect()
        _, _, df = check.fetch(con, self.SQL)
        # the first cell is the NULL (NaN in the frame): probing only it
        # would miss the array column
        self.assertFalse(isinstance(df["arr"].iloc[0], np.ndarray))
        self.assertEqual(check.ndarray_columns(df), ["arr"])

    def test_all_null_and_scalar_columns_are_not_arrays(self):
        con = duckdb.connect()
        _, _, df = check.fetch(con, "SELECT NULL::INT[] AS a, 'x' AS s, 1 AS i")
        self.assertEqual(check.ndarray_columns(df), [])

    def test_fetch_runs_once_and_matches_fetchall(self):
        con = duckdb.connect()
        calls = []
        real = con.execute

        class Counting:
            def execute(self, sql):
                calls.append(sql)
                return real(sql)

            def from_arrow(self, tbl):
                return con.from_arrow(tbl)

        cols, rows, df = check.fetch(Counting(), self.SQL)
        self.assertEqual(len(calls), 1)
        self.assertEqual(cols, ["id", "arr", "n"])
        self.assertEqual(check.table_hash(cols, rows),
                         check.table_hash(cols, con.execute(self.SQL).fetchall()))
        self.assertEqual(df.dtypes.to_dict(), con.execute(self.SQL).df().dtypes.to_dict())


if __name__ == "__main__":
    unittest.main()
