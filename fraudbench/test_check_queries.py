"""Tests of the query_mix checker: it accepts a result equal to the oracle's
in any row order, and rejects a changed value, a missing row and a renamed
column. Run with `python3 fraudbench/run.py --self-test`, or from this
directory with `python3 -m unittest test_check_queries`.
"""
import json
import os
import shutil
import tempfile
import unittest

import duckdb

import check_queries

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SQL = "SELECT r_regionkey, r_name FROM region"


class CheckQueriesTest(unittest.TestCase):
    def setUp(self):
        self.out = tempfile.mkdtemp(prefix="check_queries_")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump({"q_region": SQL}, fh)

    def tearDown(self):
        shutil.rmtree(self.out)

    def write_result(self, sql):
        os.makedirs(os.path.join(self.out, "q_region"))
        duckdb.sql(f"CREATE VIEW IF NOT EXISTS region AS SELECT * FROM '{DATA}/region.parquet'")
        duckdb.sql(f"COPY ({sql}) TO '{self.out}/q_region/part-0.parquet' (FORMAT parquet)")

    def test_accepts_the_oracle_result_in_any_order(self):
        self.write_result(SQL + " ORDER BY r_regionkey DESC")
        self.assertEqual(check_queries.check(DATA, self.out), [])

    def test_rejects_a_changed_value(self):
        self.write_result("SELECT r_regionkey, CASE WHEN r_regionkey = 0 THEN 'X' ELSE r_name END AS r_name FROM region")
        self.assertEqual(len(check_queries.check(DATA, self.out)), 1)

    def test_rejects_a_missing_row(self):
        self.write_result(SQL + " WHERE r_regionkey > 0")
        self.assertEqual(len(check_queries.check(DATA, self.out)), 1)

    def test_rejects_a_renamed_column(self):
        self.write_result("SELECT r_regionkey, r_name AS name FROM region")
        self.assertEqual(len(check_queries.check(DATA, self.out)), 1)

    def test_nan_equals_nan_but_not_a_number(self):
        import pandas as pd
        nan = pd.DataFrame({"x": [float("nan"), 1.0]})
        self.assertIsNone(check_queries.compare("q", nan, nan.iloc[::-1]))
        self.assertIsNotNone(check_queries.compare("q", nan, pd.DataFrame({"x": [0.0, 1.0]})))


if __name__ == "__main__":
    unittest.main()
