"""Tests of the catalogue's DuckDB comparison: python3 -m unittest discover crawlbench"""
import os
import tempfile
import unittest

import duckdb

import oracle_compare


class CompareDirTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.data = os.path.join(root, "data")
        self.check = os.path.join(root, "check")
        os.makedirs(self.data)
        os.makedirs(self.check)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * FROM range(5) t(r_regionkey)) TO "
                    f"'{self.data}/region.parquet' (FORMAT parquet)")
        self.con = con
        self.sql = "SELECT r_regionkey, r_regionkey * 1.5 AS x FROM region"

    def tearDown(self):
        self.tmp.cleanup()

    def spark_result(self, name, select):
        os.makedirs(os.path.join(self.check, name), exist_ok=True)
        self.con.execute(f"COPY ({select}) TO '{self.check}/{name}/part-0.parquet' "
                         f"(FORMAT parquet)")
        with open(os.path.join(self.check, f"{name}.sql"), "w") as f:
            f.write(self.sql)

    def test_equal_results_pass_whatever_the_row_and_column_order(self):
        self.spark_result("q1", "SELECT r * 1.5 AS x, r AS r_regionkey "
                                "FROM range(5) t(r) ORDER BY r DESC")
        cmp = oracle_compare.compare_dir(self.data, self.check)
        self.assertEqual((cmp.attempted, cmp.failed), (1, 0), cmp.failures)

    def test_one_planted_row_difference_fails_the_query(self):
        self.spark_result("q1", "SELECT r AS r_regionkey, "
                                "CASE WHEN r = 3 THEN 0.0 ELSE r * 1.5 END AS x "
                                "FROM range(5) t(r)")
        cmp = oracle_compare.compare_dir(self.data, self.check)
        self.assertEqual((cmp.attempted, cmp.failed), (1, 1))
        self.assertIn("rows", cmp.failures[0])

    def test_missing_result_and_schema_mismatch_fail(self):
        with open(os.path.join(self.check, "q_missing.sql"), "w") as f:
            f.write(self.sql)
        self.spark_result("q_schema", "SELECT r AS r_regionkey FROM range(5) t(r)")
        cmp = oracle_compare.compare_dir(self.data, self.check)
        self.assertEqual((cmp.attempted, cmp.failed), (2, 2))

    def test_cached_oracle_answer_is_reused(self):
        self.spark_result("q1", "SELECT r AS r_regionkey, r * 1.5 AS x FROM range(5) t(r)")
        cache = os.path.join(self.tmp.name, "cache")
        first = oracle_compare.compare_dir(self.data, self.check, cache)
        self.assertEqual(len(os.listdir(cache)), 1)
        second = oracle_compare.compare_dir(self.data, self.check, cache)
        self.assertEqual((first.failed, second.failed), (0, 0))


if __name__ == "__main__":
    unittest.main()
