#!/usr/bin/env python3
"""Self-check of verify_10x.compare_indb's column-kind gate (DuckDB only).

Usage: python3 tools/test_verify_10x.py

A dump whose column is BOOLEAN or DATE must fail against an oracle that
returns the same values as VARCHAR (EXCEPT ALL would cast and pass), and a
dump with the oracle's own types must pass.
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import verify_10x  # noqa: E402


class CompareInDbKinds(unittest.TestCase):
    DUMP_SQL = ("SELECT 1::BIGINT AS id, true AS flag, DATE '2025-01-15' AS day "
                "UNION ALL SELECT 2, false, DATE '2025-01-16'")

    def compare(self, oracle_sql):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            con.execute(f"COPY ({self.DUMP_SQL}) TO '{d}/part-0.parquet' "
                        f"(FORMAT PARQUET)")
            return verify_10x.compare_indb(
                con, "selfcheck", oracle_sql, f"{d}/*.parquet", 2, 60)

    def test_identical_types_pass(self):
        self.assertEqual(self.compare(self.DUMP_SQL), "pass")

    def test_boolean_vs_varchar_fails(self):
        self.assertEqual(self.compare(
            "SELECT 1::BIGINT AS id, 'true' AS flag, DATE '2025-01-15' AS day "
            "UNION ALL SELECT 2, 'false', DATE '2025-01-16'"), "fail")

    def test_date_vs_varchar_fails(self):
        self.assertEqual(self.compare(
            "SELECT 1::BIGINT AS id, true AS flag, '2025-01-15' AS day "
            "UNION ALL SELECT 2, false, '2025-01-16'"), "fail")


if __name__ == "__main__":
    unittest.main()
