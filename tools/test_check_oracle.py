"""Tests for tools/check_oracle.py: its compare, its per-oracle budget,
and the line contract churnbench/run.py parses.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import time
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKER = os.path.join(ROOT, "tools", "check_oracle.py")
sys.path.insert(0, os.path.join(ROOT, "churnbench"))
sys.dont_write_bytecode = True  # leave the benchmark's directory as checked out
import run as churnbench  # noqa: E402

RESULT = re.compile(r"^(PASS|FAIL|ERROR|TIMEOUT) ([^:\s]+)")
CUST = pa.table({"c_custkey": pa.array([1, 2, 3], pa.int64()),
                 "c_nationkey": pa.array([0, 0, 1], pa.int32())})
BIGINT_SUM = "SELECT CAST(SUM(c_custkey) AS BIGINT) AS s FROM customer"


class CheckOracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        pq.write_table(CUST, f"{self.sf}/customer.parquet")
        self.oracles = {}

    def tearDown(self):
        self.tmp.cleanup()

    def dump(self, name, sql, **cols):
        """A Spark-style result dir for `name` holding `cols`, checked by `sql`."""
        os.makedirs(f"{self.out}/{name}")
        pq.write_table(pa.table(cols), f"{self.out}/{name}/part-00000.parquet")
        self.oracles[name] = sql

    def check(self, *budget):
        with open(f"{self.out}/oracle_sql.json", "w") as fh:
            json.dump(self.oracles, fh)
        p = subprocess.run([sys.executable, CHECKER, self.sf, self.out, *map(str, budget)],
                           capture_output=True, text=True, timeout=120)
        results = [RESULT.match(l) for l in p.stdout.splitlines()]
        got = {m.group(2): m.group(1) for m in results if m}
        # the contract: exactly one result line per oracle
        self.assertEqual(sum(1 for m in results if m), len(self.oracles), p.stdout)
        return p.returncode, got, p.stdout

    def test_match_passes(self):
        self.dump("q_sum", BIGINT_SUM, s=pa.array([6], pa.int64()))
        self.dump("q_group", "SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1",
                  c_nationkey=pa.array([1, 0], pa.int32()), n=pa.array([1, 2], pa.int64()))
        self.assertEqual(self.check()[:2], (0, {"q_sum": "PASS", "q_group": "PASS"}))

    def test_value_difference_fails(self):
        self.dump("q_sum", BIGINT_SUM, s=pa.array([7], pa.int64()))
        rc, got, stdout = self.check()
        self.assertEqual((rc, got), (1, {"q_sum": "FAIL"}))
        self.assertIn("got 7", stdout)

    def test_uncast_hugeint_sum_fails_against_bigint(self):
        self.dump("q_sum", "SELECT SUM(c_custkey) AS s FROM customer", s=pa.array([6], pa.int64()))
        rc, got, stdout = self.check()
        self.assertEqual((rc, got), (1, {"q_sum": "FAIL"}))
        self.assertIn("dtype family", stdout)

    def test_oracle_over_budget_times_out(self):
        self.dump("q_slow", "SELECT SUM(HASH(i)) AS s FROM range(10000000000) t(i)",
                  s=pa.array([0], pa.uint64()))
        self.dump("q_sum", BIGINT_SUM, s=pa.array([6], pa.int64()))
        t0 = time.monotonic()
        rc, got, _ = self.check(1)
        self.assertLess(time.monotonic() - t0, 30)
        self.assertEqual((rc, got), (1, {"q_slow": "TIMEOUT", "q_sum": "PASS"}))

    def test_spark_written_table_directory(self):
        os.remove(f"{self.sf}/customer.parquet")
        os.makedirs(f"{self.sf}/customer.parquet")
        for i in range(2):
            pq.write_table(CUST.slice(i * 2, 2), f"{self.sf}/customer.parquet/part-{i:05d}.parquet")
        self.dump("q_sum", BIGINT_SUM, s=pa.array([6], pa.int64()))
        self.assertEqual(self.check()[:2], (0, {"q_sum": "PASS"}))

    def test_churnbench_counts_failures(self):
        self.dump("q_ok", BIGINT_SUM, s=pa.array([6], pa.int64()))
        self.dump("q_bad", BIGINT_SUM, s=pa.array([5], pa.int64()))
        for names, failures in [(["q_ok"], 0), (["q_bad"], 1), (["q_ok", "q_bad"], 1)]:
            with open(f"{self.out}/oracle_sql.json", "w") as fh:
                json.dump(self.oracles, fh)  # oracle_check trims it to `names`
            self.assertEqual(churnbench.oracle_check(ROOT, self.sf, self.out, names), failures)


if __name__ == "__main__":
    unittest.main()
