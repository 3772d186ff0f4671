"""Self-tests of the output checks: python3 -m unittest perfbench/test_checks.py"""
import datetime
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402
import run  # noqa: E402


class ChecksTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.data)
        pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                                 "v": [0.5, 1.25, 2.0]}),
                       os.path.join(self.data, "lineitem.parquet"))
        run.WORK = os.path.join(self.tmp.name, "work")

    def tearDown(self):
        self.tmp.cleanup()

    def _warm(self, op_id, table):
        d = os.path.join(self.out, "warm", op_id)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    def _result(self, *ops):
        return {"warm": [dict(op, error=None) for op in ops], "settle": [],
                "passes": [{"traced": False, "seconds": 1.0,
                            "ops": [{"id": op["id"], "kind": "k", "seconds": 0.1, "error": None}
                                    for op in ops]}]}

    def test_matching_output_passes_in_any_row_order_and_integral_type(self):
        # Spark may return an integral double where DuckDB returns BIGINT
        self._warm("a", pa.table({"v": [2.0, 0.5, 1.25], "k": [3.0, 1.0, 2.0]}))
        op = {"id": "a", "sql": "SELECT k, v FROM lineitem", "agg_exprs": None}
        self.assertEqual(run.check(self._result(op), self.out, self.data), {})

    def test_digest_mismatch_flips_the_op_to_failed(self):
        self._warm("a", pa.table({"k": pa.array([1, 2, 4], pa.int64()), "v": [0.5, 1.25, 2.0]}))
        op = {"id": "a", "sql": "SELECT k, v FROM lineitem", "agg_exprs": None}
        failed = run.check(self._result(op), self.out, self.data)
        self.assertIn("a", failed)
        self.assertIn("digest", failed["a"])
        # and a failed op is kept out of every latency
        self.assertEqual(run.op_times(self._result(op)["passes"], failed), [])

    def test_rows_only_op_fails_on_empty_output_and_passes_otherwise(self):
        self._warm("r", pa.table({"x": pa.array([7], pa.int64())}))
        self._warm("e", pa.table({"x": pa.array([], pa.int64())}))
        ops = [{"id": "r", "sql": None, "agg_exprs": None},
               {"id": "e", "sql": None, "agg_exprs": None}]
        failed = run.check(self._result(*ops), self.out, self.data)
        self.assertEqual(list(failed), ["e"])
        self.assertIn("rows-only", failed["e"])

    def test_aggregate_check_compares_sums_and_count(self):
        self._warm("s", pa.table({"n": pa.array([3], pa.int64()),
                                  "s_v": pa.array([3.75], pa.float64())}))
        op = {"id": "s", "sql": "SELECT v FROM lineitem",
              "agg_exprs": "count(*) AS n, sum(CAST(v AS DECIMAL(38,4))) AS s_v"}
        self.assertEqual(run.check(self._result(op), self.out, self.data), {})

    def test_an_op_that_threw_is_failed(self):
        self._warm("t", pa.table({"x": pa.array([1], pa.int64())}))
        op = {"id": "t", "sql": "SELECT 1 AS x", "agg_exprs": None}
        res = self._result(op)
        res["passes"][0]["ops"][0]["error"] = "java.lang.RuntimeException: boom"
        self.assertIn("t", run.check(res, self.out, self.data))

    def test_timestamps_compare_at_microsecond_precision(self):
        con = oracle.connect(self.data)
        us = datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
        a = pa.table({"ts": pa.array([us], pa.timestamp("us"))})
        b = pa.table({"ts": pa.array([1704067200123456789], pa.timestamp("ns"))})
        con.register("a", a)
        con.register("b", b)
        self.assertEqual(oracle.digest(con, "(SELECT * FROM a)"),
                         oracle.digest(con, "(SELECT * FROM b)"))


if __name__ == "__main__":
    unittest.main()
