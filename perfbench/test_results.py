"""Self-tests for the output checks: how a stream run's checks turn
into failures, and the batch comparison with an oracle.

Run: python3 perfbench/run.py --self-test
"""
import math
import os
import shutil
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import outputs
import run


def phase(batch_ids, errors, expected=4):
    return {"expected_batches": expected, "heap_retained_mb": 100.0, "errors": errors,
            "batches": [{"batch": b, "wall_s": 1.0 + b / 10, "start_ms": 1000 * b,
                         "input_rows": 100000} for b in batch_ids]}


class StreamFailuresTest(unittest.TestCase):
    def failed(self, p):
        _, attempted, failed = run.stream_e2e(p, warm=1)
        self.assertEqual(attempted, p["expected_batches"])
        return failed

    def test_clean_run_has_no_failure(self):
        self.assertEqual(self.failed(phase([0, 1, 2, 3], {})), 0)

    def test_wrong_batch_fails(self):
        self.assertEqual(self.failed(phase([0, 1, 2, 3], {"2": "row != want"})), 1)

    def test_missing_batch_fails(self):
        self.assertEqual(self.failed(phase([0, 1, 2], {})), 1)

    def test_row_past_the_last_batch_fails(self):
        # a Delta row for a window no batch closed is keyed to a later id
        self.assertEqual(self.failed(phase([0, 1, 2, 3], {"7": "unexpected row"})), 1)

    def test_failures_never_exceed_attempts(self):
        errors = {str(b): "wrong" for b in range(10)}
        self.assertEqual(self.failed(phase([0, 1, 2, 3], errors)), 4)


class BatchCompareTest(unittest.TestCase):
    """outputs.compare on small tables written under the work directory."""

    def setUp(self):
        self.dir = os.path.join(run.WORK, "selftest")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "got"))
        self.con = outputs.duckdb.connect()
        self.want = os.path.join(self.dir, "want.parquet")
        pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                                 "v": [0.5, math.nan, 2.0], "s": ["a", "b", None]}),
                       self.want)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def verdict(self, **cols):
        pq.write_table(pa.table(cols), os.path.join(self.dir, "got", "part-0.parquet"))
        return outputs.compare(self.con, os.path.join(self.dir, "got"), self.want)

    def test_equal_result_passes(self):
        # narrower integers, columns in another order, NaN equal to NaN
        self.assertEqual(self.verdict(s=["a", "b", None], v=[0.5, math.nan, 2.0],
                                      k=pa.array([1, 2, 3], pa.int32())), (None, 3))

    def test_wrong_value_fails(self):
        err, _ = self.verdict(k=[1, 2, 3], v=[0.5, math.nan, 2.5], s=["a", "b", None])
        self.assertIn("row 2", err)

    def test_wrong_order_fails(self):
        err, _ = self.verdict(k=[2, 1, 3], v=[math.nan, 0.5, 2.0], s=["b", "a", None])
        self.assertIn("row 0", err)

    def test_missing_row_fails(self):
        err, _ = self.verdict(k=[1, 2], v=[0.5, math.nan], s=["a", "b"])
        self.assertIn("rows != oracle", err)

    def test_missing_column_fails(self):
        err, _ = self.verdict(k=[1, 2, 3], v=[0.5, math.nan, 2.0])
        self.assertIn("columns", err)


if __name__ == "__main__":
    unittest.main()
