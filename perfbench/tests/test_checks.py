"""Output checks: the bounded-recall check of rows that may miss oracle
rows by design.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402

ORACLE = "SELECT range AS a, range * 2 AS b FROM range(1, 21)"  # 20 rows


class BoundedRecall(unittest.TestCase):
    def check(self, rows, floor=0.85):
        with tempfile.TemporaryDirectory() as out:
            os.makedirs(os.path.join(out, "op"))
            pq.write_table(pa.table({"a": [r[0] for r in rows], "b": [r[1] for r in rows]},
                                    schema=pa.schema([("a", pa.int64()), ("b", pa.int64())])),
                           os.path.join(out, "op", "part-0.parquet"))
            return run.bounded_recall(run.load_oracle_tool(), out, out, "op", ORACLE, floor)

    def test_subset_above_floor_passes(self):
        problem, recall = self.check([(i, 2 * i) for i in range(1, 19)])
        self.assertIsNone(problem)
        self.assertAlmostEqual(recall, 0.9)

    def test_recall_below_floor_fails(self):
        problem, recall = self.check([(i, 2 * i) for i in range(1, 11)])
        self.assertAlmostEqual(recall, 0.5)
        self.assertIn("below 0.85", problem)

    def test_empty_output_fails(self):
        problem, recall = self.check([])
        self.assertEqual(recall, 0.0)
        self.assertIsNotNone(problem)

    def test_row_outside_oracle_fails(self):
        problem, _ = self.check([(i, 2 * i) for i in range(1, 20)] + [(99, 1)])
        self.assertIn("not oracle rows", problem)


if __name__ == "__main__":
    unittest.main()
