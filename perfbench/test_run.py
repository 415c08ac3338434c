"""Tests of the benchmark's Python side: spread math, the oracle compare and
the seeded generators. Run with `python3 -m unittest` from perfbench/, or
through `python3 perfbench/run.py --self-test`."""
import math
import os
import statistics
import unittest

import pandas as pd

import inputs
import run
import spread


class SpreadTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        med, sp = spread.spread([float(x) for x in range(1, 11)])
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(sp, (8.25 - 2.75) / 5.5)

    def test_spread_matches_statistics_quantiles(self):
        xs = [3.1, 2.9, 3.3, 3.0, 3.05, 2.95, 3.2]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(spread.spread(xs)[1], (q3 - q1) / statistics.median(xs))

    def test_seed_ranges(self):
        self.assertEqual(spread.seeds("1-3,7"), [1, 2, 3, 7])

    def test_summarize_uses_bounds(self):
        rows = spread.summarize([{"wall_s": {"value": v}} for v in (1.0, 2.0, 3.0)], {"wall_s": 0.2})
        self.assertEqual(rows[0][0], "wall_s")
        self.assertEqual(rows[0][4], 0.2)


class CompareTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["a", None]})
        b = pd.DataFrame({"y": [None, "a"], "x": [2, 1]})
        self.assertIsNone(run.frames_equal(a, b))

    def test_one_cell_differs(self):
        a = pd.DataFrame({"x": [1, 2]})
        self.assertIsNotNone(run.frames_equal(a, pd.DataFrame({"x": [1, 3]})))

    def test_int_and_float_columns_differ(self):
        self.assertIsNotNone(run.frames_equal(pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [1.0, 2.0]})))

    def test_nan_equals_nan(self):
        self.assertTrue(run.cells_equal(float("nan"), float("nan")))

    def test_oracle_result_is_kept_per_sql(self):
        import tempfile
        import duckdb
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            first = run.oracle_frame(con, "SELECT 1 AS x", d)
            self.assertEqual(len(os.listdir(d)), 1)
            con.close()  # a second call must not need the database
            self.assertIsNone(run.frames_equal(run.oracle_frame(None, "SELECT 1 AS x", d), first))
            self.assertRaises(AttributeError, run.oracle_frame, None, "SELECT 2 AS x", d)


class HostTest(unittest.TestCase):
    def test_steal_share(self):
        before = [0, 0, 0, 0, 0, 0, 0, 0]
        self.assertAlmostEqual(run.steal_pct(before, [60, 0, 10, 20, 0, 0, 0, 10]), 10.0)
        self.assertTrue(math.isnan(run.steal_pct(None, before)))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_documents(self):
        a = inputs.documents_table(5, 300)
        self.assertTrue(a.equals(inputs.documents_table(5, 300)))
        self.assertFalse(a.equals(inputs.documents_table(6, 300)))

    def test_documents_have_planted_structure(self):
        t = inputs.documents_table(3, 2000).to_pandas()
        self.assertEqual(set(t["lang"]), {"en", "es", "de"})
        self.assertLess(t["text"].nunique(), len(t))  # exact duplicates
        self.assertTrue(t["text"].str.startswith(inputs.BANNER).any())
        counts = t["source"].value_counts()
        self.assertGreater(counts["src0"], 4 * counts.get("src20", 1))  # Zipf skew
        self.assertTrue(t["text"].str.contains("theorem").any())  # target-topic slice


if __name__ == "__main__":
    unittest.main()
