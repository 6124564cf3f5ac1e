"""Shows that every correctness check of the benchmark counts a corrupted
output as a failure. Needs only DuckDB and pandas, no JVM.

usage: python3 perfbench/test_checks.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def write_parquet(con, df, path):
    os.makedirs(path, exist_ok=True)
    con.register("_t", df)
    con.execute(f"COPY (SELECT * FROM _t) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
    con.unregister("_t")


class CompareFrames(unittest.TestCase):
    def setUp(self):
        self.exp = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", None]})

    def test_equal_frames_in_any_row_order_pass(self):
        self.assertIsNone(checks.compare_frames(self.exp, self.exp.iloc[::-1].copy()))

    def test_changed_value_fails(self):
        got = self.exp.copy()
        got.loc[1, "v"] = "z"
        self.assertIn("values differ", checks.compare_frames(self.exp, got))

    def test_missing_row_fails(self):
        self.assertIn("rows", checks.compare_frames(self.exp, self.exp.iloc[:2]))

    def test_renamed_column_fails(self):
        got = self.exp.rename(columns={"v": "w"})
        self.assertIn("columns", checks.compare_frames(self.exp, got))

    def test_changed_dtype_fails(self):
        got = self.exp.astype({"k": "float64"})
        self.assertIn("dtype", checks.compare_frames(self.exp, got))


class Oracles(unittest.TestCase):
    """check_oracles and the failed-op count of a query_mix run."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.con = duckdb.connect()
        self.tables = os.path.join(self.dir, "tables")
        self.check = os.path.join(self.dir, "check")
        os.makedirs(self.tables)
        self.con.execute(f"COPY (SELECT i AS r_regionkey, 'R' || i AS r_name FROM range(5) t(i)) "
                         f"TO '{self.tables}/region.parquet' (FORMAT PARQUET)")
        os.makedirs(self.check)
        with open(f"{self.check}/oracle_sql.json", "w") as f:
            json.dump({"qa": "SELECT count(*) AS n FROM region",
                       "qb": "SELECT r_name FROM region WHERE r_regionkey < 2"}, f)
        write_parquet(self.con, pd.DataFrame({"n": [5]}), f"{self.check}/qa")
        write_parquet(self.con, pd.DataFrame({"r_name": ["R0", "R1"]}), f"{self.check}/qb")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def raw(self):
        ops = [{"id": n, "kind": k, "round": r, "wall": 1.0, "items": 1, "ok": True}
               for r, k in ((0, "cold"), (1, "warm")) for n in ("qa", "qb")]
        return {"ops": ops, "digests": {}, "errors": []}

    def correctness(self):
        cfg = {"jvm": {"queries": ["qa", "qb"]}}
        return run.correctness(self.con, "query_mix", self.raw(), self.tables, self.check, cfg)

    def test_correct_outputs_pass(self):
        results, failed = self.correctness()
        self.assertTrue(all(ok for _, ok, _ in results))
        self.assertEqual(failed, 0)

    def test_corrupted_output_fails_every_op_of_that_query(self):
        shutil.rmtree(f"{self.check}/qb")
        write_parquet(self.con, pd.DataFrame({"r_name": ["R0", "R9"]}), f"{self.check}/qb")
        results, failed = self.correctness()
        self.assertEqual([n for n, ok, _ in results if not ok], ["qb"])
        self.assertEqual(failed, 2)

    def test_missing_output_fails(self):
        shutil.rmtree(f"{self.check}/qa")
        results, failed = self.correctness()
        self.assertFalse(dict((n, ok) for n, ok, _ in results)["qa"])
        self.assertEqual(failed, 2)


class Live(unittest.TestCase):
    """check_live against a snapshot built from the expected-state query."""

    DAYS = 3

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        cls.con = duckdb.connect()
        cls.data = os.path.join(cls.dir, "data")
        gen.load_inputs(cls.con, cls.data, seed=5, days=cls.DAYS,
                        photos_per_day=600, repull_share=0.3)
        cls.good = cls.con.execute(checks.expected_live(cls.con, cls.data, cls.DAYS)).df()

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(cls.dir)

    def verdict(self, snapshot):
        check = os.path.join(self.dir, "check")
        shutil.rmtree(check, ignore_errors=True)
        write_parquet(self.con, snapshot, f"{check}/live")
        return {n: ok for n, ok, _ in checks.check_live(self.con, self.data, check, self.DAYS)}

    def test_expected_snapshot_passes(self):
        self.assertTrue(all(self.verdict(self.good).values()))

    def test_repulls_and_planted_dupes_are_exercised(self):
        total = sum(len(pd.read_csv(f"{self.data}/day_{d}/photos/part.tsv", sep="\t"))
                    for d in range(self.DAYS))
        self.assertLess(len(self.good), total)

    def test_duplicate_key_fails(self):
        v = self.verdict(pd.concat([self.good, self.good.iloc[:1]]))
        self.assertFalse(v["live.key_unique"])
        self.assertFalse(v["live.row_count"])

    def test_shared_url_fails(self):
        bad = self.good.copy()
        bad.loc[1, "url"] = bad.loc[0, "url"]
        v = self.verdict(bad)
        self.assertFalse(v["live.url_single_key"])
        self.assertFalse(v["live.content"])

    def test_dropped_row_fails(self):
        v = self.verdict(self.good.iloc[1:])
        self.assertFalse(v["live.row_count"])
        self.assertFalse(v["live.content"])

    def test_stale_value_fails(self):
        bad = self.good.copy()
        bad.loc[3, "width"] = bad.loc[3, "width"] + 1
        v = self.verdict(bad)
        self.assertTrue(v["live.row_count"])
        self.assertFalse(v["live.content"])


class Digests(unittest.TestCase):
    def test_round_whose_state_drifts_fails_its_ops(self):
        ops = [{"id": "batch-1", "kind": "batch", "round": r, "wall": 1.0,
                "items": 1, "ok": True} for r in (0, 1)]
        raw = {"ops": ops, "errors": [],
               "digests": {"live_r0": "10:1", "live_r1": "10:2"}}
        con = duckdb.connect()
        orig = checks.check_live
        checks.check_live = lambda *a: [("live.content", True, "")]
        try:
            results, failed = run.correctness(con, "catalog_load", raw, "", "",
                                              {"gen": {"days": 2}})
        finally:
            checks.check_live = orig
            con.close()
        self.assertFalse(dict((n, ok) for n, ok, _ in results)["state_digest_equal_across_rounds"])
        self.assertEqual(failed, 1)


if __name__ == "__main__":
    unittest.main()
