"""The output checks accept a correct output and reject a corrupted one.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

Outputs are written here in the engine's layout (report parquet, CSV
chunk dirs, fix SQL) from the checker's own recomputation, then
corrupted one field at a time. No JVM is involved.
"""
import os
import shutil
import sys
import tempfile
import tomllib
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import check  # noqa: E402
import gen  # noqa: E402

DRIFTED = """(SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 10.0
             ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
 FROM orders WHERE o_orderkey % 97 <> 0
 UNION ALL
 SELECT o_orderkey + 1000000, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority
 FROM orders WHERE o_orderkey % 89 = 0)"""


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench_test_")
        cls.data = os.path.join(cls.tmp, "data")
        gen.generate(cls.data, seed=7, scale=0.002, copies=2)
        with open(os.path.join(os.path.dirname(HERE), "config.toml"), "rb") as fh:
            cls.config = tomllib.load(fh)
        cls.checker = check.Checker(cls.data, cls.config, {
            "drifted_orders": DRIFTED,
            "region_oracle": "SELECT r_regionkey, r_name FROM region"})

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def out_dir(self, name, mode, report):
        out = os.path.join(self.tmp, name)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, f"report_{mode}.parquet"))
        report.to_parquet(os.path.join(out, f"report_{mode}.parquet", "part-0.parquet"))
        return out

    def check_out(self, label, mode, out):
        return self.checker.check_call({"label": label, "mode": mode, "out": out,
                                        "source": "oracle", "target": "mysql",
                                        "error": None})[0]

    def run_check(self, label, mode, report, name=None):
        out = self.out_dir(name or label, mode, report)
        return self.check_out(label, mode, out), out

    def compare_report(self):
        exp = self.checker.compare_expect()
        return pd.DataFrame([(c, s, t, n == 0) for c, (s, t, n) in sorted(exp.items())],
                            columns=["chunk_id", "src_rows", "tgt_rows", "matched"])

    def test_generator_keys_fixed_values_seeded(self):
        a = gen.base_tables(1, 0.002)["orders"]
        b = gen.base_tables(2, 0.002)["orders"]
        c = gen.base_tables(1, 0.002)["orders"]
        self.assertEqual(a.column("o_orderkey"), b.column("o_orderkey"))
        self.assertEqual(a.column("o_custkey"), b.column("o_custkey"))
        self.assertNotEqual(a.column("o_totalprice"), b.column("o_totalprice"))
        self.assertTrue(a.equals(c))

    def test_replica_offsets_keys_per_copy(self):
        rows = self.checker.rows
        self.assertEqual(rows["orders"], 2 * gen.rows_at(0.002)["orders"])
        top = self.checker.one("SELECT max(o_orderkey) FROM orders")
        self.assertGreaterEqual(top, gen.KEY_OFFSET)

    def test_compare_accepts_correct_rejects_corrupted(self):
        rep = self.compare_report()
        exp = self.checker.compare_expect()
        out = self.out_dir("compare", "compare", rep)
        fix = os.path.join(out, "fix_orders.sql")
        with open(fix, "w") as fh:
            fh.write("/* chunk */\n" + "DELETE FROM t WHERE k = 1;\n" *
                     sum(n for _, _, n in exp.values()))
        self.assertEqual(self.check_out("compare", "compare", out), [])
        with open(fix, "a") as fh:
            fh.write("REPLACE INTO t VALUES (1);\n")
        self.assertTrue(self.check_out("compare", "compare", out))
        bad = rep.copy()
        bad.loc[0, "src_rows"] += 1
        self.assertTrue(self.run_check("compare", "compare", bad, name="compare_bad")[0])

    def test_compare_rows_rejects_flipped_match(self):
        rep = self.compare_report()
        rep["matched"] = rep["src_rows"] == rep["tgt_rows"]
        self.assertEqual(self.run_check("compare_rows", "compare", rep)[0], [])
        rep.loc[0, "matched"] = not rep.loc[0, "matched"]
        self.assertTrue(self.run_check("compare_rows", "compare", rep, name="cr_bad")[0])

    def test_full_rejects_fix_rows_and_lost_rows(self):
        counts = self.checker.chunk_counts(self.config["full"]["chunk-size"])
        rep = pd.DataFrame([(c, n, "x", True, 0) for c, n in sorted(counts.items())],
                           columns=["chunk_id", "n_rows", "row_checksum", "matched", "n_fix"])
        self.assertEqual(self.run_check("full", "full", rep)[0], [])
        bad = rep.copy()
        bad.loc[0, "n_fix"] = 3
        self.assertTrue(self.run_check("full", "full", bad, name="full_fix")[0])
        bad = rep.copy()
        bad.loc[0, "n_rows"] -= 1
        self.assertTrue(self.run_check("full", "full", bad, name="full_lost")[0])

    def test_all_rejects_missing_key(self):
        want = self.checker.all_expect()
        self.assertEqual(self.run_check("all", "all", want.copy())[0], [])
        self.assertTrue(self.run_check("all", "all", want.iloc[1:].copy(), name="all_bad")[0])

    def test_csv_rejects_a_dropped_line(self):
        rows = self.checker.rows
        rep = pd.DataFrame([(t, n, 1) for t, n in rows.items()],
                           columns=["table_name", "n_rows", "n_chunks"])
        out = self.out_dir("csv", "csv", rep)
        term = self.config["csv"]["terminator"]
        for t, n in rows.items():
            d = os.path.join(out, "csv", t, "chunk_id=0")
            os.makedirs(d)
            with open(os.path.join(d, "00000_header.txt"), "w", newline="") as fh:
                fh.write('"h"' + term)
            with open(os.path.join(d, "part-0.txt"), "w", newline="") as fh:
                fh.write(("x" + term) * n)
        self.assertEqual(self.check_out("csv", "csv", out), [])
        with open(os.path.join(out, "csv", "orders", "chunk_id=0", "part-0.txt"),
                  "w", newline="") as fh:
            fh.write(("x" + term) * (rows["orders"] - 1))
        self.assertTrue(self.check_out("csv", "csv", out))

    def test_oracle_hash_rejects_changed_value(self):
        rep = self.checker.df("SELECT r_regionkey, r_name FROM region")
        self.assertEqual(self.checker.hash_match(rep, "region_oracle"), [])
        rep.loc[0, "r_name"] = "ATLANTIS"
        self.assertTrue(self.checker.hash_match(rep, "region_oracle"))

    def test_failed_call_is_a_failure(self):
        call = {"label": "full", "mode": "full", "out": self.tmp, "source": "oracle",
                "target": "mysql", "error": "java.lang.IllegalStateException: boom"}
        self.assertTrue(self.checker.check_call(call)[0])


if __name__ == "__main__":
    unittest.main()
