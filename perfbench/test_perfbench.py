"""Checks of the benchmark's own parts that need no JVM:

- the generators are seeded: same seed, same bytes; another seed, other bytes;
- the inputs sit on both sides of the 2^17 rank-path switch;
- the DuckDB gate accepts the oracle's own tables and rejects a corrupted,
  a truncated or a short copy.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "test-tmp")


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TempDirCase(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class GeneratorTest(TempDirCase):
    def generate(self, workload, seed, name):
        root = os.path.join(self.tmp, name)
        record = gen.generate(workload, seed, root)
        return record, digest(root)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in ("statement_archive", "stage_bulk"):
            with self.subTest(workload=workload):
                rec_a, a = self.generate(workload, 7, f"{workload}-a")
                rec_b, b = self.generate(workload, 7, f"{workload}-b")
                _, c = self.generate(workload, 8, f"{workload}-c")
                self.assertEqual(a, b)
                self.assertEqual(rec_a, rec_b)
                self.assertNotEqual(a, c)

    def test_statement_archive_covers_every_ingest_path(self):
        record, _ = self.generate("statement_archive", 3, "sa")
        names = os.listdir(os.path.join(self.tmp, "sa", "data"))
        for suffix in (".csv", ".html", ".xlsx"):
            self.assertTrue(any(n.endswith(suffix) for n in names), suffix)
        self.assertEqual(record["files"], len(names))
        self.assertGreater(record["rows"], 0)

    def test_merchant_names_straddle_the_rank_switch(self):
        archive, _ = self.generate("statement_archive", 3, "sa")
        self.generate("stage_bulk", 3, "sb")
        with open(os.path.join(self.tmp, "sb", "data", "result_all_banks.csv"),
                  encoding="utf-8") as f:
            next(f)
            stage = {line.split(",")[2] for line in f}
        self.assertGreater(len(stage), 1 << 17)
        # a merchant group needs a row, so the archive stays on the window path
        self.assertLess(archive["rows"], 1 << 17)


class GateTest(TempDirCase):
    """Builds a small all_transactions table, writes the oracle's own RFM
    tables as the 'pipeline output', then corrupts copies of them."""

    def setUp(self):
        super().setUp()
        self.configs = os.path.join(self.tmp, "configs")
        gen.write_configs(self.configs)
        self.out = os.path.join(self.tmp, "out")
        tx = os.path.join(self.out, "all_transactions")
        os.makedirs(tx)
        import duckdb
        con = duckdb.connect()
        con.execute(f"""COPY (
            SELECT md5(i::VARCHAR) AS transaction_id,
                   DATE '2024-01-01' + (i * 7 % 500)::INTEGER AS transaction_date,
                   ['全聯 信義店', 'LinePay－好食餐廳', '小店001號', '百貨公司', '書店',
                    'JKOPAY－飲料店'][i % 6 + 1] AS merchant_name,
                   round((i * 37 % 5000) / 10.0 - 20, 1)::DOUBLE AS payment_amount,
                   ['交易', '繳款', '交易', '退刷'][i % 4 + 1] AS transaction_type,
                   ['esun_bank', 'cube_bank'][i % 2 + 1] AS bank_name,
                   ['玉山Unicard', '', '國泰CUBE'][i % 3 + 1] AS card_name
            FROM range(300) t(i)) TO '{tx}/part-0.parquet' (FORMAT PARQUET)""")
        con.close()
        con = oracle.connect(self.out, self.configs)
        for name, sql in oracle.oracle_sql().items():
            os.makedirs(os.path.join(self.out, f"rfm_{name}"))
            con.execute(f"COPY ({sql}) TO '{self.out}/rfm_{name}/part-0.parquet' (FORMAT PARQUET)")
        con.close()

    def rewrite(self, name, sql):
        import duckdb
        path = os.path.join(self.out, f"rfm_{name}", "part-0.parquet")
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
        con.execute(sql)
        con.execute(f"COPY t TO '{path}' (FORMAT PARQUET)")
        con.close()

    def test_oracle_tables_pass(self):
        verdict = oracle.gate(self.out, self.configs, 300)
        self.assertTrue(verdict["ok"], verdict)

    def test_row_count_mismatch_fails(self):
        self.assertFalse(oracle.gate(self.out, self.configs, 301)["ok"])

    def test_corrupted_rank_fails(self):
        self.rewrite("merchant", "UPDATE t SET life_m_rank = life_m_rank / 2 "
                                 "WHERE rowid = (SELECT min(rowid) FROM t)")
        verdict = oracle.gate(self.out, self.configs, 300)
        self.assertFalse(verdict["ok"])
        self.assertEqual(verdict["diff"]["merchant"], {"missing": 1, "unexpected": 1})

    def test_missing_group_fails(self):
        self.rewrite("card", "DELETE FROM t WHERE rowid = (SELECT min(rowid) FROM t)")
        verdict = oracle.gate(self.out, self.configs, 300)
        self.assertFalse(verdict["ok"])
        self.assertEqual(verdict["diff"]["card"], {"missing": 1, "unexpected": 0})

    def test_wrong_segment_fails(self):
        self.rewrite("payment", "UPDATE t SET segment = 'x'")
        self.assertFalse(oracle.gate(self.out, self.configs, 300)["ok"])


if __name__ == "__main__":
    unittest.main()
