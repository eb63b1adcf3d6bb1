"""Tests for tools/replicate.py over the committed sf0.1 bench tables.

    python3 -m unittest discover -s tools -p 'test_*.py'

The source directory is only read; every output goes to a temp dir.
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import replicate  # noqa: E402

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   os.pardir, "perfbench", "data", "sf0.1")
TABLES = list(replicate.ID_COLUMNS) + replicate.DIMENSIONS


class ReplicateTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="graft_replicate_")
        cls.x1 = os.path.join(cls.tmp, "x1")
        cls.x3 = os.path.join(cls.tmp, "x3")
        replicate.replicate(SRC, cls.x1, 1)
        replicate.replicate(SRC, cls.x3, 3)
        cls.con = duckdb.connect()

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(cls.tmp)

    def scalar(self, sql):
        return self.con.execute(sql).fetchone()[0]

    def count(self, d, table):
        return self.scalar(f"SELECT count(*) FROM read_parquet('{d}/{table}.parquet')")

    def test_x1_is_row_for_row_identical(self):
        for t in TABLES:
            a, b = f"read_parquet('{SRC}/{t}.parquet')", f"read_parquet('{self.x1}/{t}.parquet')"
            with self.subTest(table=t):
                self.assertEqual(self.count(SRC, t), self.count(self.x1, t))
                self.assertEqual(self.scalar(
                    f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"), 0)
                self.assertEqual(self.scalar(
                    f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})"), 0)

    def test_x3_triples_facts_and_keeps_dims(self):
        for t, ids in replicate.ID_COLUMNS.items():
            with self.subTest(table=t):
                self.assertEqual(self.count(self.x3, t), 3 * self.count(SRC, t))
        for t in replicate.DIMENSIONS:
            with self.subTest(table=t):
                with open(f"{SRC}/{t}.parquet", "rb") as a, \
                        open(f"{self.x3}/{t}.parquet", "rb") as b:
                    self.assertEqual(a.read(), b.read())

    def test_x3_ids_unique_per_table(self):
        # the one id that is unique in the source stays unique per replica
        unique = {"documents": "doc_id", "embeddings": "vec_id",
                  "customer": "c_custkey", "orders": "o_orderkey",
                  "events": "event_id"}
        for t, c in unique.items():
            with self.subTest(table=t):
                self.assertEqual(self.scalar(
                    f"SELECT count(DISTINCT {c}) FROM read_parquet('{self.x3}/{t}.parquet')"),
                    self.count(self.x3, t))

    def test_x3_star_join_triples(self):
        # per customer name, so a replica whose foreign keys point into
        # another replica shows up even when the total still triples
        def joined(d):
            return (f"SELECT c.c_name, count(*) AS n FROM read_parquet('{d}/lineitem.parquet') l "
                    f"JOIN read_parquet('{d}/orders.parquet') o ON l.l_orderkey = o.o_orderkey "
                    f"JOIN read_parquet('{d}/customer.parquet') c ON o.o_custkey = c.c_custkey "
                    "GROUP BY 1")
        self.assertGreater(self.scalar(f"SELECT sum(n) FROM ({joined(SRC)})"), 0)
        self.assertEqual(self.scalar(
            f"SELECT count(*) FROM ({joined(SRC)}) a FULL JOIN ({joined(self.x3)}) b "
            "ON a.c_name = b.c_name WHERE b.n IS DISTINCT FROM 3 * a.n"), 0)

    def test_id_at_bound_fails_before_writing(self):
        top = self.scalar(f"SELECT max(o_orderkey) FROM read_parquet('{SRC}/orders.parquet')")
        n = replicate.ID_BOUND // top + 1  # top * n >= the bound
        out = os.path.join(self.tmp, "too_big")
        with self.assertRaisesRegex(ValueError, "o_orderkey"):
            replicate.replicate(SRC, out, n)
        self.assertFalse(os.path.exists(out))


if __name__ == "__main__":
    unittest.main()
