"""Tests for the seeded input generator.

    python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def write_all(seed: int, out: str) -> None:
    tables = gen.permuted(gen.base_tables(), seed)
    gen.write_tables(tables, out)
    gen.write_csvs(tables["lineitem"], out)


class GenTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a, cls.b, cls.c = (os.path.join(cls.tmp.name, d) for d in "abc")
        write_all(3, cls.a)
        write_all(3, cls.b)
        write_all(4, cls.c)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def files(self):
        return sorted(os.listdir(self.a))

    def test_same_seed_gives_byte_identical_inputs(self):
        self.assertEqual(len(self.files()), len(gen.TABLES) + 2)
        for f in self.files():
            self.assertTrue(filecmp.cmp(os.path.join(self.a, f), os.path.join(self.b, f),
                                        shallow=False), f)

    def test_other_seed_gives_same_rows_in_another_order(self):
        con = duckdb.connect()
        for t in gen.TABLES:
            a = f"read_parquet('{self.a}/{t}.parquet')"
            c = f"read_parquet('{self.c}/{t}.parquet')"
            for x, y in ((a, c), (c, a)):
                left = con.execute(f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL "
                                   f"SELECT * FROM {y})").fetchone()[0]
                self.assertEqual(left, 0, t)
            self.assertEqual(con.execute(f"SELECT count(*) FROM {a}").fetchone(),
                             con.execute(f"SELECT count(*) FROM {c}").fetchone(), t)
            if t not in ("region",):
                self.assertFalse(filecmp.cmp(f"{self.a}/{t}.parquet", f"{self.c}/{t}.parquet",
                                             shallow=False), t)
        csv_a = f"read_csv('{self.a}/lineitem.csv')"
        csv_c = f"read_csv('{self.c}/lineitem.csv')"
        self.assertEqual(con.execute(f"SELECT count(*) FROM (SELECT * FROM {csv_a} EXCEPT ALL "
                                     f"SELECT * FROM {csv_c})").fetchone()[0], 0)
        self.assertNotEqual(con.execute(f"SELECT * FROM {csv_a} LIMIT 5").fetchall(),
                            con.execute(f"SELECT * FROM {csv_c} LIMIT 5").fetchall())

    def test_held_out_batches_are_seeded_and_disjoint(self):
        b1 = gen.held_out_batches(5000, 9, 6, 10, 0)
        self.assertEqual(b1, gen.held_out_batches(5000, 9, 6, 10, 0))
        self.assertNotEqual(b1, gen.held_out_batches(5000, 10, 6, 10, 0))
        flat = [i for b in b1 for i in b]
        self.assertEqual(len(flat), len(set(flat)))
        self.assertTrue(all(0 <= i < 5000 for i in flat))


if __name__ == "__main__":
    unittest.main()
