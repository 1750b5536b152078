"""Self-test of the seeded input generator: the same seed gives identical
tables, another seed gives different ones, and row counts never depend on
the seed. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402

SIZES = dict(orders=120, customers=30, parts=40, suppliers=5)
CURATION = dict(docs=60, vectors=40, events=200, users=20)


def tables(seed):
    with tempfile.TemporaryDirectory() as d:
        gen.tpch(d, seed, **SIZES)
        gen.curation(d, seed, **CURATION)
        return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = tables(7), tables(7)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = tables(7), tables(8)
        for name in ["customer.parquet", "part.parquet", "orders.parquet",
                     "lineitem.parquet", "documents.parquet",
                     "embeddings.parquet", "events.parquet"]:
            self.assertFalse(a[name].equals(b[name]), name)
            self.assertEqual(a[name].num_rows, b[name].num_rows, name)
            self.assertEqual(a[name].schema, b[name].schema, name)

    def test_sizes(self):
        t = tables(3)
        self.assertEqual(t["orders.parquet"].num_rows, SIZES["orders"])
        self.assertEqual(t["lineitem.parquet"].num_rows, 4 * SIZES["orders"])
        self.assertEqual(t["documents.parquet"].num_rows, CURATION["docs"])


if __name__ == "__main__":
    unittest.main()
