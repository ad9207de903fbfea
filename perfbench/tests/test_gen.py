"""Generator determinism. Run: python3 -m unittest discover -s perfbench/tests"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digests(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


class Determinism(unittest.TestCase):
    def generate(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            size = fn(seed, d)
            return size, digests(d)

    def test_chain_same_seed_same_bytes_other_seed_same_shape(self):
        s1, d1 = self.generate(gen.chain, 11)
        s2, d2 = self.generate(gen.chain, 11)
        s3, d3 = self.generate(gen.chain, 12)
        self.assertEqual(d1, d2)
        self.assertEqual(s1, s2)
        self.assertEqual(set(d1), set(d3))
        self.assertTrue(all(d1[k] != d3[k] for k in ("transactions.parquet",
                                                     "gateway_inventory.parquet")))
        # the shape holds across seeds: same row totals, near-same mix
        self.assertEqual(s1["transactions"], s3["transactions"])
        self.assertEqual(s1["blocks"], s3["blocks"])
        for kind, share in gen.CHAIN["type_mix"].items():
            self.assertAlmostEqual(s3["transactions_by_type"][kind] / s3["transactions"],
                                   share, delta=0.01)

    def test_tables_same_seed_same_bytes(self):
        s1, d1 = self.generate(gen.tables, 5)
        s2, d2 = self.generate(gen.tables, 5)
        _, d3 = self.generate(gen.tables, 6)
        self.assertEqual((s1, d1), (s2, d2))
        self.assertNotEqual(d1["lineitem.parquet"], d3["lineitem.parquet"])


if __name__ == "__main__":
    unittest.main()
