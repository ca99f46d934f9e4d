"""Generator tests: one seed gives byte-identical tables, another seed
different ones.

    python3 -m unittest discover -s c45bench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import gen


def read_all(d):
    """{relative path: bytes} of every file under `d`."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class GenTest(unittest.TestCase):
    def write(self, seed, workload):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        gen.generate(seed, workload, d)
        return read_all(d)

    def setUp(self):
        work = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=work)

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        for w in gen.ROWS:
            a, b = self.write(3, w), self.write(3, w)
            for t in gen.ROWS[w]:
                self.assertTrue(any(f.split(os.sep)[0] == f"{t}.parquet" for f in a), sorted(a))
            self.assertEqual(a, b, w)

    def test_other_seed_differs(self):
        for w in gen.ROWS:
            a, b = self.write(3, w), self.write(4, w)
            self.assertEqual(sorted(a), sorted(b))
            for f in a:
                # the served models are fixed; only the tables follow the seed
                if f.split(os.sep)[0] in ("tree", "forest"):
                    self.assertEqual(a[f], b[f], f"{w}/{f}")
                else:
                    self.assertNotEqual(a[f], b[f], f"{w}/{f}")

    def test_table_shape(self):
        t = gen.make_table(5, "missing", "train", 20_000).to_pandas()
        self.assertEqual({t[c].nunique() for c in ("c0", "c1", "c2")}, {4, 8, 12})
        self.assertGreater(t["n0"].nunique(), 256)
        self.assertEqual(sorted(t["label"].unique()), gen.CLASSES)
        for a in gen.NULL_ATTRS:
            self.assertAlmostEqual(t[a].isna().mean(), gen.NULL_FRAC, delta=0.02)
        clean = gen.make_table(5, "deep_tree", "train", 20_000).to_pandas()
        self.assertFalse(clean.isna().any().any())


if __name__ == "__main__":
    unittest.main()
