import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        root = cls.tmp.name
        cls.props = {}
        for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
            cls.props[tag] = gen.generate(os.path.join(root, tag), seed,
                                          "corpus")

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def path(self, tag):
        return os.path.join(self.tmp.name, tag)

    def test_same_seed_identical_files(self):
        a, b = files(self.path("a")), files(self.path("b"))
        self.assertEqual(sorted(a), [f"{t}.parquet" for t in sorted(gen.TABLES)])
        self.assertEqual(a, b)
        self.assertEqual(self.props["a"], self.props["b"])

    def test_other_seed_other_rows_same_schema(self):
        for t in gen.TABLES:
            a = pq.read_table(os.path.join(self.path("a"), f"{t}.parquet"))
            c = pq.read_table(os.path.join(self.path("c"), f"{t}.parquet"))
            self.assertEqual(a.schema, c.schema, t)
            self.assertEqual(a.num_rows, c.num_rows, t)
            if t not in ("region", "nation"):  # fixed dimension tables
                self.assertNotEqual(a, c, t)

    def test_other_seed_keeps_preconditions(self):
        spec = gen.SHAPES["corpus"]
        for tag in ("a", "c"):
            gen.check(self.path(tag), spec, self.props[tag])
            shares = self.props[tag]["doc_shares"]
            self.assertAlmostEqual(shares["exact"], spec["dup_exact"], delta=0.01)
            self.assertAlmostEqual(2 * shares["near"], spec["dup_near"], delta=0.01)
            self.assertEqual(self.props[tag]["users"], spec["users"])
            self.assertGreater(self.props[tag]["late_share"], 0)

    def test_check_rejects_a_broken_precondition(self):
        bad = dict(self.props["a"], users=self.props["a"]["users"] + 1)
        with self.assertRaises(AssertionError):
            gen.check(self.path("a"), gen.SHAPES["corpus"], bad)


if __name__ == "__main__":
    unittest.main()
