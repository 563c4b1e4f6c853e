"""Tests for the seeded input generator (perfbench/gen.py).

    python3 perfbench/test_gen.py
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

KEYS = {"documents": "doc_id", "embeddings": "vec_id", "events": "event_id"}
SCALE = 0.5


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {name: os.path.join(cls.tmp.name, name) for name in ("a", "b", "c", "d")}
        cls.summary = gen.generate(cls.dirs["a"], 11, SCALE)
        gen.generate(cls.dirs["b"], 11, SCALE)
        gen.generate(cls.dirs["c"], 12, SCALE)
        cls.derived = gen.generate(cls.dirs["d"], [11, 1000], 0.1, ("documents",))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def read(self, table, run="a"):
        return pq.read_table(os.path.join(self.dirs[run], f"{table}.parquet"))

    def bytes_of(self, table, run):
        with open(os.path.join(self.dirs[run], f"{table}.parquet"), "rb") as f:
            return f.read()

    def test_same_seed_gives_identical_bytes(self):
        for table in gen.TABLES:
            self.assertEqual(self.bytes_of(table, "a"), self.bytes_of(table, "b"), table)

    def test_other_seed_gives_other_inputs(self):
        for table in gen.TABLES:
            self.assertNotEqual(self.bytes_of(table, "a"), self.bytes_of(table, "c"), table)

    def test_keys_are_unique(self):
        for table, key in KEYS.items():
            ids = self.read(table).column(key).to_numpy()
            self.assertEqual(len(np.unique(ids)), len(ids), table)

    def test_n_chars_is_text_length(self):
        docs = self.read("documents").to_pydict()
        self.assertTrue(all(n == len(t) for n, t in zip(docs["n_chars"], docs["text"])))

    def test_rows_follow_the_scale(self):
        want = {"documents": gen.SF01_DOCS, "embeddings": gen.SF01_VECS,
                "events": gen.SF01_EVENTS}
        for table, n in want.items():
            self.assertEqual(self.read(table).num_rows, int(n * SCALE), table)
            self.assertEqual(self.summary["tables"][table]["rows"], int(n * SCALE), table)
        self.assertEqual(self.summary["docs"], int(gen.SF01_DOCS * SCALE))
        self.assertEqual(self.derived["docs"], int(gen.SF01_DOCS * 0.1))

    def test_only_the_named_tables_are_written(self):
        self.assertEqual(sorted(os.listdir(self.dirs["d"])), ["documents.parquet"])
        self.assertEqual(list(self.derived["tables"]), ["documents"])

    def test_planted_duplicates(self):
        docs = self.read("documents").to_pydict()
        # every planted copy shares its cluster's base text or differs
        # from it in one token; exact copies alone are about half
        _, counts = np.unique(docs["text"], return_counts=True)
        exact_copies = int((counts - 1).sum())
        planted = round(gen.DUP_RATE * len(docs["text"]))
        self.assertGreaterEqual(exact_copies, planted // 3)
        self.assertLessEqual(exact_copies, planted)
        self.assertLessEqual(counts.max(), gen.MAX_CLUSTER)

    def test_planted_vector_clusters(self):
        vecs = np.array(self.read("embeddings").column("embedding").to_pylist())
        self.assertEqual(vecs.shape[1], gen.DIM)
        np.testing.assert_allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
        # a planted copy lies within 0.01·sqrt(dim) of its base before
        # normalization; count pairs that close
        sims = vecs @ vecs.T
        np.fill_diagonal(sims, 0)
        close = int((sims > 0.99).sum() // 2)
        planted = round(gen.DUP_RATE * len(vecs))
        self.assertGreaterEqual(close, planted)


if __name__ == "__main__":
    unittest.main()
