"""Input generators and the replay the crawl checks rest on: the same
seed gives byte-identical inputs, another seed different ones, and the
planted pairs, re-crawls and copies mean what the checks assume.

Run: python3 -m unittest discover -s graftbench/tests
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

SMALL = dict(shard_sizes=(100, 300), seed_docs=300)


def scratch():
    """A temporary directory inside the benchmark's ignored work area."""
    work = os.path.join(BENCH, ".work")
    os.makedirs(work, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=work)


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch()

    def tearDown(self):
        shutil.rmtree(self.tmp)
        try:
            os.rmdir(os.path.dirname(self.tmp))
        except OSError:
            pass


class DeterminismTest(GenTest):
    def generate(self, fn, seed, **kw):
        out = tempfile.mkdtemp(dir=self.tmp)
        ret = fn(seed, out, **kw)
        return digest(out), ret

    def test_tables(self):
        a = self.generate(gen.tables, 7, sf=0.01)
        self.assertEqual(a, self.generate(gen.tables, 7, sf=0.01))
        self.assertNotEqual(a[0], self.generate(gen.tables, 8, sf=0.01)[0])

    def test_crawl_shards_and_embeddings(self):
        a = self.generate(gen.crawl, 7, **SMALL)
        self.assertEqual(a, self.generate(gen.crawl, 7, **SMALL))
        self.assertNotEqual(a[0], self.generate(gen.crawl, 8, **SMALL)[0])

    def test_inventory_order(self):
        names = [f"q{i}" for i in range(12)]
        self.assertEqual(gen.inventory_order(3, names),
                         gen.inventory_order(3, names))
        self.assertNotEqual(gen.inventory_order(3, names),
                            gen.inventory_order(4, names))
        self.assertEqual(sorted(gen.inventory_order(3, names)), sorted(names))


class CrawlInputsTest(GenTest):
    def test_planted_pairs_clear_the_thresholds(self):
        import numpy as np
        import pyarrow.parquet as pq
        shards = gen.crawl(5, self.tmp, **SMALL)
        d = f"{self.tmp}/shard_2"
        rows = {doc: (lang, text) for doc, lang, _, text in shards[2]}
        with open(f"{d}/planted_text.csv") as f:
            planted = [tuple(map(int, l.split(","))) for l in f]
        self.assertEqual(len(planted), 25)
        ref = run.reference_pairs(shards[2], run.TAU)
        for a, b in planted:
            self.assertEqual(rows[a][0], rows[b][0])
            self.assertIn((a, b), ref)
        emb = np.array(pq.read_table(f"{d}/emb.parquet")
                       .column("embedding").to_pylist())
        with open(f"{d}/planted_vec.csv") as f:
            for a, b in (map(int, l.split(",")) for l in f):
                cos = emb[a] @ emb[b] / np.linalg.norm(emb[a]) / np.linalg.norm(emb[b])
                self.assertGreaterEqual(cos, 0.95 - 1e-6)

    def test_recrawls_and_copies(self):
        shards = gen.crawl(5, self.tmp, **SMALL)
        stored = {doc: text for doc, _, _, text in shards[0] + shards[1]}
        rows = shards[2]
        recrawls = [doc for doc, _, _, _ in rows if doc in stored]
        copies = [doc for doc, _, _, text in rows
                  if doc not in stored and text in stored.values()]
        self.assertEqual(len(recrawls), 30)
        self.assertEqual(len(copies), 15)


class ReferenceTest(unittest.TestCase):
    def test_reference_pairs_match_brute_force(self):
        import random
        rnd = random.Random(3)
        words = [f"t{i}" for i in range(12)]
        rows = [(i, rnd.choice("ab"), "s",
                 " ".join(rnd.choice(words) for _ in range(rnd.randint(3, 8))))
                for i in range(120)]
        brute = set()
        for x in rows:
            for y in rows:
                if x[0] < y[0] and x[1] == y[1]:
                    a, b = set(x[3].split(" ")), set(y[3].split(" "))
                    if len(a & b) / len(a | b) >= 0.8:
                        brute.add((x[0], y[0]))
        self.assertTrue(brute)
        self.assertEqual(run.reference_pairs(rows, 0.8), brute)

    def test_keep_one_keeps_each_component_minimum(self):
        self.assertEqual(run.keep_one({(1, 5), (5, 9), (2, 3)}), {3, 5, 9})
        self.assertEqual(run.keep_one(set()), set())


if __name__ == "__main__":
    unittest.main()
