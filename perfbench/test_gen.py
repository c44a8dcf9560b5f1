"""Tests of the benchmark's input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The same seed must give byte-identical inputs, and another seed other
inputs; the planted truth must describe the files.
"""

import filecmp
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen


def _files(root):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(out)


def _same_tree(a, b):
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False) for f in fa)


def _write(kind, out, seed):
    if kind == "taxi":
        gen.taxi_arrivals(out, seed, 12, 200)
    elif kind == "corpus":
        gen.corpus(out, seed, 600, n_queries=20)
    else:
        gen.query_batches(out, seed, list(range(100, 140)), 30, 8)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _dirs(self, kind, seeds):
        dirs = []
        for i, s in enumerate(seeds):
            d = os.path.join(self.tmp, "%s-%d" % (kind, i))
            _write(kind, d, s)
            dirs.append(d)
        return dirs

    def test_same_seed_gives_identical_bytes(self):
        for kind in ("taxi", "corpus", "queries"):
            a, b = self._dirs(kind, [7, 7])
            self.assertTrue(_same_tree(a, b), kind)

    def test_other_seed_gives_other_inputs(self):
        for kind in ("taxi", "corpus", "queries"):
            a, b = self._dirs(kind, [7, 8])
            self.assertFalse(_same_tree(a, b), kind)

    def test_taxi_truth_describes_files(self):
        out = os.path.join(self.tmp, "taxi")
        truth = gen.taxi_arrivals(out, 3, 16, 300)
        self.assertEqual(sum(a["redelivery"] for a in truth["arrivals"]), 2)
        for a in truth["arrivals"]:
            with open(os.path.join(out, a["file"])) as f:
                lines = f.read().splitlines()
            width = len(gen.TAXI_COLUMNS[a["table"]])
            rows = [line.split(",") for line in lines[1:]]
            self.assertEqual(len(rows), a["lines"])
            self.assertEqual(sum(len(r) == width for r in rows), a["valid"])
            null = gen.TAXI_COLUMNS[a["table"]].index(gen.TAXI_NULL_COLUMN[a["table"]])
            self.assertTrue(all(r[null] == "" for r in rows if len(r) == width))
        self.assertLess(sum(a["valid"] for a in truth["arrivals"]),
                        sum(a["lines"] for a in truth["arrivals"]))

    def test_corpus_plants_sit_inside_the_quality_window(self):
        out = os.path.join(self.tmp, "corpus")
        truth = gen.corpus(out, 5, 2000)
        t = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
        text = dict(zip(t["doc_id"], t["text"]))
        planted = [d for p in truth["exact_dups"] for d in p] + \
            [d for p in truth["near_dups"] for d in p[:2]] + truth["contaminated"]
        for d in planted:
            self.assertTrue(100 <= len(text[d]) <= 450, d)
            self.assertGreaterEqual(len(gen._tokens(text[d])), 20, d)
        for a, b in truth["exact_dups"]:
            self.assertLess(a, b)
            self.assertEqual(text[a], text[b])
        for a, b, _, j in truth["near_dups"]:
            self.assertLess(a, b)
            self.assertLess(j, 1.0)
        bench = pq.read_table(os.path.join(out, "benchmark.parquet")).to_pydict()["text"]
        grams = {tuple(g) for b in bench for g in _grams(gen._tokens(b), 13)}
        for d in truth["contaminated"]:
            self.assertTrue(grams & set(_grams(gen._tokens(text[d]), 13)), d)


def _grams(toks, n):
    return [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]


if __name__ == "__main__":
    unittest.main()
