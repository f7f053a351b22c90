"""Pins the generator's contract: the same seed gives byte-identical
inputs, another seed gives other inputs, and the churn between sync
snapshots is what the manifest says.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    def generate(self, workload, seed):
        out = tempfile.mkdtemp(prefix="perfbench-gen-")
        self.addCleanup(shutil.rmtree, out, True)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                self.assertEqual(tree_digest(self.generate(w, 7)),
                                 tree_digest(self.generate(w, 7)))

    def test_other_seed_other_inputs(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                self.assertNotEqual(tree_digest(self.generate(w, 7)),
                                    tree_digest(self.generate(w, 8)))

    def test_lookup_stream_is_whole_cycles(self):
        out = self.generate("lookup", 3)
        with open(os.path.join(out, "verbs.tsv")) as f:
            verbs = [l.split("\t")[0] for l in f.read().splitlines()]
        n = len(gen.VERBS)
        self.assertEqual(len(verbs), gen.LOOKUP_CYCLES * n)
        for c in range(gen.LOOKUP_CYCLES):
            self.assertEqual(sorted(verbs[c * n:(c + 1) * n]), sorted(gen.VERBS))

    def test_sync_churn_matches_manifest(self):
        out = self.generate("sync", 5)
        snaps = sorted(d for d in os.listdir(out) if d.startswith("snap-"))
        self.assertEqual(len(snaps), gen.SNAPSHOTS)
        keys = [set(pq.read_table(os.path.join(out, s, "customer.parquet"))
                    .column("c_custkey").to_pylist()) for s in snaps]
        self.assertEqual(len(keys[0]), gen.CUSTOMERS)
        for k in range(1, len(keys)):
            self.assertEqual(len(keys[k - 1] - keys[k]), round(len(keys[k - 1]) * gen.DROP_RATE))
            self.assertEqual(len(keys[k] - keys[k - 1]), round(len(keys[k - 1]) * gen.ADD_RATE))

    def test_corpus_matches_manifest(self):
        out = self.generate("corpus-prep", 5)
        docs = pq.read_table(os.path.join(out, "tables", "documents.parquet")).to_pylist()
        self.assertEqual(len(docs), gen.CORPUS_DOCS)
        with open(os.path.join(out, "manifest.json")) as f:
            planted = json.load(f)["planted"]
        self.assertEqual(planted, {
            "exact_dup": round(gen.CORPUS_DOCS * gen.EXACT_DUP_RATE),
            "near_dup": round(gen.CORPUS_DOCS * gen.NEAR_DUP_RATE),
            "pii": round(gen.CORPUS_DOCS * gen.PII_RATE)})
        texts = [d["text"] for d in docs]
        # a planted copy can also carry planted PII, so it is not always
        # an exact duplicate; fresh docs are never equal by chance
        self.assertLessEqual(len(texts) - len(set(texts)), planted["exact_dup"])
        self.assertGreater(len(texts) - len(set(texts)), 0)
        self.assertTrue(all(d["n_chars"] == len(d["text"]) for d in docs))

if __name__ == "__main__":
    unittest.main()
