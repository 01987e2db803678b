#!/usr/bin/env python3
"""Determinism spec for the benchmark's input generators.

Run from the repository root: python3 perfbench/tests/test_gen.py
(or python3 perfbench/build.py test). Asserts that one seed always writes
identical bytes, that another seed writes different inputs, that every
dirty-data case of the fresh_etl batches appears, and that the corpus
stream has increasing doc ids, planted duplicates and its drift.
"""
import csv
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class DirtyBatchesSpec(unittest.TestCase):
    def make(self, seed, n=4):
        d = tempfile.mkdtemp(dir=self.tmp)
        return d, gen.dirty_batches(d, seed, n)

    def setUp(self):
        self.tmpdir = tempfile.TemporaryDirectory()
        self.tmp = self.tmpdir.name

    def tearDown(self):
        self.tmpdir.cleanup()

    def test_same_seed_same_bytes(self):
        a, ma = self.make(7)
        b, mb = self.make(7)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ma, mb)

    def test_other_seed_other_inputs(self):
        a, _ = self.make(7)
        b, _ = self.make(8)
        self.assertNotEqual(digest(a), digest(b))

    def test_every_dirty_case_appears_in_every_batch_run(self):
        _, made = self.make(7)
        for case in gen.CASES:
            self.assertGreater(made["cases"][case], 0, case)

    def test_staged_counts_match_files(self):
        d, made = self.make(7)
        for b, counts in enumerate(made["staged"]):
            for entity, n in counts.items():
                with open(os.path.join(d, f"b{b}", f"{entity}.csv")) as fh:
                    rows = list(csv.reader(fh))
                self.assertEqual(rows[0], gen.STAGING[entity] + ["batch_no"])
                self.assertEqual(len(rows) - 1, n)

    def test_fk_shape(self):
        """Fact rows reference parents of the same or an earlier batch, or
        a parent that never arrives (an orphan); customers with no orders
        and suppliers with no products exist."""
        d, _ = self.make(7, n=3)

        def col(b, entity, name):
            with open(os.path.join(d, f"b{b}", f"{entity}.csv")) as fh:
                return [r[name].strip().lower() for r in csv.DictReader(fh)]
        seen = {e: set() for e in gen.ENTITY_ORDER}
        orphans = 0
        for b in range(3):
            for e in gen.ENTITY_ORDER:
                seen[e] |= set(col(b, e, gen.STAGING[e][0]))
            for fk, parent in [("customerid", "customers")]:
                for v in col(b, "orders", fk):
                    orphans += v not in seen[parent]
        self.assertGreater(orphans, 0)
        ordering = set(col(0, "orders", "customerid")) | set(col(1, "orders", "customerid"))
        self.assertTrue(seen["customers"] - ordering, "some customers have no orders")
        supplying = set()
        for b in range(3):
            supplying |= set(col(b, "products", "supplierid"))
        self.assertTrue(seen["suppliers"] - supplying, "some suppliers have no products")


class CorpusSpec(unittest.TestCase):
    def setUp(self):
        self.tmpdir = tempfile.TemporaryDirectory()
        self.tmp = self.tmpdir.name

    def tearDown(self):
        self.tmpdir.cleanup()

    def make(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        return d, gen.corpus(d, seed, n_epochs=4, docs_per_epoch=200, drift_epoch=2)

    def test_same_seed_same_bytes_other_seed_other_inputs(self):
        a, pa_ = self.make(3)
        b, pb = self.make(3)
        c, _ = self.make(4)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(pa_, pb)
        self.assertNotEqual(digest(a), digest(c))

    def test_ids_duplicates_and_drift(self):
        d, planted = self.make(3)
        tables = [pq.read_table(os.path.join(d, f"e{e:04d}.parquet")) for e in range(4)]
        ids = np.concatenate([t["doc_id"].to_numpy() for t in tables])
        self.assertTrue((np.diff(ids) > 0).all(), "doc_id strictly increases across epochs")
        texts = [x for t in tables for x in t["text"].to_pylist()]
        self.assertGreater(len(texts) - len(set(texts)), 0, "exact duplicates planted")
        self.assertTrue(any(x.endswith(" dup") for x in texts), "near-duplicates planted")
        near = sum(p["near_dup"] for p in planted) / len(texts)
        exact = sum(p["exact_dup"] for p in planted) / len(texts)
        self.assertTrue(0.05 < near < 0.15 and 0.005 < exact < 0.04, (near, exact))
        means = [np.mean(np.stack(t["embedding"].to_numpy(zero_copy_only=False))) for t in tables]
        self.assertGreater(means[2] - means[1], 0.1, "vectors shift at the drift epoch")


if __name__ == "__main__":
    unittest.main()
