"""Tests for the seeded input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

WORK = os.path.join(BENCH, ".work", "test-gen")


def digests(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)
        cls.a = os.path.join(WORK, "a")
        cls.b = os.path.join(WORK, "b")
        cls.c = os.path.join(WORK, "c")
        gen.generate(cls.a, 7, 1, 5, 300)
        gen.generate(cls.b, 7, 1, 5, 300)
        gen.generate(cls.c, 8, 1, 5, 300)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_same_seed_same_files(self):
        da, db = digests(self.a), digests(self.b)
        self.assertTrue(any(k.startswith("batches/") for k in da))
        self.assertTrue(any(k.startswith("tables/") for k in da))
        self.assertEqual(da, db)

    def test_other_seed_other_files(self):
        da, dc = digests(self.a), digests(self.c)
        self.assertEqual(da.keys(), dc.keys())
        self.assertNotEqual(da["batches/b00001.json"],
                            dc["batches/b00001.json"])

    def events(self, path):
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def test_every_batch_mixes_all_tables_and_ops(self):
        names = sorted(os.listdir(os.path.join(self.a, "batches")))
        self.assertEqual(len(names), 5)
        for n in names:
            seen = {(e["table"], e["type"])
                    for e in self.events(os.path.join(self.a, "batches", n))}
            for table in ("orders", "customer", "lineitem"):
                for op in ("insert", "update", "delete"):
                    self.assertIn((table, op), seen, f"{n}: {table} {op}")

    def test_ts_strictly_increasing(self):
        files = [os.path.join(self.a, "log", n)
                 for n in sorted(os.listdir(os.path.join(self.a, "log")))]
        initial = sorted(e["ts"] for f in files for e in self.events(f))
        self.assertEqual(len(initial), len(set(initial)))
        last = initial[-1]
        for n in sorted(os.listdir(os.path.join(self.a, "batches"))):
            ts = [e["ts"] for e in self.events(
                os.path.join(self.a, "batches", n))]
            self.assertEqual(ts, sorted(ts))
            self.assertGreater(ts[0], last)
            self.assertEqual(len(ts), len(set(ts)))
            last = ts[-1]

    def test_updates_carry_old_values_of_changed_columns(self):
        for e in self.events(os.path.join(self.a, "batches", "b00001.json")):
            if e["type"] == "update":
                self.assertTrue(e["old"])
                for col, old in e["old"].items():
                    self.assertNotEqual(e["data"][col], old)


if __name__ == "__main__":
    unittest.main()
