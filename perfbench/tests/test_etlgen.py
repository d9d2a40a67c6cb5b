"""Tests of the benchmark's seeded ETL generator.

Run: python3 -m unittest discover -s perfbench/tests
"""
import csv
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import etlgen  # noqa: E402

SIZES = {"txn_rows": 5_000, "hold_rows": 2_000, "small_rows": 500}
NAMES = ("transactions.csv", "holdings.tsv", "small_transactions.csv")


def reasons(path, sep, arms):
    """Reject reason of each row, found by looking for each arm's spoiled value."""
    found = {}
    with open(path, newline="") as fh:
        rows = csv.reader(fh, delimiter=sep)
        next(rows)
        for row in rows:
            for reason, (col, bad) in arms.items():
                if row[col] == bad:
                    found[reason] = found.get(reason, 0) + 1
    return found


class EtlGenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed):
        out = os.path.join(self.tmp.name, name)
        return out, etlgen.generate(out, seed, **SIZES)

    def test_same_seed_same_bytes_and_counts(self):
        a, ma = self.gen("a", 42)
        b, mb = self.gen("b", 42)
        for n in NAMES:
            self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False), n)
        strip = lambda m: [{k: v for k, v in f.items() if k != "path"} for f in m["files"]]
        self.assertEqual(strip(ma), strip(mb))

    def test_other_seed_other_bytes(self):
        a, _ = self.gen("a", 1)
        b, _ = self.gen("b", 2)
        self.assertFalse(filecmp.cmp(os.path.join(a, NAMES[0]), os.path.join(b, NAMES[0]),
                                     shallow=False))

    def test_planted_counts_match_files(self):
        out, m = self.gen("a", 7)
        for f, sep, arms in zip(m["files"], (",", "\t", ","),
                                (etlgen.TXN_ARMS, etlgen.HOLD_ARMS, etlgen.TXN_ARMS)):
            self.assertEqual(reasons(f["path"], sep, arms), f["rejects"])
            self.assertEqual(f["good"] + sum(f["rejects"].values()), f["rows"])
        # every reject arm of the big transaction file is exercised
        self.assertEqual(set(m["files"][0]["rejects"]), set(etlgen.TXN_ARMS))


if __name__ == "__main__":
    unittest.main()
