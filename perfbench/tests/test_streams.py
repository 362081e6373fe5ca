"""Tests for the seeded workload inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import collections
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import streams  # noqa: E402


class StreamTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        for workload in ("olap_headline", "txn_mixed"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                streams.write_inputs(workload, 7, a)
                streams.write_inputs(workload, 7, b)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)

    def test_other_seed_gives_other_streams(self):
        self.assertNotEqual(streams.olap_passes(1), streams.olap_passes(2))
        self.assertNotEqual(streams.txn_stream(1), streams.txn_stream(2))

    def test_passes_are_permutations_of_the_headline_set(self):
        for p in streams.olap_passes(3):
            self.assertEqual(sorted(p), sorted(streams.HEADLINE))
        self.assertEqual(len(streams.HEADLINE), 19)

    def test_txn_mix_is_the_tpcc_block(self):
        mix = collections.Counter(p for p, _ in streams.txn_stream(9, length=2500))
        self.assertEqual(mix, {"new_order": 1100, "payment": 1100, "order_status": 100,
                               "delivery": 100, "stock_level": 100})
        lo, hi = streams.TXN_KEYS
        self.assertTrue(all(lo <= k < hi for _, k in streams.txn_stream(9)))

    def test_block_is_tpccbench_order(self):
        self.assertEqual(streams.TXN_BLOCK[:11], ["new_order"] * 11)
        self.assertEqual(streams.TXN_BLOCK[11:22], ["payment"] * 11)
        self.assertEqual(streams.TXN_BLOCK[22:], ["order_status", "delivery", "stock_level"])

if __name__ == "__main__":
    unittest.main()
