"""Tests of the benchmark's own input generation and statistics.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root (the generator reads the ledger fixtures).
"""

import hashlib
import os
import sys
import tempfile
import unittest

ROOT = os.getcwd()
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import gen  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TempDirTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(ROOT, ".bench_build")
        os.makedirs(base, exist_ok=True)
        self._tmp = tempfile.TemporaryDirectory(dir=base)
        self.tmp = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def api(self, seed, name):
        out = os.path.join(self.tmp, name)
        os.makedirs(out)
        return out, gen.gen_api_mix(ROOT, seed, out, replicas=3, requests=240)


class SeedTest(TempDirTest):
    def test_same_seed_gives_identical_inputs(self):
        a, _ = self.api(7, "a")
        b, _ = self.api(7, "b")
        self.assertEqual(tree_digest(a), tree_digest(b))
        gates = ["g1", "g2", "g3", "g4"]
        self.assertEqual(gen.gen_gate_batch(7, gates, 3), gen.gen_gate_batch(7, gates, 3))

    def test_other_seed_gives_other_inputs(self):
        a, _ = self.api(7, "a")
        b, _ = self.api(8, "b")
        with open(os.path.join(a, "requests.jsonl")) as fa, \
                open(os.path.join(b, "requests.jsonl")) as fb:
            self.assertNotEqual(fa.read(), fb.read())

    def test_every_block_holds_every_endpoint(self):
        rng = __import__("random").Random(3)
        copies = [{"copy": 0, "start": 0, "end": 1, "ledger_indexes": [5], "tx_hashes": ["H"]}]
        reqs = gen.make_requests(rng, copies, {"rA": 2, "rB": 1},
                                 {(("XRP", None), ("USD", "rI")): 1}, 5 * len(gen.ENDPOINTS))
        for i in range(0, len(reqs), len(gen.ENDPOINTS)):
            block = sorted(r["ep"] for r in reqs[i:i + len(gen.ENDPOINTS)])
            self.assertEqual(block, sorted(gen.ENDPOINTS))


    def test_every_copy_per_endpoint_in_r_blocks(self):
        rng = __import__("random").Random(5)
        copies = [{"copy": c, "start": c, "end": c, "ledger_indexes": [c], "tx_hashes": [str(c)]}
                  for c in range(3)]
        n = len(gen.ENDPOINTS)
        reqs = gen.make_requests(rng, copies, {"rA": 3, "rB": 1},
                                 {(("XRP", None), ("USD", "rI")): 1}, 6 * n)
        for i in range(0, len(reqs), 3 * n):
            for ep in gen.ENDPOINTS:
                if ep in gen.STATE_ENDPOINTS:
                    continue
                got = sorted(r["copy"] for r in reqs[i:i + 3 * n] if r["ep"] == ep)
                self.assertEqual(got, [0, 1, 2], ep)

    def test_picks_follow_fixture_counts(self):
        rng = __import__("random").Random(9)
        got = [gen.pick(rng, {"a": 9, "b": 1}) for _ in range(2000)]
        self.assertGreater(got.count("a"), 1700)
        self.assertGreater(got.count("b"), 100)


class ReplicaTest(TempDirTest):
    def test_replica_counts_and_disjoint_copies(self):
        fixtures = gen.load_fixtures(ROOT)
        n_tx = sum(len(l["transactions"]) for l in fixtures)
        out, m = self.api(11, "r")
        self.assertEqual(len(m["copies"]), 3)
        hashes, indexes = set(), set()
        for c in m["copies"]:
            self.assertEqual(c["ledgers"], len(fixtures))
            self.assertEqual(c["txs"], n_tx)
            with open(os.path.join(out, "replicas", f"copy_{c['copy']:05d}.jsonl")) as fh:
                ledgers = [gen.json.loads(l) for l in fh]
            self.assertEqual(len(ledgers), len(fixtures))
            self.assertEqual(sum(len(l["transactions"]) for l in ledgers), n_tx)
            hashes.update(t["hash"] for l in ledgers for t in l["transactions"])
            indexes.update(int(l["ledger_index"]) for l in ledgers)
        self.assertEqual(len(hashes), 3 * n_tx)
        self.assertEqual(len(indexes), 3 * len(fixtures))
        windows = sorted((c["start"], c["end"]) for c in m["copies"])
        for (_, e0), (s1, _) in zip(windows, windows[1:]):
            self.assertLess(e0, s1)

    def test_copy_zero_is_pristine(self):
        fixtures = gen.load_fixtures(ROOT)
        out, _ = self.api(11, "p")
        with open(os.path.join(out, "replicas", "copy_00000.jsonl")) as fh:
            ledgers = [gen.json.loads(l) for l in fh]
        self.assertEqual(ledgers, fixtures)


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(tail_percentile(list(range(99)))[0], 75.0)
        self.assertEqual(tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(tail_percentile(list(range(20)))[0], 50.0)
        self.assertEqual(tail_percentile(list(range(19))), (None, None))

    def test_percentile_interpolates(self):
        self.assertEqual(percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(percentile([5], 90), 5)
        self.assertEqual(percentile(list(range(101)), 90), 90)


if __name__ == "__main__":
    unittest.main()
