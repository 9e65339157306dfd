"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

`test_selftest` builds the program (about a minute the first time) and runs
the harness's self-test on a small corpus.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(".bench_build", "test-tmp")


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def same_bytes(a, b):
    return tree(a) == tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in tree(a))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def check_seeded(self, make):
        a, b, c = (os.path.join(TMP, x) for x in "abc")
        make(a, 7)
        make(b, 7)
        make(c, 8)
        self.assertTrue(tree(a))
        self.assertTrue(same_bytes(a, b), "same seed, different bytes")
        self.assertFalse(same_bytes(a, c), "different seed, same bytes")

    def test_tx_is_seeded(self):
        self.check_seeded(lambda d, s: gen.gen_tx(
            d, s, hours=30, tx_per_hour=5, authorities=50, pnl_accounts=4,
            file_hours=24, tick_hours=3))

    def test_corpus_is_seeded(self):
        self.check_seeded(lambda d, s: gen.gen_corpus(d, s, sf=0.0005))

    def test_tx_layout_and_ledger(self):
        d = os.path.join(TMP, "tx")
        gen.gen_tx(d, 3, hours=30, tx_per_hour=5, authorities=50,
                   pnl_accounts=4, file_hours=24, tick_hours=3)
        self.assertEqual(sorted(os.listdir(f"{d}/raw_transactions")),
                         ["2024-01-01.json", "2024-01-02.json"])
        self.assertEqual(len(os.listdir(f"{d}/ticks/raw_transactions")), 3)
        hours = [line.split("\t")[0] for line in open(f"{d}/ledger.tsv")]
        self.assertEqual(hours, sorted(hours))
        self.assertTrue(all(h <= "2024-01-02T08" for h in hours))


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
        self.assertEqual(spec["command"], ["python3", "perfbench/run.py"])
        names = [w["name"] for w in spec["workloads"]]
        self.assertTrue(set(names) <= set(run.INPUTS))
        metrics = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(metrics), len(set(metrics)))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        self.assertTrue(all(m["bound"] <= 0.25 for m in spec["end_to_end"]))


class CompareTest(unittest.TestCase):
    def test_rows_compare_by_name_unordered_with_float_tolerance(self):
        self.assertIsNone(run.compare_rows(
            ["a", "b"], [(1, 2.0), (2, None)],
            ["b", "a"], [(None, 2), (2.0 + 1e-12, 1)]))
        self.assertIsNotNone(run.compare_rows(
            ["a"], [(1.0,)], ["a"], [(1.001,)]))
        self.assertIsNotNone(run.compare_rows(
            ["a"], [(1,)], ["a"], [(1,), (1,)]))


class SelfTest(unittest.TestCase):
    def test_selftest(self):
        """q263 plans without BroadcastNestedLoopJoin in the benchmark's
        session, and the timed action keeps every output column."""
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "selftest",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"], r.stderr[-3000:])
        self.assertEqual(out["failed"], 0)


if __name__ == "__main__":
    unittest.main()
