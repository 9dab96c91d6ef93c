#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:
  python3 perfbench/test_perfbench.py
The last two tests build the harness (as run.py does) and start a JVM."""
import json
import re
import shutil
import sys
import unittest
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_expected_counts_equal_a_recount(self):
        c = benchlib.make_corpus(seed=7, tokens=5000, vocab=300, zipf_s=1.0)
        # letters-only runs, as the engine's [^\p{L}]+ tokenizer yields them
        recount = Counter(re.findall(r"[^\W\d_]+", c.text))
        self.assertEqual(recount, Counter(c.counts))
        self.assertEqual(sum(c.counts.values()), 5000)

    def test_same_seed_same_input(self):
        a = benchlib.make_corpus(3, 1000, 100, 1.1)
        b = benchlib.make_corpus(3, 1000, 100, 1.1)
        self.assertEqual((a.text, a.counts), (b.text, b.counts))
        self.assertNotEqual(a.text, benchlib.make_corpus(4, 1000, 100, 1.1).text)

    def test_lookups_hit_stored_words_or_miss_absent_ones(self):
        c = benchlib.make_corpus(5, 2000, 200, 1.0)
        for w, n in benchlib.lookups(c, 5, 30).items():
            self.assertEqual(n, c.counts.get(w, 0))
            self.assertTrue(n > 0 or w in c.absent)


class PercentileTest(unittest.TestCase):
    def test_sample_counts(self):
        self.assertEqual(benchlib.percentile(range(1, 101), 90), (90, 100, 10))
        self.assertEqual(benchlib.percentile(range(40, 0, -1), 75), (30, 40, 10))
        self.assertEqual(benchlib.percentile([5.0], 50), (5.0, 1, 0))
        self.assertEqual(benchlib.percentile([], 50), (0.0, 0, 0))


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.WORK.mkdir(parents=True, exist_ok=True)
        cls.classpath = run.build()
        cls.dir = run.WORK / "selftest"
        shutil.rmtree(cls.dir, ignore_errors=True)
        cls.dir.mkdir(parents=True)

    def harness(self, workload, extra):
        out = self.dir / f"{workload}.json"
        rc = run.java(self.classpath, "perfbench.Harness",
                      [f"workload={workload}", "seconds=0", "trace=0", "cores=2",
                       f"work={self.dir}", f"out={out}", *extra],
                      self.dir / f"{workload}.log", 2)
        self.assertEqual(rc, 0, (self.dir / f"{workload}.log").read_text()[-3000:])
        return json.loads(out.read_text())

    def test_listener_sees_the_shuffle_of_a_group_by(self):
        layers = self.harness("listener_selftest", [])["layers"]
        self.assertGreater(layers["spark.shuffle_write_mb"], 0)
        self.assertGreater(layers["spark.shuffle_read_mb"], 0)
        self.assertGreaterEqual(layers["spark.stages"], 2)
        self.assertGreaterEqual(layers["spark.tasks"], 4)

    def test_a_wrong_expected_count_is_a_failure(self):
        c = benchlib.make_corpus(9, 3000, 200, 1.0)
        (self.dir / "input.txt").write_text(c.text)
        wrong = dict(c.counts)
        word = next(iter(wrong))
        wrong[word] += 1
        benchlib.write_counts(self.dir / "expected.tsv", wrong)
        benchlib.write_counts(self.dir / "lookups.tsv", {word: c.counts[word]})
        checks = self.harness("wordcount_naive", [
            f"input={self.dir / 'input.txt'}", f"expected={self.dir / 'expected.tsv'}",
            f"lookups={self.dir / 'lookups.tsv'}"])["checks"]
        self.assertGreater(checks["failed"] / checks["attempted"], 0)
        self.assertIn("store equals the expected counts", checks["failures"])


if __name__ == "__main__":
    unittest.main()
