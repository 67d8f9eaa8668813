"""Tests of the benchmark's own code.

    python3 perfbench/test_perfbench.py

The compare rule runs on synthetic sets of runs; the Scala side (self-time
arithmetic, generator determinism) runs through
`perfbench.Main --selftest 1` after building; the query-suite fixture is
checked for byte-identical output per seed.
"""
import hashlib
import subprocess
import tempfile
import unittest
from pathlib import Path

import build
import compare
import fixture

HERE = Path(__file__).resolve().parent


def runs(values):
    return {seed: v for seed, v in enumerate(values)}


class VerdictRule(unittest.TestCase):
    parent = [100, 101, 99, 102, 98, 100, 101, 99, 100, 100]

    def test_clear_gain_wins_nine_of_ten_pairs(self):
        change = [v - 10 for v in self.parent]
        change[3] = 200  # one lost pair still leaves 9/10
        won, v = compare.verdict(runs(self.parent), runs(change), "lower", 0.2)
        self.assertAlmostEqual(won, 0.9)
        self.assertEqual(v, "improved")

    def test_gain_inside_the_parent_spread_is_not_claimed(self):
        change = [v - 1 for v in self.parent]
        won, v = compare.verdict(runs(self.parent), runs(change), "lower", 0.2)
        self.assertEqual(won, 1.0)
        self.assertEqual(v, "within bound")

    def test_ties_count_for_neither_side(self):
        won, _ = compare.verdict(runs(self.parent), runs(self.parent), "lower", 0.2)
        self.assertEqual(won, 0.0)

    def test_regression_beyond_the_bound(self):
        change = [v * 1.3 for v in self.parent]
        self.assertEqual(compare.verdict(runs(self.parent), runs(change), "lower", 0.2)[1],
                         "worse")

    def test_higher_is_better(self):
        change = [v * 1.3 for v in self.parent]
        self.assertEqual(compare.verdict(runs(self.parent), runs(change), "higher", 0.2)[1],
                         "improved")

    def test_wide_spread_is_unresolved(self):
        noisy = [50, 150, 60, 140, 100, 55, 145, 100, 70, 130]
        change = [v * 1.1 for v in noisy]
        change[0], change[1] = change[1], change[0]
        self.assertEqual(compare.verdict(runs(noisy), runs(change), "lower", 0.2)[1],
                         "unresolved")

    def test_per_layer_metric_without_bound(self):
        change = [v * 2 for v in self.parent]
        self.assertEqual(compare.verdict(runs(self.parent), runs(change), "lower", None)[1],
                         "moved")

    def test_spread_is_iqr_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, med, q3 = compare.quartiles(xs)
        self.assertAlmostEqual(compare.spread(xs), (q3 - q1) / med)


class FixtureDeterminism(unittest.TestCase):
    def digest(self, d):
        return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
                for f in sorted(Path(d).glob("*.parquet"))}

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=HERE) as a, \
                tempfile.TemporaryDirectory(dir=HERE) as b:
            fixture.write(a, 5)
            fixture.write(b, 5)
            self.assertEqual(self.digest(a), self.digest(b))
            self.assertEqual(len(self.digest(a)), 10)
            fixture.write(b, 6)
            self.assertNotEqual(self.digest(a), self.digest(b))


class ScalaSelfTest(unittest.TestCase):
    def test_selftest(self):
        classes = build.build()
        with tempfile.TemporaryDirectory(dir=HERE) as tmp:
            r = subprocess.run(
                ["java", f"-Djava.io.tmpdir={tmp}", "-cp",
                 f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
                 "--selftest", "1"], capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
