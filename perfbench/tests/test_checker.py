"""Tests of the benchmark's own checker: run with

    python3 -m unittest discover -s perfbench/tests

from the root of a graft checkout (the JVM checks compile the harness
on first use, like a benchmark run).
"""

import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_tail_refused_with_fewer_than_ten_beyond(self):
        # p50 of 19 samples is rank 10: only 9 samples lie beyond it
        with self.assertRaises(stats.TailRefused):
            stats.tail(list(range(19)), 0.5)
        with self.assertRaises(stats.TailRefused):
            stats.tail(list(range(99)), 0.9)

    def test_tail_reported_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(20)), 0.5), 9)
        self.assertEqual(stats.tail(list(range(100, 0, -1)), 0.9), 90)

    def test_fewest_samples_for_each_percentile(self):
        for pct, n in ((0.5, 20), (0.65, 29), (0.75, 40), (0.8, 50), (0.9, 100)):
            stats.tail(list(range(n)), pct)
            with self.assertRaises(stats.TailRefused):
                stats.tail(list(range(n - 1)), pct)

    def test_quartile_spread(self):
        # exclusive quartiles of 1..10 are 2.75, 5.5 and 8.25
        self.assertAlmostEqual(stats.quartile_spread([float(x) for x in range(1, 11)]), 1.0)
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0.0)


class ReferenceTest(unittest.TestCase):
    """Hand-computed distances, rounding, tie-breaks and generator determinism."""

    def test_scala_self_test(self):
        import run
        classpath = run.build()
        proc = subprocess.run(["java", "-cp", ":".join(classpath), "perfbench.SelfTest"],
                              capture_output=True, text=True, cwd=run.ROOT)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr)


if __name__ == "__main__":
    unittest.main()
