"""Tests of the metric rules in perfbench/metrics.py.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as m  # noqa: E402


def sample(query, wall, ok=True, traced=False):
    return {"query": query, "wall_s": wall, "ok": ok, "traced": traced}


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertIsNone(m.percentile(list(range(99)), 0.9))
        self.assertEqual(m.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(m.percentile(list(range(19)), 0.5))
        self.assertEqual(m.percentile(list(range(20)), 0.5), 9)

    def test_min_samples_matches_the_rule(self):
        self.assertEqual(m.min_samples(0.9), 100)
        self.assertEqual(m.min_samples(0.5), 20)
        for p in (0.5, 0.9, 0.99):
            n = m.min_samples(p)
            self.assertIsNotNone(m.percentile([1.0] * n, p))
            self.assertIsNone(m.percentile([1.0] * (n - 1), p))

    def test_end_to_end_omits_unsupported_percentiles(self):
        e = m.end_to_end([sample("a", 0.1)] * 30, 3.0, {})
        self.assertIsNotNone(e["query_p50_s"])
        self.assertIsNone(e["query_p90_s"])


class FailureTest(unittest.TestCase):
    def run_with(self, samples, mismatched=()):
        return m.end_to_end(samples, 10.0, set(mismatched))

    def test_throwing_query_counts_as_failed_and_as_a_missed_sample(self):
        ok = [sample("a", 0.2)] * 100
        crash = [sample("b", 0.001, ok=False)] * 20
        e = self.run_with(ok + crash)
        self.assertEqual(e["attempted"], 120)
        self.assertEqual(e["failed"], 20)
        self.assertAlmostEqual(e["failed_frac"], 20 / 120)
        # the fast crashes stay in the sample as misses: they push the tail
        # up instead of reading as a speed-up
        self.assertEqual(e["query_p90_s"], m.MISS)
        self.assertEqual(e["query_p50_s"], 0.2)
        self.assertAlmostEqual(e["queries_per_s"], 100 / 10.0)

    def test_fingerprint_mismatch_counts_as_failed_and_as_a_missed_sample(self):
        samples = [sample("a", 0.2)] * 100 + [sample("bad", 0.1)] * 20
        e = self.run_with(samples, mismatched={"bad"})
        self.assertEqual(e["failed"], 20)
        self.assertAlmostEqual(e["failed_frac"], 20 / 120)
        self.assertEqual(e["query_p90_s"], m.MISS)
        self.assertAlmostEqual(e["queries_per_s"], 10.0)
        clean = self.run_with(samples)
        self.assertEqual(clean["failed"], 0)
        self.assertEqual(clean["query_p90_s"], 0.2)

    def test_mostly_failing_run_has_a_missed_median(self):
        e = self.run_with([sample("a", 0.2, ok=False)] * 30)
        self.assertTrue(math.isinf(e["query_p50_s"]))
        self.assertEqual(e["queries_per_s"], 0.0)


class TraceTest(unittest.TestCase):
    def test_overhead_compares_traced_and_untraced_runs_of_the_same_query(self):
        s = ([sample("a", 1.1, traced=True)] * 3 + [sample("a", 1.0)] * 3
             + [sample("b", 2.2, traced=True)] + [sample("c", 5.0)])
        self.assertAlmostEqual(m.overhead_frac(s), 0.1)

    def test_residual_and_idle_share(self):
        t = {"build_s": 0.1, "plan_s": 0.05, "exec_s": 0.5, "task_run_s": 1.0}
        self.assertAlmostEqual(m.residual_s(t, 0.7), 0.05)
        self.assertAlmostEqual(m.core_idle_frac(t, 4), 0.5)


if __name__ == "__main__":
    unittest.main()
