#!/usr/bin/env python3
"""Tests of the benchmark's own logic.

    python3 perfbench/test_perfbench.py

The statistics and rollup tests are pure Python. The harness tests build
the harness (once per source state) and run its self-test workload on a
small local Spark session.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import rollup  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(rollup.tail_percentile(range(100)), (90, 89))
        self.assertEqual(rollup.tail_percentile(range(99))[0], 89)

    def test_highest_percentile_with_ten_beyond(self):
        p, v = rollup.tail_percentile(range(55))
        self.assertEqual(p, 81)
        self.assertEqual(sum(1 for x in range(55) if x > v), 10)
        self.assertEqual(rollup.tail_percentile(range(20))[0], 50)

    def test_capped_at_p90(self):
        self.assertEqual(rollup.tail_percentile(range(1000))[0], 90)

    def test_too_few_samples(self):
        self.assertIsNone(rollup.tail_percentile(range(10)))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(rollup.tail_percentile([1.0] * 50))


class SelfTimes(unittest.TestCase):
    def test_deepest_span_wins_and_parallel_children_count_once(self):
        spans = [(2, "exec", 10, 90), (4, "stage", 20, 80),
                 (5, "task", 20, 50), (5, "task", 30, 80)]
        got = rollup.self_times((0, 100), spans)
        self.assertEqual(got, {"self": 20, "exec": 20, "task": 60})
        self.assertAlmostEqual(sum(got.values()), 100)

    def test_gap_between_children_is_parent_self_time(self):
        spans = [(2, "build", 0, 30), (2, "exec", 40, 100),
                 (4, "stage", 50, 90), (5, "task", 60, 70)]
        got = rollup.self_times((0, 100), spans)
        self.assertEqual(got, {"build": 30, "self": 10, "exec": 20, "stage": 30, "task": 10})

    def test_children_are_clipped_to_the_root(self):
        got = rollup.self_times((10, 20), [(5, "task", 0, 15)])
        self.assertEqual(got, {"task": 5, "self": 5})

    def test_union(self):
        self.assertEqual(rollup.union_ms([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(rollup.union_ms([(0, 5)], 2, 4), 2)


def fake_result(samples, failures, **extra):
    r = {"setup_s": 1.0, "samples": samples, "failures": failures, "spans": []}
    r.update(extra)
    return r


def sample(op, t0, ms):
    return {"op": op, "pass": 0, "t0": t0, "t1": t0 + ms}


class FailureAccounting(unittest.TestCase):
    def test_throwing_job_counts_failed_and_posts_no_time(self):
        r = fake_result([sample("mr_run", 0, 1000), sample("mr_combine", 1000, 500)],
                        [{"op": "mr_run", "pass": 1, "error": "threw java.lang.IllegalStateException"}])
        v = rollup.verdict(r, {})
        self.assertEqual((v["attempted"], v["failed"], v["correct"]), (3, 1, False))
        self.assertIn("mr_run", v["failed_ops"])
        e = rollup.end_to_end(r, v)
        self.assertAlmostEqual(e["suite_s"], 1.5)

    def test_oracle_failure_drops_every_sample_of_the_query(self):
        r = fake_result([sample("q1", 0, 100), sample("q2", 100, 200), sample("q1", 300, 100)], [],
                        with_oracle=["q1", "q2"])
        v = rollup.verdict(r, {"q1": "FAIL q1: rows 3 vs 4", "q2": "PASS"})
        self.assertEqual((v["attempted"], v["failed"]), (3, 2))
        self.assertEqual([s["op"] for s in v["samples"]], ["q2"])

    def test_misclassified_query_is_failed(self):
        r = fake_result([sample("q7", 0, 100)], [], misclassified={"q7": "batch query started 1 StreamingQuery(s)"})
        v = rollup.verdict(r, {})
        self.assertEqual(v["failed"], 1)
        self.assertFalse(v["correct"])


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_what_the_rollup_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in b["per_layer"]}
        self.assertEqual(list(e2e), rollup.END_TO_END)
        self.assertEqual({**e2e, **layers}, rollup.UNITS)
        r = fake_result([sample("a", 0, 100)], [])
        self.assertEqual(list(rollup.end_to_end(r, rollup.verdict(r, {}))), rollup.END_TO_END)


class Harness(unittest.TestCase):
    """The harness's own accounting, on a live Spark session."""

    @classmethod
    def setUpClass(cls):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
                              "--seed", "1", "--seconds", "1", "--cores", "2"],
                             capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            raise AssertionError(out.stderr[-3000:])
        cls.r = json.loads(out.stdout.splitlines()[-1])

    def test_throwing_job_lands_in_failures_with_no_time(self):
        self.assertEqual([s["op"] for s in self.r["samples"]], ["ok"])
        failed = {f["op"]: f["error"] for f in self.r["failures"]}
        self.assertIn("deliberate", failed["throws"])
        self.assertIn("expected 11 rows", failed["wrong"])

    def test_batch_query_that_starts_a_stream_is_misclassified(self):
        st = self.r["selftest"]
        self.assertIn("started 1 StreamingQuery", st["batch_started_stream"])
        self.assertIn("started no StreamingQuery", st["stream_started_none"])
        self.assertEqual(st["batch_started_none"], "")


if __name__ == "__main__":
    unittest.main()
