"""Tests for the benchmark's pure parts.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

The module-map coverage test builds the runner and asks it for the
registered rows; it is skipped when Spark's jars cannot be found.
"""
import json
import os
import unittest

import benchlib
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def batch(i, end, start_off=0, end_off=0):
    return {"id": i, "start_ms": end - 100, "end_ms": end, "rows": 0,
            "start_off": start_off, "end_off": end_off, "watermark_ms": 0,
            "durations": {"triggerExecution": 100}, "state": {}}


class AlertJoin(unittest.TestCase):
    def test_latency_is_batch_end_minus_window_end_per_alert(self):
        batches = [batch(1, 5_000), batch(2, 8_200)]
        alerts = [[1, 3_000, 2], [2, 6_000, 3]]
        self.assertEqual(benchlib.alert_latencies(alerts, batches, 0, 10_000),
                         [2_000, 2_000, 2_200, 2_200, 2_200])

    def test_only_windows_ending_inside_the_sample_range_count(self):
        batches = [batch(1, 5_000), batch(2, 8_200), batch(3, 11_000)]
        alerts = [[1, 3_000, 1], [2, 6_000, 1], [3, 9_000, 1]]
        self.assertEqual(benchlib.alert_latencies(alerts, batches, 3_000, 9_000),
                         [2_200, 2_000])

    def test_alert_from_an_unfinished_batch_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.alert_latencies([[7, 3_000, 1]], [batch(1, 5_000)], 0, 10_000)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 41))
        self.assertEqual(benchlib.percentile(xs, 0.75), 30)
        self.assertEqual(benchlib.percentile(xs, 0.50), 20)

    def test_ten_samples_must_lie_beyond_the_percentile(self):
        benchlib.percentile(range(40), 0.75)
        with self.assertRaises(benchlib.NotEnoughSamples):
            benchlib.percentile(range(39), 0.75)
        benchlib.percentile(range(20), 0.50)
        with self.assertRaises(benchlib.NotEnoughSamples):
            benchlib.percentile(range(19), 0.50)

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(benchlib.percentile(xs, 0.5), benchlib.percentile(sorted(xs), 0.5))


class FailedShare(unittest.TestCase):
    def call(self, kind, name, fp=None, error=None):
        return {"kind": kind, "name": name, "wall_s": 0.5, "cpu_s": 1.0,
                "fingerprint": fp, "error": error}

    def test_errors_and_wrong_fingerprints_count_as_failed(self):
        expected = {"a": [3, 1, 2], "b": [0, 0, 0]}
        calls = [self.call("build", "_build_x"),
                 self.call("build", "_build_y", error="boom"),
                 self.call("query", "a", [3, 1, 2]),
                 self.call("query", "a", [3, 1, 9]),
                 self.call("query", "b", [0, 0, 0]),
                 self.call("query", "c", [1, 1, 1])]
        failed = benchlib.check_calls(calls, expected)
        self.assertEqual([n for n, _ in failed], ["_build_y", "a", "c"])
        self.assertAlmostEqual(benchlib.failed_share(len(calls), len(failed)), 0.5)

    def test_batch_metrics_attempt_every_call(self):
        rows = ["a"] * 20
        raw = {"builds": [self.call("build", "_build_x")],
               "first": [self.call("query", r, [1, 2, 3]) for r in rows],
               "passes": [{"pass": p, "cpu_s": 2.0,
                           "calls": [self.call("query", r, [1, 2, 3]) for r in rows]}
                          for p in (1, 2)],
               "setup_s": [3.0, 1.0, 2.0], "input_rows": 4000, "rss_peak_mb": 900.0}
        e2e, attempted, failed, _ = benchlib.batch_metrics(raw, {"a": [1, 2, 3]})
        self.assertEqual((attempted, failed), (61, 0))
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertAlmostEqual(e2e["cpu_ms_per_kevent"], 500.0)
        self.assertAlmostEqual(e2e["cold_s"], 10.5)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.failed_share(0, 0)


class ModuleMap(unittest.TestCase):
    def test_uncovered_names(self):
        self.assertEqual(benchlib.uncovered(["a", "b", "c"], {"a": "graph", "b": "nope"}),
                         ["b", "c"])

    def test_every_registered_query_and_build_has_a_module(self):
        try:
            jars = run.spark_jars()
        except run.BenchError as e:
            self.skipTest(str(e))
        classes = run.build(jars)
        names = run.jvm(classes, jars, ["--mode", "list"], "list")
        with open(os.path.join(HERE, "modules.json")) as f:
            modules = json.load(f)
        registered = names["queries"] + names["builds"]
        self.assertGreater(len(registered), 200)
        self.assertEqual(benchlib.uncovered(registered, modules), [])
        with open(os.path.join(HERE, "surface_rows.txt")) as f:
            rows = [x.strip() for x in f if x.strip() and not x.startswith("#")]
        self.assertEqual(set(rows) - set(names["queries"]), set())
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            self.assertEqual(set(rows) - set(json.load(f)), set())


if __name__ == "__main__":
    unittest.main()
