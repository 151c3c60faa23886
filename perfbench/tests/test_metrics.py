"""Self-checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 0.9), 90)
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)
        self.assertEqual(metrics.percentile([], 0.5), 0.0)

    def test_p90_needs_100_samples(self):
        # p90 is resolved only with at least ten samples beyond it
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertTrue(metrics.tail_ok(100, 0.9))
        self.assertEqual(metrics.beyond(99, 0.9), 9)
        self.assertFalse(metrics.tail_ok(99, 0.9))
        self.assertFalse(metrics.tail_ok(20, 0.9))
        self.assertTrue(metrics.tail_ok(20, 0.5))


class SelfTimeTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time(self):
        # a 100-long span with children covering [10,30) and [20,50): 40 covered
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 50)]), 60)
        # children are clipped to the span and ones outside it ignored
        self.assertEqual(metrics.self_time((0, 100), [(-10, 10), (90, 120), (200, 300)]), 80)
        self.assertEqual(metrics.self_time((0, 100), []), 100)
        self.assertEqual(metrics.self_time((0, 100), [(0, 100), (0, 100)]), 0)


class LayerTest(unittest.TestCase):
    def test_fetch_jobs_count_for_the_storage_call(self):
        ms = 1_000_000
        # a 100 ms fetch request; its storage call returns a lazy plan at
        # 20 ms, and the job that plan causes runs until 90 ms
        raw = {
            "spans": [[1, 0, 1, "facade.fetch", 0, 100 * ms],
                      [2, 1, 1, "storage.fetch", 10 * ms, 20 * ms]],
            "jobs": [{"job": 0, "span": 2, "stages": [0], "start": 25 * ms, "end": 90 * ms}],
            "stages": [{"stage": 0, "tasks": 1, "run_ms": 60, "gc_ms": 0, "input_bytes": 300,
                        "shuffle_write_bytes": 0, "spill_bytes": 0, "module": "storage"}],
            "counts": [["storage.fetch_files", 24], ["fetch.returned_bytes", 100]],
            "extra": {}, "cores": 4, "traced_s": 0.1,
            "latency_ms": [[100.0, True], [90.0, False]],
        }
        layer = metrics._layer(raw)
        self.assertEqual(layer["facade.fetch_self_ms_p50"], 20.0)
        self.assertEqual(layer["storage.fetch_ms_p50"], 80.0)
        self.assertEqual(layer["storage.fetch_jobs_per_call"], 1.0)
        self.assertEqual(layer["storage.fetch_read_per_returned_byte"], 3.0)
        self.assertAlmostEqual(layer["trace.overhead_frac"], 100.0 / 90.0 - 1.0)


class RecordsPerSecondTest(unittest.TestCase):
    def test_closed_loop_uses_the_timed_phase(self):
        self.assertEqual(metrics.records_per_s(
            {"records": 500, "timed_s": 10.0, "service_s": 0.0}), 50.0)

    def test_open_loop_uses_the_service_time(self):
        # 10 requests of 100 records, each served in 0.5 s, one due per
        # second: the program's rate is 200 records/s, not the loop's 100
        self.assertEqual(metrics.records_per_s(
            {"records": 1000, "timed_s": 10.0, "service_s": 5.0}), 200.0)


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics a run prints."""

    def setUp(self):
        root = os.path.join(os.path.dirname(__file__), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         list(metrics.PER_LAYER))

    def test_shape(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
