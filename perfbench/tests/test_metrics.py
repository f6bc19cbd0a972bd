"""Unit tests of the benchmark's metric arithmetic.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # p90 = 90, ten samples (91..100) above
        self.assertEqual(metrics.tail_percentile(xs, 90), 90)
        self.assertIsNone(metrics.tail_percentile(xs[:99], 90))

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 9
        self.assertIsNone(metrics.tail_percentile(xs, 90))
        self.assertEqual(metrics.tail_percentile(xs + [3.0], 90), 1.0)

    def test_empty(self):
        self.assertIsNone(metrics.tail_percentile([], 50))

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(metrics.percentile([1, 2], 50), 1)


class NameGrammar(unittest.TestCase):
    def test_valid(self):
        for n in ("pass_s", "spark.shuffle.write_mb", "ps.MfTrainer.iter_s", "a-b.c_9"):
            self.assertTrue(metrics.valid_name(n), n)

    def test_invalid(self):
        for n in ("", "_x", ".x", "a b", "a/b", "x" * 65, "latency(ms)"):
            self.assertFalse(metrics.valid_name(n), n)

    def test_benchmark_json_names(self):
        with open(BENCHMARK) as f:
            b = json.load(f)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
            [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)

    def test_layer_metrics_match_benchmark_json(self):
        """Every per-layer metric the traced run computes is declared, and
        every declared one is computed (plus the tracing overhead)."""
        with open(BENCHMARK) as f:
            declared = {m["name"] for m in json.load(f)["per_layer"]}
        p = {"label": "pass1", "ops": [], "wall_s": 1.0, "start_ms": 0, "end_ms": 1000,
             "gc_s": 0.0}
        computed = set(metrics.layer_metrics(p, {}, [], 4, 5, 5)) | {"trace.overhead_ratio"}
        self.assertEqual(computed, declared)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}

    def test_children_subtract_once_where_they_overlap(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60), self.span(4, 1, 80, 90)]
        s = metrics.self_times(spans)
        self.assertEqual(s[1], 100 - 50 - 10)
        self.assertEqual(s[2], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 5, 15), self.span(3, 1, 18, 30)]
        self.assertEqual(metrics.self_times(spans)[1], 10 - 5 - 2)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 0, 10), self.span(3, 2, 2, 4)]
        s = metrics.self_times(spans)
        self.assertEqual((s[1], s[2], s[3]), (0, 8, 2))

    def test_self_times_sum_to_root_duration_when_nested(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 60), self.span(3, 1, 60, 100),
                 self.span(4, 2, 10, 20), self.span(5, 3, 70, 95)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 100)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
