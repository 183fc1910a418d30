"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(25), (60, 10))
        self.assertEqual(stats.tail_percentile(100), (90, 10))
        self.assertEqual(stats.tail_percentile(1000), (99, 10))
        self.assertEqual(stats.tail_percentile(30), (66, 10))

    def test_every_sample_count_keeps_ten_beyond_once_possible(self):
        for n in range(20, 2000):
            pct, beyond = stats.tail_percentile(n)
            self.assertGreaterEqual(beyond, 10, n)
            # one percent higher would leave fewer than ten beyond
            if pct < 99:
                self.assertLess(n - stats.math.ceil((pct + 1) * n / 100), 10, n)

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(12), (50, 6))
        self.assertEqual(stats.tail_percentile(1), (50, 0))

    def test_tail_is_never_below_the_median(self):
        walls = [0.5, 0.1, 0.9, 0.3, 0.7, 0.2]
        ops = [{"iter": 1, "start_ms": 0, "end_ms": w * 1000} for w in walls]
        s = stats.op_summary(ops, len(ops))
        self.assertGreaterEqual(s["op_tail_s"], s["op_p50_s"])

    def test_tail_read_at_the_percentile_of_the_given_count(self):
        ops = [{"iter": i // 13, "start_ms": 0, "end_ms": 100 + i} for i in range(52)]
        self.assertEqual(stats.op_summary(ops, len(ops))["tail_pct"], 80)
        s = stats.op_summary(ops, 39)
        self.assertEqual((s["tail_pct"], s["tail_beyond"]), (74, 10))
        self.assertEqual(s["ops"], 52)

    def test_harrell_davis_percentile(self):
        self.assertAlmostEqual(stats.percentile([3.0] * 7, 50), 3.0)
        self.assertAlmostEqual(stats.percentile(range(1, 32), 50), 16.0, places=6)
        self.assertAlmostEqual(stats.percentile([2.0], 90), 2.0)
        values = [0.1 * i for i in range(40)]
        tails = [stats.percentile(values, p) for p in (50, 60, 70, 80, 90)]
        self.assertEqual(tails, sorted(tails))
        self.assertTrue(all(min(values) <= t <= max(values) for t in tails))

    def test_one_sample_crossing_a_neighbour_moves_the_median_little(self):
        # two clusters meeting at the median: nearest rank jumps across the
        # gap when one sample moves, the estimate moves a fraction of it
        low, high = [1.0] * 10, [2.0] * 10
        before = stats.percentile(low + high, 50)
        after = stats.percentile(low[:-1] + high + [2.0], 50)
        self.assertLess(after - before, 0.2)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(values, 50), 50)
        self.assertEqual(stats.nearest_rank(values, 99), 99)
        self.assertEqual(stats.nearest_rank([7], 50), 7)


class Rates(unittest.TestCase):
    def test_median_over_passes(self):
        def op(it, wall_s, rows):
            return {"iter": it, "start_ms": 0, "end_ms": wall_s * 1000, "rows": rows}
        ops = [op(1, 1, 10), op(1, 1, 10), op(2, 1, 30), op(3, 4, 40)]
        # per pass: 20 rows / 2 s, 30 / 1, 40 / 4
        self.assertEqual(stats.rate(ops, lambda o: o["rows"]), 10)
        self.assertEqual(stats.rate(ops, lambda o: 1), 1)
        self.assertEqual(stats.rate([], lambda o: 1), 0.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_from_their_parent_only(self):
        spans = [
            {"start_ms": 0, "end_ms": 100, "parent": -1},   # op
            {"start_ms": 10, "end_ms": 40, "parent": 0},    # build
            {"start_ms": 20, "end_ms": 30, "parent": 1},    # nested in build
            {"start_ms": 50, "end_ms": 90, "parent": 0},    # exec
        ]
        self.assertEqual(stats.self_times(spans), [30, 20, 10, 40])

    def test_self_times_sum_to_the_root(self):
        spans = [{"start_ms": 0, "end_ms": 10, "parent": -1},
                 {"start_ms": 1, "end_ms": 9, "parent": 0},
                 {"start_ms": 2, "end_ms": 3, "parent": 1},
                 {"start_ms": 4, "end_ms": 8, "parent": 1}]
        self.assertEqual(sum(stats.self_times(spans)), 10)

    def test_union_of_job_intervals(self):
        self.assertEqual(stats.covered_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.covered_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.covered_ms([]), 0)

    def test_attribution_to_ops(self):
        ops = [{"id": 0, "start_ms": 0, "end_ms": 10},
               {"id": 1, "start_ms": 20, "end_ms": 30}]
        self.assertEqual(stats.attribute(ops, [5, 15, 20, 31, -1]), [0, None, 1, None, None])


class LayerMetrics(unittest.TestCase):
    def test_driver_head_gap_and_tail(self):
        result = {
            "cores": 4,
            "ops": [{"id": 0, "kind": "query", "name": "q", "phase": "traced", "rows": 0,
                     "bytes": 0, "start_ms": 0.0, "end_ms": 100.0}],
            "jobs": [{"id": 1, "op": "0", "start_ms": 10, "end_ms": 30},
                     {"id": 2, "op": "0", "start_ms": 50, "end_ms": 70},
                     {"id": 3, "op": "", "start_ms": 80, "end_ms": 90}],
            "stages": [{"op": "0", "job": 1, "tasks": 4, "input_tasks": 0, "run_ms": 200,
                        "cpu_ns": 1e8, "gc_ms": 0, "deser_ms": 0, "shuffle_write_b": 0,
                        "shuffle_read_b": 0, "spill_b": 0, "input_b": 0}],
            "spans": [{"name": "op.query", "start_ms": 0, "end_ms": 100, "parent": -1, "op": 0},
                      {"name": "Queries.build", "start_ms": 0, "end_ms": 8, "parent": 0, "op": 0}],
            "query_executions": [],
        }
        m = stats.layer_metrics(result)
        self.assertAlmostEqual(m["driver.head_s"], 0.010)
        self.assertAlmostEqual(m["driver.gap_s"], 0.020)
        self.assertAlmostEqual(m["driver.tail_s"], 0.030)
        self.assertAlmostEqual(m["Queries.build_s"], 0.008)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertAlmostEqual(m["spark.core_busy_ratio"], 0.2 / (0.1 * 4))
        self.assertEqual(set(m), set(run.PER_LAYER))


class MetricNames(unittest.TestCase):
    def test_names_and_units_are_valid(self):
        for table in (run.END_TO_END, run.PER_LAYER):
            for name, unit in table.items():
                self.assertTrue(stats.valid_name(name), name)
                self.assertTrue(stats.valid_unit(unit), unit)
        self.assertFalse(stats.valid_name("bad name"))
        self.assertFalse(stats.valid_name(".leading_dot"))
        self.assertFalse(stats.valid_name("x" * 65))

    def test_benchmark_json_lists_what_the_runner_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
