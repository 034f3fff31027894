"""Self-test of the benchmark's summariser.

    python3 -m unittest perfbench/test_summary.py
"""

from __future__ import annotations

import os
import sys
import types
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from summary import (  # noqa: E402
    LAYER_OF_MODULE,
    LAYERS,
    TIMED_SET,
    TIMED_PASSES,
    WORKLOADS,
    best_latencies,
    layer_of,
    tail_percentile,
    timed_set,
    workload_queries,
)


def fake_query(module: str, name: str):
    fn = types.FunctionType((lambda: None).__code__, {}, name)
    fn.__module__ = f"spark_tensors_spark.queries.{module}"
    return fn


class TailPercentile(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        self.assertEqual(tail_percentile(range(1, 101)), (90, 90, 10))

    def test_highest_percentile_keeps_ten_beyond(self):
        xs = [float(i) for i in range(1, 31)]
        pct, value, beyond = tail_percentile(xs)
        self.assertEqual((pct, value, beyond), (66, 20.0, 10))
        # one percentile higher would leave fewer than ten beyond
        self.assertEqual(sum(1 for x in xs if x > xs[21 - 1]), 9)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(tail_percentile(xs), tail_percentile(sorted(xs)))

    def test_few_samples_fall_back_to_median_with_true_count(self):
        self.assertEqual(tail_percentile([3.0, 1.0, 2.0]), (50, 2.0, 1))

    def test_ties_are_not_counted_beyond(self):
        xs = [1.0] * 50 + [2.0] * 5
        self.assertEqual(tail_percentile(xs), (50, 1.0, 5))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            tail_percentile([])


class BestLatencies(unittest.TestCase):
    @staticmethod
    def ex(name, pass_no, lat):
        return {"name": name, "pass": pass_no, "latency_s": lat}

    def test_lowest_per_query_over_timed_passes(self):
        execs = [self.ex("b", 0, 2.0), self.ex("a", 0, 1.5),
                 self.ex("b", 1, 1.8), self.ex("a", 1, 1.7)]
        self.assertEqual(best_latencies(execs), {"a": 1.5, "b": 1.8})

    def test_warm_up_and_later_passes_are_left_out(self):
        execs = [self.ex("a", -1, 0.1), self.ex("a", 0, 1.0),
                 self.ex("a", TIMED_PASSES, 0.2)]
        self.assertEqual(best_latencies(execs), {"a": 1.0})

    def test_failed_executions_are_skipped(self):
        execs = [self.ex("a", 0, None), self.ex("a", 1, 3.0),
                 self.ex("b", 0, None)]
        self.assertEqual(best_latencies(execs), {"a": 3.0})


class Attribution(unittest.TestCase):
    def test_module_to_layer(self):
        expect = {
            "kg": "kg",
            "mlops": "train",
            "tensor_queries": "train",
            "graph_queries": "operators",
            "temporal_queries": "operators",
            "pipeline_queries": "pipeline",
            "streaming_queries": "streaming",
        }
        for module, layer in expect.items():
            self.assertEqual(layer_of(fake_query(module, "q")), layer)
        self.assertEqual(set(LAYER_OF_MODULE.values()), set(LAYERS))

    def test_every_workload_module_has_a_layer(self):
        for modules in WORKLOADS.values():
            for m in modules:
                self.assertIn(m, LAYER_OF_MODULE)

    def test_non_registry_function_is_rejected(self):
        with self.assertRaises(ValueError):
            layer_of(len)

    def test_workload_takes_whole_modules_only(self):
        reg = {
            "a": fake_query("kg", "a"),
            "b": fake_query("relational", "b"),
            "c": fake_query("mlops", "c"),
            "d": fake_query("pipeline_queries", "d"),
        }
        self.assertEqual(list(workload_queries(reg, "kg-doc")), ["a", "c", "d"])
        self.assertEqual(list(workload_queries(reg, "events-stream")), [])

    def test_timed_set_measures_every_layer_of_its_workload(self):
        for workload, modules in WORKLOADS.items():
            self.assertEqual(set(TIMED_SET[workload]),
                             {LAYER_OF_MODULE[m] for m in modules})

    def test_timed_set_checks_module_and_layer(self):
        # a registry holding the listed names, each in a module of its layer
        module = {"kg": "kg", "train": "mlops", "operators": "graph_queries",
                  "pipeline": "pipeline_queries"}
        reg = {n: fake_query(module[layer], n)
               for layer, names in TIMED_SET["kg-doc"].items() for n in names}
        self.assertEqual(list(timed_set(reg, "kg-doc")), sorted(reg))
        kg_name = TIMED_SET["kg-doc"]["kg"][0]
        wrong_layer = dict(reg, **{kg_name: fake_query("mlops", kg_name)})
        with self.assertRaises(ValueError):
            timed_set(wrong_layer, "kg-doc")
        # an operators query, but from a module outside kg-doc
        op_name = TIMED_SET["kg-doc"]["operators"][0]
        wrong_module = dict(
            reg, **{op_name: fake_query("temporal_queries", op_name)})
        with self.assertRaises(ValueError):
            timed_set(wrong_module, "kg-doc")


if __name__ == "__main__":
    unittest.main()
