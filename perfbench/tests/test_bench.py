"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import shutil
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import agent  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

TMP = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build", "test-tmp")


class SeedTest(unittest.TestCase):
    def test_agent_script_is_a_function_of_the_seed(self):
        self.assertEqual(agent.script(5), agent.script(5))
        self.assertNotEqual(agent.script(5), agent.script(6))
        calls = agent.script(5)["calls"]
        self.assertEqual(len({c["key"] for c in calls}), len(calls))

    def test_amplified_inputs_are_a_function_of_the_seed(self):
        shutil.rmtree(TMP, ignore_errors=True)
        try:
            for kind in ["base", "amplified"]:
                a = gen.generate(os.path.join(TMP, f"{kind}-a"), 5, kind)
                b = gen.generate(os.path.join(TMP, f"{kind}-b"), 5, kind)
                c = gen.generate(os.path.join(TMP, f"{kind}-c"), 6, kind)
                self.assertEqual(a["fingerprint"], b["fingerprint"], kind)
                self.assertEqual(a["planted"], b["planted"], kind)
                self.assertNotEqual(a["fingerprint"], c["fingerprint"], kind)
                # the table sizes do not depend on the seed (the planted pair
                # table's edge count does)
                self.assertEqual({t: n for t, n in a["rows"].items() if t != "pairs"},
                                 {t: n for t, n in c["rows"].items() if t != "pairs"}, kind)
        finally:
            shutil.rmtree(TMP, ignore_errors=True)

    def test_orders_are_amplified_from_base(self):
        shutil.rmtree(TMP, ignore_errors=True)
        try:
            gen.generate(os.path.join(TMP, "base"), 5, "base")
            gen.generate(os.path.join(TMP, "amplified"), 5, "amplified")
            b = pq.read_table(os.path.join(TMP, "base", "orders.parquet")).to_pydict()
            s = pq.read_table(os.path.join(TMP, "amplified", "orders.parquet")).to_pydict()
            n = len(b["o_orderkey"])
            self.assertEqual(len(s["o_orderkey"]), gen.ORDERS_X * n)
            for c in range(gen.ORDERS_X):
                for i in range(0, n, 997):
                    j = c * n + i
                    self.assertEqual(s["o_orderkey"][j], b["o_orderkey"][i] + c * gen.N_ORDERS)
                    for col in ["o_custkey", "o_orderstatus", "o_orderpriority"]:
                        self.assertEqual(s[col][j], b[col][i])
                    self.assertLessEqual(abs(s["o_totalprice"][j] / b["o_totalprice"][i] - 1), 0.0501)
                    self.assertLessEqual(abs((s["o_orderdate"][j] - b["o_orderdate"][i]).days), 15)
        finally:
            shutil.rmtree(TMP, ignore_errors=True)


def span(i, parent, layer, kind, start, end):
    return {"id": i, "parent": parent, "layer": layer, "kind": kind, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    # api op [0,100]: build [0,40] with a sources child [10,30]; force [40,100]
    # stats op [200,260]: build [200,210], force [210,260] with two jobs
    SPANS = [
        span(0, -1, "api", "op", 0, 100),
        span(1, 0, "api", "build", 0, 40),
        span(2, 1, "sources", "build", 10, 30),
        span(3, 0, "api", "force", 40, 100),
        span(4, -1, "operators.stats", "op", 200, 260),
        span(5, 4, "operators.stats", "build", 200, 210),
        span(6, 4, "operators.stats", "force", 210, 260),
    ]
    STATS = {
        "2": {"jobs": 1, "tasks": 2, "task_ms": 15, "max_task_ms": 9, "job_intervals": [[12, 28]]},
        "3": {"jobs": 1, "tasks": 4, "task_ms": 100, "max_task_ms": 30, "job_intervals": [[50, 90]]},
        "6": {"jobs": 2, "tasks": 8, "task_ms": 160, "max_task_ms": 40, "shuffle_write_b": 512,
              "job_intervals": [[215, 235], [230, 250]]},
    }

    def test_self_wall_and_driver_time(self):
        m = layers.layer_metrics(self.SPANS, self.STATS)
        api, src, st = m["api"], m["sources"], m["operators.stats"]
        self.assertEqual(api["wall_ms"], 100)      # nested same-layer spans count once
        self.assertEqual(api["self_ms"], 80)       # 100 minus the 20 ms sources child
        self.assertEqual(api["driver_ms"], 40)     # 80 self minus the 40 ms job in force
        self.assertEqual(src["self_ms"], 20)
        self.assertEqual(src["driver_ms"], 4)      # 20 minus the 16 ms job
        self.assertEqual(st["self_ms"], 60)
        self.assertEqual(st["driver_ms"], 25)      # overlapping jobs cover 215-250
        self.assertEqual((api["calls"], src["calls"], st["calls"]), (1, 0, 1))
        self.assertEqual((api["jobs"], api["tasks"], api["task_ms"], api["max_task_ms"]), (1, 4, 100, 30))
        self.assertEqual((st["jobs"], st["shuffle_write_b"], st["max_task_ms"]), (2, 512, 40))

    def test_metrics_are_per_traced_pass(self):
        m = layers.layer_metrics(self.SPANS, self.STATS, n_passes=2)
        self.assertEqual(m["api"]["self_ms"], 40)
        self.assertEqual(m["api"]["max_task_ms"], 30)

    def test_metric_names_are_unique(self):
        names = [n for n, _ in layers.metric_names()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(layers.percentile(xs, 0.9, min_beyond=10), 90.5, delta=0.01)
        self.assertAlmostEqual(layers.percentile(xs, 0.5), 50.5, places=3)
        with self.assertRaises(ValueError):
            layers.percentile(xs[:99], 0.9, min_beyond=10)
        with self.assertRaises(ValueError):
            layers.percentile(xs[:20], 0.9, min_beyond=10)

    def test_estimate_moves_smoothly_when_neighbours_swap(self):
        ops = [0.5, 0.7, 0.9, 1.2, 2.2, 2.4, 2.5, 2.9, 3.5]
        swapped = [0.5, 0.7, 0.9, 1.2, 2.45, 2.4, 2.5, 2.9, 3.5]  # one op slower, rank changes
        self.assertAlmostEqual(layers.percentile(ops, 0.5), layers.percentile(swapped, 0.5), delta=0.1)

    def test_failed_calls_are_never_fast_samples(self):
        xs = [0.1] * 95 + [math.inf] * 15
        self.assertEqual(layers.percentile(xs, 0.9, min_beyond=10), math.inf)
        self.assertAlmostEqual(layers.percentile(xs, 0.5), 0.1)


if __name__ == "__main__":
    unittest.main()
