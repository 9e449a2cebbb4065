"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s hbench/tests
"""

import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(40)]
        self.assertEqual(stats.tail(list(reversed(xs))), stats.tail(xs))

    def test_smallest_count_with_a_percentile_above_the_median(self):
        value, pct, n = stats.tail(range(20))
        self.assertEqual((value, pct, n), (9, 50.0, 20))

    def test_too_few_samples_falls_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(range(19)), (18, 100.0, 19))

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def span(self, sid, start, end, parent, name="s"):
        return (sid, name, start, end, parent, 1)

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([self.span(0, 1.0, 3.5, -1)])[0], 2.5)

    def test_children_are_subtracted(self):
        spans = [self.span(0, 0.0, 10.0, -1), self.span(1, 1.0, 3.0, 0), self.span(2, 5.0, 6.0, 0),
                 self.span(3, 1.5, 2.0, 1)]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[0], 7.0)  # grandchild 3 is inside child 1
        self.assertAlmostEqual(selfs[1], 1.5)
        self.assertAlmostEqual(selfs[3], 0.5)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, 0.0, 10.0, -1), self.span(1, 1.0, 4.0, 0), self.span(2, 3.0, 6.0, 0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 5.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, 2.0, 4.0, -1), self.span(1, 3.0, 9.0, 0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 1.0)


def raw_run(cycles, setup=((1.2, 3), (1.5, 4)), traced=False):
    return {"cores": 4, "setup_s": list(setup), "warmup_ops": 0, "warmup_errors": [],
            "inputs": {}, "cycles": [dict(c, traced=traced) for c in cycles]}


def cycle(ops, rows, secs=None, **extra):
    c = {"s": secs if secs is not None else sum(ops), "rows": rows, "gc_s": 0.1,
         "heap_peak_mb": 100.0, "counters": {}, "spans": [],
         "ops": [{"kind": "k%d" % i, "s": s, "rows": rows, "error": None}
                 for i, s in enumerate(ops)]}
    c.update(extra)
    return c


class EndToEndTest(unittest.TestCase):
    def test_rows_per_second_is_the_median_over_cycles(self):
        raw = raw_run([cycle([1.0, 1.0], 1000, secs=2.0), cycle([2.0, 2.0], 1000, secs=4.0),
                       cycle([0.5, 0.5], 1000, secs=1.0)])
        m = stats.end_to_end(raw)
        self.assertAlmostEqual(m["input_rows_per_s"][0], 500.0)
        self.assertEqual(m["input_rows_per_s"][2], 3)

    def test_latencies_and_setup(self):
        raw = raw_run([cycle([1.0, 3.0, 2.0], 10)])
        m = stats.end_to_end(raw)
        self.assertEqual(m["op_p50_s"][:3], (2.0, "s", 3))
        self.assertEqual(m["op_tail_s"][:3], (3.0, "s", 3))
        self.assertIn("max", m["op_tail_s"][3])
        self.assertEqual(m["setup_s"][:3], (1.2, "s", 7))

    def test_setup_is_the_lowest_slice_median(self):
        slices = [(5.0, 10), (3.0, 12), (8.0, 9), (2.0, 11), (7.0, 10)]
        self.assertEqual(stats.setup_time(slices), (2.0, 52))
        self.assertEqual(stats.setup_time([]), (0.0, 0))

    def test_failures_count_warmup_and_measured_ops(self):
        raw = raw_run([cycle([1.0, 1.0], 10)])
        raw["cycles"][0]["ops"][1]["error"] = "k1: output check failed"
        raw["warmup_ops"] = 2
        raw["warmup_errors"] = ["k0: boom"]
        attempted, failed, errors = stats.failures(raw)
        self.assertEqual((attempted, failed), (4, 2))


class PerLayerTest(unittest.TestCase):
    def test_overhead_is_traced_minus_untraced(self):
        plain = raw_run([cycle([1.0], 10, secs=10.0)])["cycles"]
        traced = raw_run([cycle([1.0], 10, secs=11.0)], traced=True)["cycles"]
        m = stats.per_layer(dict(raw_run([]), cycles=plain + traced))
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_share"], 0.1)

    def test_layer_numbers_from_spans_and_counters(self):
        spans = [[0, "op:k0", 0.0, 4.0, -1, 1], [1, "build_write", 0.0, 1.0, 0, 1],
                 [2, "decorate", 1.0, 2.0, 0, 1], [3, "exec", 2.5, 4.0, 0, 1]]
        counters = {"jobs.build_write": 3, "jobs.build_read": 2, "jobs.exec": 5,
                    "exec.task_run_ms": 8000.0, "dedup.candidate_pairs": 40.0,
                    "dedup.verified_pairs": 10.0}
        c = cycle([4.0], 10, secs=5.0, spans=spans, counters=counters)
        m = stats.cycle_layers(dict(c, traced=True), cores=4)
        self.assertAlmostEqual(m["engine.build_s"], 1.0)
        self.assertEqual(m["engine.build_jobs"], 5)
        self.assertEqual(m["engine.cache_read_jobs"], 2)
        self.assertAlmostEqual(m["span.op_self_s"], 0.5)
        self.assertAlmostEqual(m["span.glue_s"], 1.0)
        self.assertAlmostEqual(m["exec.task_busy_share"], 8.0 / (5.0 * 4))
        self.assertAlmostEqual(m["dedup.verify_yield"], 0.25)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_as_share_of_median(self):
        values = [10.0] * 4 + [11.0, 9.0] + [10.0] * 4
        q1, med, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / med)
        self.assertEqual(stats.spread([5.0] * 10), 0.0)


class BenchmarkFileTest(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json declares."""

    def setUp(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            self.bench = json.load(f)

    def test_end_to_end_names_and_units(self):
        m = stats.end_to_end(raw_run([cycle([1.0, 2.0], 10)]))
        declared = {e["name"]: e["unit"] for e in self.bench["end_to_end"]}
        self.assertEqual(declared, {k: v[1] for k, v in m.items()})

    def test_per_layer_names_and_units(self):
        runs = raw_run([cycle([1.0], 10)])["cycles"] + raw_run([cycle([1.0], 10)], traced=True)["cycles"]
        m = stats.per_layer(dict(raw_run([]), cycles=runs))
        declared = {e["name"]: e["unit"] for e in self.bench["per_layer"]}
        self.assertEqual(declared, {k: stats.unit_of(k) for k in m})


if __name__ == "__main__":
    unittest.main()
