"""Tests of the benchmark's own arithmetic and declarations.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchstats as bs  # noqa: E402
import run  # noqa: E402


def span(id_, parent, name, start, end, trace=1):
    return {"id": id_, "parent": parent, "trace": trace, "name": name,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class MedianAndTail(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(bs.median([3, 1, 2]), 2)
        self.assertEqual(bs.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            bs.median([])

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(bs.percentile(xs, 0.9), 90.1)
        self.assertEqual(bs.percentile(xs, 0.0), 1)
        self.assertEqual(bs.percentile(xs, 1.0), 100)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(bs.tail(list(range(99))))          # p90 has 9.9 beyond
        self.assertEqual(bs.tail(list(range(100)))[0], 0.9)  # exactly 10 beyond
        self.assertEqual(bs.tail(list(range(1000)))[0], 0.99)
        self.assertEqual(bs.tail(list(range(10000)))[0], 0.999)

    def test_summary_states_sample_count(self):
        s = bs.summary([1.0] * 150)
        self.assertEqual(s["n"], 150)
        self.assertIn("p90", s)
        self.assertNotIn("p90", bs.summary([1.0, 2.0, 3.0]))

    def test_iqr_share_matches_quartiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(bs.iqr_share(xs), (q3 - q1) / statistics.median(xs))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertAlmostEqual(bs.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertAlmostEqual(bs.covered([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(bs.covered([], 0, 10), 0)

    def test_self_time_subtracts_children(self):
        spans = [
            span(0, -1, "pass", 0, 10),
            span(1, 0, "runtime.run", 0, 6),
            span(2, 1, "functions.cnf_extract", 1, 5),   # child of run
            span(3, 0, "runtime.resume", 6, 9.5),
        ]
        t = bs.self_times(spans)[1]
        self.assertAlmostEqual(t["root_s"], 10)
        self.assertAlmostEqual(t["coverage"], 0.95)
        self.assertAlmostEqual(t["self"]["runtime"], 2 + 3.5)
        self.assertAlmostEqual(t["self"]["functions"], 4)
        self.assertAlmostEqual(t["self"]["pass"], 0.5)

    def test_traces_are_kept_apart(self):
        spans = [span(0, -1, "pass", 0, 2, trace=1), span(1, 0, "ops.neardup", 0, 2, trace=1),
                 span(2, -1, "pass", 5, 9, trace=2), span(3, 2, "ops.neardup", 5, 7, trace=2)]
        t = bs.self_times(spans)
        self.assertAlmostEqual(t[1]["coverage"], 1.0)
        self.assertAlmostEqual(t[2]["coverage"], 0.5)


class Declarations(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_names_and_units_use_the_allowed_characters(self):
        names = [w["name"] for w in self.spec["workloads"]]
        for group in ("end_to_end", "per_layer"):
            for m in self.spec[group]:
                names.append(m["name"])
                self.assertRegex(m["unit"], bs.UNIT_RE, m["name"])
        for n in names:
            self.assertRegex(n, bs.NAME_RE)
        self.assertEqual(len(names), len(set(names)), "a name is used twice")

    def test_name_charset_rejects_bad_names(self):
        for bad in ("", "_x", "a b", "a/b", "x" * 65, "é"):
            self.assertIsNone(bs.NAME_RE.match(bad), bad)

    def test_every_declared_metric_has_a_source(self):
        e2e = {"setup_s", "pages_per_s", "cpu_s_per_kpage", "peak_heap_mb"}
        for m in self.spec["end_to_end"]:
            self.assertIn(m["name"], e2e)
        layer_names = set(run.LAYER_UNITS)
        for layer in bs.LAYERS:
            layer_names |= {layer + s for s in (".cpu_s", ".gc_s", ".shuffle_write_mb",
                                                ".spill_mb", ".tasks", ".self_share")}
        layer_names |= {"core.self_share", "trace.span_coverage", "trace.pages_per_s", "resume_s",
                        "asof_probes_per_s", "batch_ms_p50", "batch_ms_p90", "error_rate"}
        for m in self.spec["per_layer"]:
            self.assertIn(m["name"], layer_names)

    def test_workloads_are_runnable(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class FinalLine(unittest.TestCase):
    wanted = [{"name": "pages_per_s", "unit": "1/s"}]

    def test_a_failed_check_makes_the_run_incorrect(self):
        passes = [{"error": None}, {"error": "resumed shards 3 differ from the full run"}]
        out = run.final_object(passes, {"pages_per_s": (10.0, "1/s")}, self.wanted)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (2, 1))

    def test_clean_passes_are_correct_and_only_declared_metrics_print(self):
        out = run.final_object([{"error": None}], {"pages_per_s": (10.0, "1/s"), "x": (1, "s")},
                               self.wanted)
        self.assertTrue(out["correct"])
        self.assertEqual(list(out["metrics"]), ["pages_per_s"])

    def test_unit_mismatch_is_refused(self):
        with self.assertRaises(KeyError):
            run.final_object([{"error": None}], {"pages_per_s": (10.0, "s")}, self.wanted)


if __name__ == "__main__":
    unittest.main()
