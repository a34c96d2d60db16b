"""Tests of the benchmark's own pieces.

    python3 -m unittest discover -s c4bench/tests
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class QuartileRule(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_single_value_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_percentile_interpolates(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 75), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile(list(reversed(xs)), 0), 1.0)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(3), 50.0)

    def test_end_to_end_uses_untraced_samples_only(self):
        raw = {"passes": [{"wall_s": 2.0, "traced": False},
                          {"wall_s": 9.0, "traced": True}],
               "ops": [{"op": "a", "build_s": 1.0, "exec_s": 0.0, "traced": False},
                       {"op": "b", "build_s": 0.5, "exec_s": 0.5, "traced": False},
                       {"op": "c", "build_s": 0.0, "exec_s": 4.0, "traced": False},
                       {"op": "a", "build_s": 50.0, "exec_s": 0.0, "traced": True}]}
        m, detail = stats.end_to_end(raw, 3.0)
        self.assertEqual(m["wall_s"], 2.0)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertAlmostEqual(m["query_geomean_s"], 4.0 ** (1 / 3))
        self.assertEqual(m["batch_p50_s"], 1.0)
        self.assertEqual(detail["batch_tail_percentile"], "p50")
        self.assertEqual(detail["samples"], 3)

    def test_per_layer_fills_absent_layers_with_zero(self):
        raw = {"passes": [{"wall_s": 2.0, "traced": False},
                          {"wall_s": 2.5, "traced": True}],
               "layers": [{"build.jobs": 7.0}], "layers_once": {"peak_rss_mb": 900.0}}
        m = stats.per_layer(raw, ["build.jobs", "q1.build_s", "peak_rss_mb",
                                  "trace.overhead_s", "error_rate"], 0.0)
        self.assertEqual(m, {"build.jobs": 7.0, "q1.build_s": 0.0, "peak_rss_mb": 900.0,
                             "trace.overhead_s": 0.5, "error_rate": 0.0})


class MetricNames(unittest.TestCase):
    def test_valid(self):
        for n in ["wall_s", "q184_pretrain_e2e.build_jobs", "shuffle.read_mb", "a-b", "9x"]:
            self.assertTrue(stats.valid_name(n), n)

    def test_invalid(self):
        for n in ["", "_lead", ".lead", "has space", "slash/name", "a" * 65, "é", None]:
            self.assertFalse(stats.valid_name(n), n)

    def test_benchmark_json_names_are_valid_and_unique(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for g in ("end_to_end", "per_layer") for m in spec[g]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(stats.valid_name(n) for n in names))


class OracleNormalization(unittest.TestCase):
    def test_nan_null_and_float_repr(self):
        self.assertEqual(oracle.normalize_value(float("nan")), "NaN")
        self.assertEqual(oracle.normalize_value(None), oracle.NULL)
        self.assertNotEqual(oracle.normalize_value(None), oracle.normalize_value("None"))
        self.assertEqual(oracle.normalize_value(0.1 + 0.2), "0.30000000000000004")
        self.assertNotEqual(oracle.normalize_value(0.1 + 0.2), oracle.normalize_value(0.3))
        self.assertEqual(oracle.normalize_value(1.0), "1.0")
        self.assertEqual(oracle.normalize_value(7), "7")

    def test_column_and_row_order_do_not_matter(self):
        got = [(1, "x", None), (2, "y", 1.5)]
        exp = [(1.5, 2, "y"), (None, 1, "x")]
        self.assertIsNone(oracle.compare(["a", "b", "c"], got, ["c", "a", "b"], exp))

    def test_differences_are_reported(self):
        self.assertIn("columns differ", oracle.compare(["a"], [(1,)], ["b"], [(1,)]))
        self.assertIn("rows", oracle.compare(["a"], [(1.0,)], ["a"], [(1.0000000000000002,)]))
        self.assertIn("rows", oracle.compare(["a"], [(math.nan,)], ["a"], [(None,)]))
        self.assertIn("1 rows vs oracle 2", oracle.compare(["a"], [(1,)], ["a"], [(1,), (1,)]))


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.tables(7, 0.001), gen.tables(7, 0.001)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = gen.tables(7, 0.001), gen.tables(8, 0.001)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        self.assertFalse(a["documents"].equals(b["documents"]))

    def test_shapes(self):
        t = gen.tables(1, 0.001)
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(t["documents"].num_rows, 500)
        self.assertEqual(t["nation"].num_rows, 25)
        texts = t["documents"].column("text").to_pylist()
        self.assertTrue(any(x.endswith(" dup") for x in texts))


if __name__ == "__main__":
    unittest.main()
