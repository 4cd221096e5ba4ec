"""Self-tests of the benchmark's own logic (no JVM, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def load_spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 40), 2)

    def test_empty_rejected(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(2000), 99)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))


class SpreadTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 12.0, 9.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_series_has_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class BoundTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertAlmostEqual(stats.worse_by(1.0, 1.2, "lower"), 0.2)
        self.assertTrue(stats.within_bound(1.0, 1.2, "lower", 0.25))
        self.assertFalse(stats.within_bound(1.0, 1.3, "lower", 0.25))
        self.assertTrue(stats.within_bound(1.0, 0.5, "lower", 0.0))

    def test_higher_is_better(self):
        self.assertAlmostEqual(stats.worse_by(100.0, 80.0, "higher"), 0.2)
        self.assertFalse(stats.within_bound(100.0, 70.0, "higher", 0.25))
        self.assertTrue(stats.within_bound(100.0, 130.0, "higher", 0.0))

    def test_unknown_direction(self):
        with self.assertRaises(ValueError):
            stats.worse_by(1.0, 1.0, "sideways")


def fake_samples(names, traced=False):
    out = {}
    for n in names:
        out[n] = {"unit": "s", "values": [1.0, 2.0, 3.0]}
        if traced:
            out["traced." + n] = {"unit": "s", "values": [2.0, 3.0, 4.0]}
    return out


class OutputShapeTest(unittest.TestCase):
    def test_untraced_reports_exactly_the_end_to_end_set(self):
        spec = load_spec()
        samples = fake_samples(["setup_s", "build_s", "serve_s", "cpu_s", "op_ms"])
        m = run.reduce_metrics(spec, samples, {}, 10, 0, trace=False)
        self.assertEqual(list(m), [x["name"] for x in spec["end_to_end"]])
        self.assertEqual(m["build_s"], (2.0, "s"))
        for x in spec["end_to_end"]:
            self.assertEqual(m[x["name"]][1], x["unit"])

    def test_traced_reports_exactly_the_per_layer_set(self):
        spec = load_spec()
        samples = fake_samples(["setup_s", "build_s", "serve_s", "cpu_s", "op_ms", "jvm.gc_s"], traced=True)
        info = {"loadavg_start": 1.5, "loadavg_end": 2.5, "host_cores": 4}
        m = run.reduce_metrics(spec, samples, info, 8, 2, trace=True)
        self.assertEqual(list(m), [x["name"] for x in spec["per_layer"]])
        self.assertEqual(m["overhead.build_s"], (1.0, "s"))
        self.assertEqual(m["jvm.gc_s"][0], 2.0)  # the untraced rounds' value
        self.assertEqual(m["op_p50_ms"], (2.0, "ms"))  # from the op_ms samples
        self.assertEqual(m["failed_ops"][0], 0.25)
        self.assertEqual(m["jvm.host_cores"][0], 4)
        self.assertIsNone(m["kernel.build_s"][0])  # not exercised here

    def test_result_line(self):
        metrics = {"setup_s": (0.81, "s"), "kernel.build_s": (None, "s")}
        line = run.result_line(True, 12, 0, metrics)
        self.assertNotIn("\n", line)
        obj = json.loads(line)
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(obj["correct"], True)
        self.assertEqual(obj["attempted"], 12)
        self.assertEqual(obj["metrics"]["setup_s"], {"value": 0.81, "unit": "s"})
        self.assertEqual(obj["metrics"]["kernel.build_s"], {"value": 0.0, "unit": "s"})


class SpecTest(unittest.TestCase):
    def test_contract_limits(self):
        spec = load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(spec["per_layer"]), 128)
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class CompareFramesTest(unittest.TestCase):
    def test_order_insensitive_and_exact(self):
        import pandas as pd
        a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
        b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
        self.assertIsNone(run.compare_frames(a, b))
        c = pd.DataFrame({"a": ["x", "y"], "b": [1, 3]})
        self.assertIn("column b", run.compare_frames(a, c))
        self.assertIn("rows", run.compare_frames(a, b.head(1)))
        self.assertIn("columns", run.compare_frames(a, b.rename(columns={"b": "c"})))


if __name__ == "__main__":
    unittest.main()
