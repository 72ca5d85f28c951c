"""The benchmark's own tests; no JVM needed.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import diff  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorsAreSeeded(unittest.TestCase):
    def _twice(self, make, seed):
        out = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                facts = make(seed, d)
                out.append((gen.digest(d), json.dumps(facts, sort_keys=True)))
        return out

    def check(self, make):
        a, b = self._twice(make, 7)
        self.assertEqual(a, b, "same seed, different inputs or expected counts")
        c, _ = self._twice(make, 8)
        self.assertNotEqual(a[0], c[0], "the seed does not reach the inputs")

    def test_estate(self):
        self.check(gen.estate)

    def test_readings(self):
        self.check(lambda s, d: gen.readings(s, d, 5000))

    def test_docs(self):
        self.check(lambda s, d: gen.docs(s, d, 200, 4, 20))

    def test_readings_expected_counts(self):
        with tempfile.TemporaryDirectory() as d:
            exp = gen.readings(3, d, 20000)
        self.assertEqual(sum(exp["windows"].values()), exp["valid"])
        # about ¾ of the sensors are whitelisted and 2 % of payloads truncated
        self.assertAlmostEqual(exp["valid"] / 20000, 0.75 * 0.98, delta=0.03)

    def test_planted_pairs_respect_the_partner_rule(self):
        with tempfile.TemporaryDirectory() as d:
            exp = gen.docs(5, d, 300, 6, 25)
        self.assertTrue(exp["planted"])
        for new, src in exp["planted"]:
            self.assertEqual(new % 5, 4)
            self.assertTrue(src % 5 != 4 or src < new)


class Percentiles(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond_it(self):
        self.assertFalse(stats.p95_supported(199))
        self.assertTrue(stats.p95_supported(200))
        self.assertEqual(stats.P95_MIN_SAMPLES, 200)

    def test_percentile(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 95), 95.05)
        self.assertIsNone(stats.percentile([], 50))

    def test_p95_is_printed_only_where_the_samples_allow(self):
        def run(n):
            res = {"ops": [{"name": "q", "ms": float(i), "units": 1.0, "error": None}
                           for i in range(1, n + 1)], "heap_live_mb": 10.0}
            return stats.end_to_end(res, {}, 1.0, 1.0)
        few, many = run(199), run(200)
        self.assertNotIn(stats.P95, few["metrics"])
        self.assertEqual(few["samples"], {"latency": 199, "p95_supported": False})
        self.assertAlmostEqual(many["metrics"][stats.P95]["value"], 190.05)
        self.assertEqual(set(few["metrics"]), set(stats.END_TO_END))


class Metrics(unittest.TestCase):
    def test_names(self):
        for name in list(stats.END_TO_END) + list(stats.PER_LAYER):
            self.assertRegex(name, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_benchmark_json_matches(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, stats.PER_LAYER)

    def test_wrong_query_fails_its_ops(self):
        res = {"ops": [{"name": "a", "ms": 10.0, "units": 1.0, "error": None},
                       {"name": "b", "ms": 30.0, "units": 1.0, "error": None}],
               "heap_live_mb": 5.0}
        out = stats.end_to_end(res, {"failed": {"b": "values differ"}}, 2.0, 1.0)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (2, 1))
        self.assertEqual(out["metrics"]["success_rate"]["value"], 0.5)
        self.assertEqual(out["metrics"]["latency_p50_ms"]["value"], 10.0)
        self.assertAlmostEqual(out["metrics"]["throughput"]["value"], 1 / 0.04)


class Diff(unittest.TestCase):
    def test_plan_changes(self):
        a = {"q1/action": "aa", "q2/action": "bb"}
        b = {"q1/action": "aa", "q2/action": "cc", "q3/action": "dd"}
        self.assertEqual(diff.plan_changes(a, b),
                         [("q2/action", "bb", "cc"), ("q3/action", None, "dd")])
        self.assertEqual(diff.plan_changes(a, a), [])


if __name__ == "__main__":
    unittest.main()
