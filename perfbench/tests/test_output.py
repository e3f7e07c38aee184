"""The result line: valid JSON for any metric value, names checked."""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

SPEC = [{"name": "total_s", "unit": "s"}, {"name": "cpu_s", "unit": "s"},
        {"name": "rss_mb", "unit": "MB"}]
NAMES = {m["name"] for m in SPEC}


class ResultLineTest(unittest.TestCase):
    def line(self, metrics, failed=0):
        failures = []
        out = run.result_line(SPEC, NAMES, metrics, 10, failed, failures)
        return json.loads(out, parse_constant=self.fail), failures

    def test_finite_values_pass_through(self):
        got, failures = self.line({"total_s": 1.25, "cpu_s": 3, "rss_mb": 900.5})
        self.assertEqual(got["metrics"]["total_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(got["metrics"]["cpu_s"]["value"], 3.0)
        self.assertTrue(got["correct"])
        self.assertEqual((got["attempted"], got["failed"]), (10, 0))
        self.assertEqual(failures, [])

    def test_nan_and_infinity_become_null_and_count_as_failed(self):
        got, failures = self.line({"total_s": math.nan, "cpu_s": math.inf,
                                   "rss_mb": -math.inf}, failed=1)
        for name in NAMES:
            self.assertIsNone(got["metrics"][name]["value"])
        self.assertEqual(got["failed"], 4)
        self.assertFalse(got["correct"])
        self.assertEqual(len(failures), 3)

    def test_missing_metric_is_null_and_failed(self):
        got, _ = self.line({"total_s": 1.0, "cpu_s": 2.0})
        self.assertIsNone(got["metrics"]["rss_mb"]["value"])
        self.assertEqual(got["failed"], 1)

    def test_the_line_has_no_bare_non_finite_tokens(self):
        out = run.result_line(SPEC, NAMES, {"total_s": math.nan, "cpu_s": math.inf,
                                            "rss_mb": 1.0}, 1, 0, [])
        for token in ("NaN", "Infinity"):
            self.assertNotIn(token, out)

    def test_metric_names_are_checked(self):
        bad = [{"name": "total s", "unit": "s"}]
        with self.assertRaises(ValueError):
            run.result_line(bad, {"total s"}, {"total s": 1.0}, 1, 0, [])
        with self.assertRaises(ValueError):
            run.result_line(SPEC, {"total_s"}, {"total_s": 1.0}, 1, 0, [])

    def test_benchmark_json_names_are_valid(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertRegex(m["name"], run.NAME)


if __name__ == "__main__":
    unittest.main()
