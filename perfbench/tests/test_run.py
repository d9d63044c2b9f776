"""Checks of BENCHMARK.json and of run.py's result handling.

Run with: python3 -m unittest discover -s perfbench/tests -p 'test_*.py'
(from the repository root), or through `python3 perfbench/run.py --self-test`.
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(os.path.dirname(HERE), "layers.json")) as f:
    LAYERS = json.load(f)

UNIT_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_/%.-")


class BenchmarkSpec(unittest.TestCase):

    def test_keys(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_names_and_units(self):
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in SPEC[k]]
        self.assertEqual(len(names), len(set(names)), "names are used once")
        for n in names:
            self.assertRegex(n, run.NAME_RE)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(0 < len(m["unit"]) <= 16 and set(m["unit"]) <= UNIT_CHARS, m)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_name_pattern(self):
        for ok in ("urls_per_s", "dom.parse_us", "a-b", "9x", "x" * 64):
            self.assertRegex(ok, run.NAME_RE)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "µs"):
            self.assertNotRegex(bad, run.NAME_RE)

    def test_setup_metric(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_every_layer_metric_names_what_it_moves(self):
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        workloads = {w["name"] for w in SPEC["workloads"]}
        self.assertEqual(set(LAYERS), {m["name"] for m in SPEC["per_layer"]})
        for name, p in LAYERS.items():
            self.assertTrue(set(p["moves"]) <= e2e, name)
            self.assertTrue(set(p["on"]) <= workloads and p["on"], name)
            self.assertTrue(set(p.get("little_on", [])) <= workloads, name)


class ResultValidation(unittest.TestCase):

    def result(self, trace=False, **over):
        section = SPEC["per_layer" if trace else "end_to_end"]
        res = {"correct": True, "attempted": 4, "failed": 0,
               "metrics": {m["name"]: 1.25 for m in section}}
        res.update(over)
        return res

    def test_accepts_a_complete_result(self):
        for trace in (False, True):
            final, problems = run.validate_result(self.result(trace), SPEC, trace)
            self.assertEqual(problems, [])
            m = next(iter(final["metrics"].values()))
            self.assertEqual(set(m), {"value", "unit"})

    def test_rejects_missing_or_extra_metrics(self):
        res = self.result()
        res["metrics"].pop("setup_s")
        self.assertTrue(run.validate_result(res, SPEC, False)[1])
        res = self.result()
        res["metrics"]["bogus"] = 1.0
        self.assertTrue(run.validate_result(res, SPEC, False)[1])

    def test_rejects_non_numbers_and_bad_counts(self):
        res = self.result()
        res["metrics"]["setup_s"] = float("nan")
        self.assertTrue(run.validate_result(res, SPEC, False)[1])
        res = self.result()
        res["metrics"]["setup_s"] = True
        self.assertTrue(run.validate_result(res, SPEC, False)[1])
        self.assertTrue(run.validate_result(self.result(attempted=0), SPEC, False)[1])
        self.assertTrue(run.validate_result(self.result(failed=-1), SPEC, False)[1])


if __name__ == "__main__":
    unittest.main()
