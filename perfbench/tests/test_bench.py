"""The benchmark's own tests.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(24), 50.0)
        self.assertEqual(metrics.tail_percentile(25), 60.0)
        self.assertEqual(metrics.tail_percentile(39), 60.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(50), 80.0)
        self.assertEqual(metrics.tail_percentile(99), 80.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_every_workload_reports_its_highest_tail(self):
        ops = {"reserve_mc": 5, "curation_dedup": 5, "lakehouse_write": 18}
        want = {"reserve_mc": 60.0, "curation_dedup": 60.0, "lakehouse_write": 80.0}
        for name, cfg in run.WORKLOADS.items():
            n = cfg["min_passes"] * ops[name]
            self.assertEqual(run.ops_per_pass(name), ops[name], name)
            self.assertEqual(run.tail_of(name), metrics.tail_percentile(n), name)
            self.assertEqual(run.tail_of(name), want[name], name)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 75), 4)
        self.assertEqual(metrics.percentile([7], 90), 7)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "startMs": a, "endMs": b}

    def test_overlapping_and_overhanging_children(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 90, 120), self.span(5, 3, 25, 35)]
        s = metrics.self_times(spans)
        # children cover 10..50 and 90..100 of the parent's 0..100
        self.assertEqual(s[1], 50)
        self.assertEqual(s[2], 20)
        self.assertEqual(s[3], 20)
        self.assertEqual(s[4], 30)
        self.assertEqual(s[5], 10)

    def test_self_times_sum_to_root_duration_for_nested_spans(self):
        spans = [self.span(1, -1, 0, 10), self.span(2, 1, 1, 9), self.span(3, 2, 2, 4),
                 self.span(4, 2, 5, 8)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 10)


class ErrorCounting(unittest.TestCase):
    def test_throwing_and_wrong_ops_both_fail(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            os.makedirs(os.path.join(d, "policies"))
            with open(os.path.join(d, "policies", "policy_1.csv"), "w") as fh:
                fh.write("id,age,gender,smoking_status,occupation,policy_type,effective_date,"
                         "term,premium\nP-1,34.0,F,n,e,t,2020-01-15,3650.0,1\n"
                         "P-2,51.0,M,s,t,w,2018-06-01,7300.0,3\n")
            mean, _ = checks.policy_moments(os.path.join(d, "policies", "policy_1.csv"))
            self.assertAlmostEqual(mean, 100 / (math.e ** 0.1 - 1) + 100 / (math.e ** 0.05 - 1))
            wrong = checks.reserve_checker(d, 10000)
            ops = [
                {"kind": "simulate", "error": None, "value": {"file": "policy_1", "value": mean}},
                {"kind": "simulate", "error": "RuntimeException: boom", "value": None},
                {"kind": "simulate", "error": None, "value": {"file": "policy_1", "value": mean * 2}},
                {"kind": "gather", "error": None, "value": {"value": 3.0, "n": 2,
                                                            "partials": [1.0, 2.0]}},
                {"kind": "gather", "error": None, "value": {"value": 3.0, "n": 3,
                                                            "partials": [1.0, 2.0]}},
            ]
            attempted, failed = metrics.count_errors(ops, wrong)
        self.assertEqual((attempted, failed), (5, 3))

    def test_query_checker_fails_every_run_of_a_wrong_query(self):
        wrong = checks.query_checker({"q7_outer_join"})
        ops = [{"name": "q1_pricing_summary"}, {"name": "q7_outer_join"}, {"name": "q7_outer_join"}]
        self.assertEqual(metrics.count_errors(ops, wrong), (3, 2))


def file_digests(d):
    out = {}
    for base, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Inputs(unittest.TestCase):
    def test_one_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.generate(a, 7, 0.002, 2, 50)
            gen.generate(b, 7, 0.002, 2, 50)
            gen.generate(c, 8, 0.002, 2, 50)
            da, db, dc = (file_digests(x) for x in (a, b, c))
        self.assertEqual(len(da), 12)
        self.assertEqual(da, db)
        self.assertNotEqual(da, dc)

    def test_lakehouse_parameters_follow_the_seed(self):
        self.assertEqual(run.lakehouse_params(3), run.lakehouse_params(3))
        p = run.lakehouse_params(3)
        self.assertTrue(0 <= p["rD"] < p["mD"])
        self.assertEqual(len(set(p["langsA"].split(",") + p["langsB"].split(","))), 4)


class Definition(unittest.TestCase):
    def test_benchmark_json_matches_the_code(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
