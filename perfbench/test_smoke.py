#!/usr/bin/env python3
"""Smoke test of the benchmark itself: tiny inputs, one repetition.

Run from the root of a checkout:  python3 perfbench/test_smoke.py

For each workload of BENCHMARK.json, untraced and traced, it asserts that
the last stdout line is the result object, that every metric BENCHMARK.json
names is printed with its unit, that every correctness check the run
planned actually ran and passed, and that the human-readable report line
carries every end-to-end metric of the paper-level report with a unit.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark driver, for its metric tables)


def smoke(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    report_line = next(l for l in lines if l.startswith("perfbench report "))
    brief = json.loads(report_line[len("perfbench report "):])
    with open(brief["report"]) as fh:
        return json.loads(lines[-1]), json.load(fh), brief


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        result, report, brief = smoke(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report["failures"] or report["checks"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        # every planned check ran (none reported as "not run") and passed
        checks = report["checks"]
        self.assertTrue(checks)
        self.assertTrue(all(ok for _, ok, _ in checks), checks)
        self.assertFalse([c for c in checks if str(c[2]).startswith("not run")])
        if workload == "queries_mix":  # one DuckDB comparison per query run
            oracle = {c[0][len("oracle:"):] for c in checks if c[0].startswith("oracle:")}
            self.assertEqual(oracle, {op for _, op, _ in report["persisted_rdds"]})
        # the paper-level report prints every metric name with its unit
        for name, unit in run.REPORT_METRICS:
            self.assertIn(name, brief["metrics"])
            self.assertEqual(brief["metrics"][name][1], unit)
        if trace:
            self.assertTrue(os.path.exists(os.path.join(report["artifacts"], "spans.jsonl")))

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)


if __name__ == "__main__":
    unittest.main()
