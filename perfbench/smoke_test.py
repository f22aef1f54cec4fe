#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke_test.py

Runs every workload once at --scale tiny and checks that each metric named
in BENCHMARK.json is printed with its unit and that the output check
passes; then plants a sink that drops one microbatch and checks that the
run reports the failure (error_rate > 0). Takes a few minutes: each run
starts its own JVM, and the first one builds.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
ALL_WORKLOADS = ("feed_catchup_state", "feed_bulk_mysql", "diff_sync_check")


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace=0, *extra):
    r = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=1500)
    if r.returncode != 0:
        raise AssertionError("run.py failed (%d): %s" % (r.returncode,
                                                         r.stderr[-2000:]))
    lines = r.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) >= 3:
            printed[parts[0]] = (parts[1], parts[2])
    return printed, json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_printed(self, printed, result, metrics):
        self.assertEqual(set(result), {"correct", "attempted", "failed",
                                       "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            name = m["name"]
            self.assertIn(name, printed, "metric %s not printed" % name)
            value, unit = printed[name]
            self.assertEqual(unit, m["unit"], "unit of %s" % name)
            self.assertEqual(float(value), result["metrics"][name]["value"])
            self.assertEqual(result["metrics"][name]["unit"], m["unit"])

    def test_end_to_end_metrics_printed_with_units(self):
        spec = bench_spec()
        for w in ALL_WORKLOADS:
            with self.subTest(workload=w):
                printed, result = run(w)
                self.check_printed(printed, result, spec["end_to_end"])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(float(printed["error_rate"][0]), 0.0)

    def test_per_layer_metrics_printed_with_units(self):
        printed, result = run("feed_catchup_state", 1)
        self.check_printed(printed, result, bench_spec()["per_layer"])
        self.assertTrue(result["correct"])
        self.assertGreater(result["metrics"]["changefeed.jobs_per_batch"]["value"], 0)

    def test_skipped_batch_counts_as_failed(self):
        printed, result = run("feed_catchup_state", 0, "--defect", "skip_batch")
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertGreater(float(printed["error_rate"][0]), 0.0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
