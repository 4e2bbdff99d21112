"""Tests of the benchmark itself.

Run from the root of a graft checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke runs use tiny inputs (`--smoke`): each is one JVM start, a
Spark session and a pass or two, so the whole file takes a few minutes,
most of it the traced run's per-layer probe.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke(workload, trace):
    """Runs one smoke run; returns (result line, full record)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    record_path = next(l.split(": ", 1)[1] for l in lines
                       if l.startswith("record: "))
    with open(record_path) as f:
        return json.loads(lines[-1]), json.load(f)


class BenchmarkFile(unittest.TestCase):
    def test_shape_and_limits(self):
        b = load_benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")


class SmokeRuns(unittest.TestCase):
    """Every metric BENCHMARK.json names must reach both the closing JSON
    line and the full record, with its unit."""

    def check(self, result, record, section, listed):
        self.assertTrue(result["correct"], record["errors"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in listed})
        for m in listed:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIn(m["name"], record[section])
            self.assertEqual(record[section][m["name"]]["unit"], m["unit"])

    def test_untraced_runs_report_every_end_to_end_metric(self):
        b = load_benchmark()
        workloads = [w["name"] for w in b["workloads"]] + \
            ["interval_algebra", "training_data"]
        for w in workloads:
            with self.subTest(workload=w):
                result, record = smoke(w, trace=0)
                self.check(result, record, "end_to_end", b["end_to_end"])
                for key in ("seed", "cores", "nproc", "sizes"):
                    self.assertIn(key, record)

    def test_traced_run_reports_every_per_layer_metric_and_spans(self):
        b = load_benchmark()
        result, record = smoke(b["workloads"][-1]["name"], trace=1)
        self.check(result, record, "per_layer", b["per_layer"])
        with open(record["spans_file"]) as f:
            spans = [json.loads(l) for l in f]
        layers = {s["layer"] for s in spans}
        for layer in ("workload", "operation", "spark.job", "spark.stage",
                      "formats", "sources", "operators"):
            self.assertIn(layer, layers)


if __name__ == "__main__":
    unittest.main()
