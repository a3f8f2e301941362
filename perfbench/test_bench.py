#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_bench.py

Each workload runs once untraced with one planted fault, which must count
as exactly one failure, and once traced in a short smoke mode, which must
pass its checks. Both check every metric name and unit against
BENCHMARK.json. About nine minutes on a 4-core host.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

# short smoke settings; a curation batch takes seconds, so its windows
# are longer, to hold one
SMOKE = {w: ["--seed", "3", "--seconds", "8"] for w in metrics.WORKLOADS}
SMOKE["curation_live"] = ["--seed", "3", "--seconds", "10"]
SMOKE["dashboard_queries"] = ["--seed", "3", "--seconds", "1"]
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        *args], cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_catalogue(self):
        self.assertEqual(SPEC["command"], ["python3", "perfbench/run.py"])
        benchmarked = [w["name"] for w in SPEC["workloads"]]
        self.assertLessEqual(set(benchmarked), set(metrics.WORKLOADS))
        self.assertLessEqual(set(metrics.MEASURED_ON), set(PER_LAYER))
        # every layer's metrics reach the traced run of a benchmarked workload
        for name in PER_LAYER:
            on = metrics.MEASURED_ON.get(name, metrics.WORKLOADS)
            self.assertTrue(set(on) & set(benchmarked), name)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"]))


class WorkloadTest(unittest.TestCase):
    def check_metrics(self, result, units):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, units)

    def planted(self, workload, fault):
        code, result, err = run("--workload", workload, "--trace", "0",
                                "--fault", fault, *SMOKE[workload])
        self.assertEqual(code, 0, err[-3000:])
        self.check_metrics(result, END_TO_END)
        self.assertEqual(result["failed"], 1, err[-3000:])
        self.assertFalse(result["correct"])
        for name, m in result["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def traced(self, workload):
        code, result, err = run("--workload", workload, "--trace", "1",
                                *SMOKE[workload])
        self.assertEqual(code, 0, err[-3000:])
        self.check_metrics(result, PER_LAYER)
        self.assertEqual(result["failed"], 0, err[-3000:])
        self.assertTrue(result["correct"])

    def test_absa_live(self):
        self.planted("absa_live", "drop_sink_row")
        self.traced("absa_live")

    def test_vehicle_drain(self):
        self.planted("vehicle_drain", "drop_sink_row")
        self.traced("vehicle_drain")

    def test_curation_live(self):
        self.planted("curation_live", "drop_sink_row")
        self.traced("curation_live")

    def test_dashboard_queries(self):
        self.planted("dashboard_queries", "alter_dashboard_row")
        self.traced("dashboard_queries")

    def test_refuses_to_run_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, result, _ = run("--workload", "absa_live",
                                  *SMOKE["absa_live"], cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
