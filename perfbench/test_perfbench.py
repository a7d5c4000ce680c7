#!/usr/bin/env python3
"""The benchmark's own test, at tiny sizes (--smoke).

Run from the root of a checkout:

    python3 perfbench/test_perfbench.py

For every workload in BENCHMARK.json it runs one end-to-end and one traced
run and checks that each metric BENCHMARK.json names is emitted, with its
unit and a finite value, and that every output check passed. It also
checks that run.py refuses, without printing a result, when the engine
sources are missing.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)


class PerfbenchTest(unittest.TestCase):
    def check_run(self, workload, trace, declared):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        metrics = result["metrics"]
        self.assertEqual(set(metrics), {m["name"] for m in declared})
        for m in declared:
            got = metrics[m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if trace == 0:
                self.assertNotEqual(got["value"], 0, m["name"])
        info = json.loads(p.stdout.strip().splitlines()[-2])["info"]
        self.assertEqual(info["op_fail_ratio"], 0)
        self.assertEqual(info["env"]["scaling_pair"], "not measured")
        return metrics

    def test_workloads(self):
        s = spec()
        for w in s["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.check_run(w["name"], 0, s["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                layer = self.check_run(w["name"], 1, s["per_layer"])
                # every traced span kind accounts for its wall time
                for name, v in layer.items():
                    if name.endswith(".driver_s"):
                        wall = layer[name[:-len("driver_s")] + "wall_s"]["value"]
                        self.assertGreaterEqual(v["value"], 0, name)
                        self.assertLessEqual(v["value"], wall + 1e-9, name)

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in spec()["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run(spec()["workloads"][0]["name"], 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
