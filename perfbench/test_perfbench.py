#!/usr/bin/env python3
"""Self-tests of the benchmark command.

    python3 perfbench/test_perfbench.py        # from the repository root

Runs every workload at the tiny scale (a few series and documents), with
tracing off and on, and checks that the run passes its own output checks
and prints every metric of BENCHMARK.json by name with its unit. The
generator and closed-form unit tests are the Scala suite:
`cd perfbench && sbt test`.
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


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, seed=1):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{cmd} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return r.stdout.strip().splitlines()


class Command(unittest.TestCase):
    def check(self, workload, trace, key):
        lines = run(workload, trace)
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines[-1])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in spec()[key]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        printed = {ln.split()[1]: ln.split()[3] for ln in lines[:-1] if ln.startswith("metric ")}
        for name, unit in want.items():
            self.assertEqual(printed.get(name), unit, name)
        if key == "end_to_end":
            for name in want:
                self.assertGreater(result["metrics"][name]["value"], 0, name)
        return result

    def test_end_to_end(self):
        for w in spec()["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0, "end_to_end")

    def test_traced(self):
        for w in spec()["workloads"]:
            with self.subTest(workload=w["name"]):
                r = self.check(w["name"], 1, "per_layer")
                self.assertNotEqual(r["metrics"]["trace.overhead_s"]["value"], 0)

    def test_refuses_without_engine(self):
        # a directory holding only the benchmark: no result, non-zero exit
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "live",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    unittest.main()
