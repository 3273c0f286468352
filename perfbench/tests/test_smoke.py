"""sf0.001 smoke run of every workload, traced, through the one command.
Builds the program on first use and takes a few minutes, so it runs only
with PERFBENCH_SMOKE=1:

    PERFBENCH_SMOKE=1 python3 -m unittest perfbench.tests.test_smoke
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1",
                     "set PERFBENCH_SMOKE=1 to run the sf0.001 smoke run")
class Smoke(unittest.TestCase):
    def test_every_workload(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        layer_names = {m["name"] for m in spec["per_layer"]}
        for w in sorted(run.WORKLOADS):
            with self.subTest(workload=w):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", "1", "--seconds", "1",
                     "--trace", "1", "--data",
                     os.path.join(HERE, "data", "sf0.001")],
                    capture_output=True, text=True, timeout=900)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                out = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(out["correct"], p.stdout[-3000:])
                self.assertEqual(out["failed"], 0)
                self.assertEqual(set(out["metrics"]), layer_names)


if __name__ == "__main__":
    unittest.main()
