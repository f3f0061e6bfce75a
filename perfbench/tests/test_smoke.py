"""Small-scale smoke of every workload through the benchmark's own entry
point: each run must print every named metric with its unit, pass its
output checks, and a corrupted golden must be caught.

Takes a few minutes (one JVM per case). Run from the repository root:
  python3 -m unittest perfbench.tests.test_smoke
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def bench(*extra):
    p = subprocess.run([sys.executable, RUN, "--seed", "1", "--seconds", "3", "--tiny", "1",
                        *extra], cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_metrics(self, result, kind):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        wanted = {m["name"]: m["unit"] for m in self.spec[kind]}
        self.assertEqual(set(result["metrics"]), set(wanted))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], wanted[name], name)
            self.assertIsInstance(m["value"], (int, float), name)
        self.assertGreaterEqual(result["attempted"], 1)

    def test_every_workload_prints_every_metric_and_passes_its_checks(self):
        for w in self.spec["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = bench("--workload", w["name"], "--trace", str(trace))
                    self.assert_metrics(r, kind)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    if kind == "end_to_end":
                        for name, m in r["metrics"].items():
                            self.assertGreater(m["value"], 0, name)

    def test_a_corrupted_golden_is_caught(self):
        with open(os.path.join(ROOT, "perfbench", "goldens.json")) as f:
            goldens = json.load(f)
        with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
            first = json.load(f)["queries"]["reference"][0]
        count, total = goldens[first]["hash"].split(":")
        goldens[first]["hash"] = f"{count}:{int(total) + 1}"
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(goldens, f)
        try:
            r = bench("--workload", "queries", "--trace", "0", "--goldens", f.name)
        finally:
            os.unlink(f.name)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
