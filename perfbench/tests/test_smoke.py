"""Smoke run: co2_pipeline on the sf0.001 tables, traced, end to end.

    python3 -m unittest discover -s perfbench/tests

Builds the harness on first use, so the first run takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


class SmokeTest(unittest.TestCase):
    def test_co2_pipeline_traced_at_sf0_001(self):
        seed = 4242
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "co2_pipeline",
             "--seed", str(seed), "--seconds", "1", "--trace", "1", "--data", "sf0.001"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], out.stdout)
        self.assertEqual(result["failed"], 0)

        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        m = result["metrics"]
        self.assertEqual(set(m), {x["name"] for x in bench["per_layer"]})
        # Tables.load infers each table's schema with a job; the portable
        # KMeans fit runs its Lloyd iterations as jobs under graft.ml.
        self.assertGreater(m["sources.jobs"]["value"], 0)
        self.assertGreater(m["ml.jobs"]["value"], 0)
        self.assertGreater(m["exec.tasks"]["value"], 0)

        record = json.load(open(os.path.join(
            ROOT, ".bench_build", "out", "co2_pipeline_%d_trace1.json" % seed)))
        self.assertEqual(set(record["metrics"]),
                         {x["name"] for x in bench["end_to_end"]})
        spans = json.load(open(os.path.join(
            ROOT, ".bench_build", "out", "spans_co2_pipeline_%d.json" % seed)))
        names = {s["name"] for s in spans}
        self.assertTrue({"query", "construct", "plan", "execute", "job", "stage"} <= names)
        for s in spans:
            self.assertGreaterEqual(s["self_ms"], -1e-6)


if __name__ == "__main__":
    unittest.main()
