"""The benchmark's own tests: its metric lists agree with BENCHMARK.json,
every workload passes its output checks in smoke mode (tiny inputs, one
round or increment), and the runner refuses a directory without the
engine's sources.

Run from the checkout root: python3 -m unittest perfbench/test_bench.py
(about five minutes; the first run also builds). The workload partition
guard is a Scala test: cd perfbench && sbt test
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

import run  # noqa: E402


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreater(out["attempted"], 0)
        names = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(set(out["metrics"]), set(names))
        return out["metrics"]

    def test_pipeline_traced(self):
        m = self.check("pipeline", 1)
        for k in ("b2s.load_s", "s2g.full_s", "s2g.changelog_s", "b2s.stream_s",
                  "export.daily_s", "spark.jobs", "commit.files_written"):
            self.assertGreater(m[k]["value"], 0, k)

    def test_analytics_traced(self):
        m = self.check("analytics", 1)
        for k in ("spark.jobs", "spark.plan_ms", "spark.executor_run_ms", "fs.list_ops",
                  "analytics.module_s.dedup", "analytics.module_s.sql"):
            self.assertGreater(m[k]["value"], 0, k)

    def test_statements(self):
        self.assertGreater(self.check("statements", 0)["total_s"]["value"], 0)


class Refusal(unittest.TestCase):
    def test_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = bench("--workload", "pipeline", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
