"""Smoke test of the benchmark: every workload at its tiny size, untraced
and traced, with the output checks on.

    python3 -m unittest perfbench/test_run.py      (from the checkout root)
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("bar_daily_cycle", "bar_analytics", "corpus_curation")


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        report, result = run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report["failures"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertTrue(report["checks"] and all(c["ok"] for c in report["checks"]))
        want = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(result["metrics"]), sorted(want))
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        return report, result

    def test_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report, result = self.check(w, 0)
                for m in result["metrics"].values():
                    self.assertGreater(m["value"], 0)
                self.assertEqual(report["end_to_end"]["failed_frac"]["value"], 0)

    def test_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, result = self.check(w, 1)
                self.assertGreater(result["metrics"]["trace.overhead"]["value"], 0)
                self.assertGreater(result["metrics"]["queries.tasks"]["value"], 0)

    def test_refuses_to_run_without_engine_sources(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(prefix=".perfbench_test_", dir=ROOT) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns(".build", "target", "project/target"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bar_daily_cycle",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
