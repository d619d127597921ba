"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/tests/test_perfbench.py

`test_selftest` compiles the engine and runs the JVM-side tests
(generator determinism, ack latency on a synthetic timeline, and a real
small ingest whose correctness check must reject tampered
expectations); the rest are pure Python.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import panel_hash  # noqa: E402
import run  # noqa: E402


class PanelHashTest(unittest.TestCase):
    def test_normalization_matches_the_oracle_gate(self):
        a = panel_hash.digest(["b", "a"], [(1.0000001, "x"), (None, "y")])
        # column order and row order do not matter; floats compare at .6g
        b = panel_hash.digest(["a", "b"], [("y", None), ("x", 1.0)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, panel_hash.digest(["a", "b"], [("y", None), ("x", 1.001)]))

    def test_stored_hashes_cover_the_panel(self):
        with open(os.path.join(ROOT, run.HASHES)) as f:
            stored = json.load(f)["queries"]
        self.assertEqual(len(stored), 8)
        for d in stored.values():
            self.assertGreater(d["rows"], 0)


class SummaryLineTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def result(self, value):
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        vals = {n: value for n in names}
        return {"correct": True, "attempted": 10, "failed": 0, "e2e": vals, "layers": vals}

    def test_line_has_the_contract_keys_and_fits_a_log_tail(self):
        for trace in (0, 1):
            line = run.summary(self.bench, self.result(1234.5678901234567), trace)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            section = "per_layer" if trace else "end_to_end"
            self.assertEqual(set(line["metrics"]), {m["name"] for m in self.bench[section]})
            self.assertLessEqual(len(json.dumps(line, separators=(",", ":"))), 1536)

    def test_missing_end_to_end_metric_is_not_correct(self):
        r = self.result(1.0)
        del r["e2e"]["setup_s"]
        self.assertFalse(run.summary(self.bench, r, 0)["correct"])


class OverheadRatioTest(unittest.TestCase):
    def test_ratio_of_the_paired_runs(self):
        untraced = {"e2e": {"latency_ms": 200.0}}
        traced = {"e2e": {"latency_ms": 230.0}}
        self.assertAlmostEqual(run.overhead_ratio(untraced, traced), 1.15)

    def test_missing_side_is_missing_not_zero(self):
        self.assertIsNone(run.overhead_ratio({"e2e": {}}, {"e2e": {"latency_ms": 1.0}}))
        bench = {"per_layer": [{"name": "trace.overhead_ratio", "unit": "ratio"}]}
        r = {"correct": True, "attempted": 1, "failed": 0,
             "layers": {"trace.overhead_ratio": None}}
        self.assertFalse(run.summary(bench, r, 1)["correct"])


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertIn("src/main/scala not found", p.stderr)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(d)


class SelfTest(unittest.TestCase):
    def test_selftest(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--selftest"], cwd=ROOT,
                           capture_output=True, text=True, timeout=1200)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertIn("failures=0", p.stdout)
        self.assertNotIn("FAIL", p.stdout)


if __name__ == "__main__":
    unittest.main()
