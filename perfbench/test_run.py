"""Self-tests of run.py: statistics, output checks and printed metrics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need python3 only: no JVM and no build.
"""
import json
import math
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import run

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def raw_doc(workload="job_shuffle", trace=False, execs=None):
    """A minimal raw-results document as perfbench.Main writes it."""
    if execs is None:
        execs = [
            {"op": "a", "pass": -1, "rule": "off", "s": 1.0, "ok": True, "fp": "x/1"},
            {"op": "a", "pass": -1, "rule": "on", "s": 0.5, "ok": True, "fp": "x/1"},
            {"op": "a", "pass": 0, "rule": "on", "s": 0.5, "ok": True, "fp": "x/1"},
            {"op": "a", "pass": 0, "rule": "off", "s": 1.0, "ok": True, "fp": "x/1"},
            {"op": "b", "pass": -1, "rule": "off", "s": 2.0, "ok": True, "fp": "y/1"},
            {"op": "b", "pass": -1, "rule": "on", "s": 2.0, "ok": True, "fp": "y/1"},
            {"op": "b", "pass": 0, "rule": "on", "s": 2.0, "ok": True, "fp": "y/1"},
            {"op": "b", "pass": 0, "rule": "off", "s": 2.0, "ok": True, "fp": "y/1"},
        ]
    return {
        "workload": workload, "seed": 1, "trace": trace,
        "meta": {"nproc": 4, "cal_cpu_ms": 100.0, "loadavg_before": "",
                 "loadavg_after": ""},
        "setups": [{"s": 3.0, "session_s": 1.0}, {"s": 2.0, "session_s": 0.5},
                   {"s": 2.5, "session_s": 0.25}],
        "warmup_s": 10.0,
        "passes": [{"pass": 0, "label": "on", "s": 2.5},
                   {"pass": 0, "label": "off", "s": 3.0}],
        "execs": execs, "checks": [], "heap_retained_mb": 100.0,
        "traced_pass_s": 2.75, "layers": {"plan.jobs": 3.0}, "spans": [],
        "extra": {},
    }


class Percentiles(unittest.TestCase):
    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(run.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(run.quantile(list(range(1, 101)), 0.9), 90.1)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(list(range(99)), 90))
        self.assertIsNone(run.tail_percentile([1.0] * 10, 90))
        self.assertIsNotNone(run.tail_percentile(list(range(100)), 90))
        self.assertIsNotNone(run.tail_percentile(list(range(20)), 50))

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([2.0, 0.5]), 1.0)
        self.assertAlmostEqual(run.geomean([4.0]), 4.0)


class ErrorAccounting(unittest.TestCase):
    def test_clean_run_has_no_failures(self):
        self.assertEqual(run.account(raw_doc())[:2], (8, 0))

    def test_perturbed_rule_on_result_fails(self):
        raw = raw_doc()
        raw["execs"][6]["fp"] = "y/2"
        attempted, failed, reasons = run.account(raw)
        self.assertEqual((attempted, failed), (8, 1))
        self.assertIn("b pass 0 rule on", reasons[0])

    def test_thrown_and_mismatched_executions_count_as_failed(self):
        raw = raw_doc()
        raw["execs"][2] = {"op": "a", "pass": 0, "rule": "on", "s": 9.0,
                           "ok": False, "err": "RuntimeException: boom"}
        raw["execs"][3]["fp"] = "z/1"
        attempted, failed, reasons = run.account(raw)
        self.assertEqual((attempted, failed), (8, 2))
        self.assertTrue(any("boom" in r for r in reasons))

    def test_missing_reference_fails(self):
        raw = raw_doc(workload="stream_stateful")
        raw["checks"] = [{"op": "a", "kind": "drain", "fp": "x/1"},
                         {"op": "b", "kind": "drain", "fp": None}]
        self.assertEqual(run.account(raw)[:2], (8, 4))


class DeclaredMetrics(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        run.check_declared(BENCH)

    def test_printed_names_and_units_match(self):
        for trace, group in ((False, "end_to_end"), (True, "per_layer")):
            got = run.metrics(raw_doc(trace=trace), BENCH)
            want = {m["name"]: m["unit"] for m in BENCH[group]}
            self.assertEqual({k: v["unit"] for k, v in got.items()}, want)
            for v in got.values():
                self.assertTrue(math.isfinite(v["value"]))

    def test_end_to_end_values(self):
        m = run.metrics(raw_doc(), BENCH)
        self.assertAlmostEqual(m["setup_s"]["value"], 12.5)
        self.assertAlmostEqual(m["pass_s"]["value"], 2.5)
        self.assertAlmostEqual(m["query_s.geo"]["value"], 1.0)

    def test_per_layer_values(self):
        m = run.metrics(raw_doc(trace=True), BENCH)
        self.assertAlmostEqual(m["rpt.speedup_geo"]["value"], math.sqrt(2.0))
        self.assertAlmostEqual(m["trace.overhead_s"]["value"], 0.25)
        self.assertAlmostEqual(m["rpt.off_pass_s"]["value"], 3.0)
        self.assertAlmostEqual(m["session.build_ms"]["value"], 500.0)
        self.assertEqual(m["plan.jobs"]["value"], 3.0)
        self.assertEqual(m["stream.wal_ms"]["value"], 0.0)


class Contract(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        tmp = Path(tempfile.mkdtemp())
        try:
            shutil.copy(run.ROOT / "BENCHMARK.json", tmp)
            shutil.copytree(run.BENCH_DIR, tmp / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "job_shuffle", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=tmp, capture_output=True,
                               text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
