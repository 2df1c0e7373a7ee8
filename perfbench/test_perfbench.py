"""Tests of the benchmark itself: tiny-size smoke runs of every workload
(untraced and traced) whose metric names and units must match
BENCHMARK.json and whose checks must pass, a negative run whose
perturbed reference must fail, and a run from a directory without the
engine sources, which must fail without printing a result.

    python3 perfbench/test_perfbench.py
"""

import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("cf_ingest", "cf_dashboard", "corpus_ingest")


def run(workload, trace="0", *extra, cwd=ROOT, root=ROOT):
    cmd = [sys.executable, str(root / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


class SmokeTest(unittest.TestCase):
    def test_every_workload_is_in_benchmark_json(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(WORKLOADS))

    def check_metrics(self, result, wanted):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_runs_report_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, err = run(w)
                self.assertEqual(code, 0, err[-3000:])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.check_metrics(res, BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_runs_report_every_per_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, err = run(w, "1")
                self.assertEqual(code, 0, err[-3000:])
                self.assertTrue(res["correct"])
                self.check_metrics(res, BENCH["per_layer"])
                m = res["metrics"]
                if w == "cf_ingest":
                    self.assertEqual(m["cloudfront.records_out_per_line"]["value"], 2.0)
                    self.assertGreater(m["cloudfront.malformed_lines"]["value"], 0)
                    self.assertGreater(m["cloudfront.parse_ms"]["value"], 0)
                    self.assertGreater(m["streaming.commit_ms"]["value"], 0)
                    self.assertGreater(m["streaming.files_per_batch"]["value"], 0)
                if w == "cf_dashboard":
                    self.assertGreater(m["timeseries.files_read.headline_24h"]["value"],
                                       m["timeseries.files_read.cache_hit_day"]["value"])
                if w == "corpus_ingest":
                    self.assertEqual(m["sources.near_dup_recall"]["value"], 1.0)
                    self.assertGreater(m["sources.mh_probe_ms"]["value"], 0)
                    self.assertGreater(m["streaming.process_batch_ms"]["value"], 0)


class NegativeTest(unittest.TestCase):
    def test_perturbed_reference_fails(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, _ = run(w, "0", "--perturb")
                self.assertNotEqual(code, 0)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertGreater(res["failed"] / res["attempted"], 0)

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", d / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, *BENCH["command"][1:], "--workload",
                                "cf_ingest", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
