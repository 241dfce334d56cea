"""Smoke test of the benchmark at toy sizes (about a minute after the build).

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

It runs every workload untraced, one traced run, and one run checked
against a deliberately corrupted reference digest, in one JVM, and checks
that every metric BENCHMARK.json names is reported with its unit and that
the corrupted digest is reported as a failure.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--smoke"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=1200)
        cls.code = p.returncode
        cls.stderr = p.stderr.decode(errors="replace")
        cls.runs = [json.loads(line[len("PERFBENCH_SMOKE "):])
                    for line in p.stdout.decode().splitlines() if line.startswith("PERFBENCH_SMOKE ")]

    def runs_where(self, trace, corrupt):
        return [r for r in self.runs if r["trace"] == trace and r["corrupt_digest"] == corrupt]

    def assert_metrics(self, result, specs):
        want = {m["name"]: m["unit"] for m in specs}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_exit_code(self):
        self.assertEqual(self.code, 0, self.stderr[-3000:])

    def test_every_workload_runs_and_passes_its_checks(self):
        plain = self.runs_where(False, False)
        self.assertEqual([r["workload"] for r in plain], [w["name"] for w in self.bench["workloads"]])
        for r in plain:
            res = r["result"]
            self.assertTrue(res["correct"], r)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(res["failed"], 0)

    def test_end_to_end_metrics_present_with_units(self):
        for r in self.runs_where(False, False):
            self.assert_metrics(r["result"], self.bench["end_to_end"])

    def test_traced_run_reports_every_layer_metric(self):
        traced = self.runs_where(True, False)
        self.assertEqual(len(traced), 1)
        self.assertTrue(traced[0]["result"]["correct"], traced[0])
        self.assert_metrics(traced[0]["result"], self.bench["per_layer"])

    def test_traced_run_writes_spans(self):
        w = self.runs_where(True, False)[0]["workload"]
        with open(os.path.join(ROOT, ".bench_out", "spans-smoke.json." + w)) as f:
            spans = json.load(f)["spans"]
        names = {s["name"] for s in spans}
        for call in ["ExtractJob.run", "ParquetTableIO.readPages", "ParquetTableIO.appendCommit",
                     "ParquetTableIO.readCommit", "ExtractPipeline.inputGate",
                     "ExtractPipeline.extractExpr", "ExtractPipeline.dedupAndCluster",
                     "ExtractPipeline.metrics", "HtmlTokenizer.tokenize", "Scorer.score",
                     "Assembler.assembleColumnar", "IncrementalCurate.ingestDrop",
                     "TextOps.minhashSignature"]:
            self.assertIn(call, names)
        self.assertGreater(sum(s["jobs"] for s in spans if s["name"] == "ExtractJob.run"), 0)

    def test_corrupted_digest_is_a_failure(self):
        bad = self.runs_where(False, True)
        self.assertEqual(len(bad), 1)
        res = bad[0]["result"]
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ok_ratio"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
