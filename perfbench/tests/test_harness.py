"""Self-test of the benchmark harness.

Runs every workload at a tiny size and checks that each prints every metric
it names, that a corrupted expected state is reported as a failure, and that
the command fails cleanly where the engine sources are missing.

    python3 -m unittest discover -s perfbench/tests -v     # from the repo root
"""
import json
import os
import shutil
import subprocess
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Per-layer metrics each workload must report itself (the rest read 0).
OWN_LAYER_METRICS = {
    "live_tail": ["spark.trigger_ms_p50", "model.apply_batch_ms_p50", "spark.wal_commit_ms_p50",
                  "spark.commit_offsets_ms_p50", "spark.query_planning_ms_p50",
                  "source.rows_per_trigger_p50", "live.backlog_max", "live.gen_late_ms_max",
                  "live.freshness_samples"],
    "changelog_batch": [f"{c}_{m}" for c in [
        "model.upsert_scalar", "merge.upsert_salted", "model.decode_envelope",
        "model.upsert_envelope", "model.upsert_ir", "split.sample_buckets", "source.hybrid",
        "merge.emit_filter"] for m in ["ms", "tasks"]],
    "query_suite": ["suite.offsets_s", "suite.types_s", "suite.streaming_s", "suite.relational_s",
                    "suite.ext_s", "suite.curation_s", "suite.layout_s"],
    "initial_sync": ["split.plan_ms", "split.chunks", "source.snapshot_scan_ms",
                     "source.snapshot_rows", "model.apply_rows_ms", "model.apply_rows_per_s",
                     "source.latest_offset_ms", "model.apply_batch_ms", "spark.wal_commit_ms",
                     "spark.commit_offsets_ms", "spark.query_planning_ms", "spark.triggers",
                     "spark.task_failures", "spark.failed_task_ms"],
}


def run(workload, trace=0, cwd=ROOT, extra=()):
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "2",
         "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class HarnessSelfTest(unittest.TestCase):

    def result(self, workload, trace=0, extra=()):
        rc, out, err = run(workload, trace, extra=extra)
        self.assertEqual(rc, 0, err[-3000:])
        return json.loads(out[-1])

    def test_every_workload_prints_every_metric(self):
        s = spec()
        e2e = {m["name"]: m["unit"] for m in s["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in s["per_layer"]}
        for w in [w["name"] for w in s["workloads"]]:
            with self.subTest(workload=w, trace=0):
                r = self.result(w)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertEqual(set(r["metrics"]), set(e2e))
                for n, m in r["metrics"].items():
                    self.assertEqual(m["unit"], e2e[n])
                    self.assertGreater(m["value"], 0, n)
            with self.subTest(workload=w, trace=1):
                r = self.result(w, trace=1, extra=["--all-metrics"])
                self.assertTrue(r["correct"], r)
                for n in OWN_LAYER_METRICS[w] + [f"trace.{m}" for m in e2e]:
                    self.assertIn(n, r["metrics"])
                self.assertTrue(set(layer) >= {n for n in r["metrics"] if n in layer})

    def test_workloads_outside_the_spec_print_their_metrics(self):
        for w in ["live_tail", "initial_sync"]:
            with self.subTest(workload=w):
                r = self.result(w, trace=1, extra=["--all-metrics"])
                self.assertTrue(r["correct"], r)
                for n in OWN_LAYER_METRICS[w]:
                    self.assertIn(n, r["metrics"])

    def test_corrupted_expected_state_is_a_failure(self):
        for w in [w["name"] for w in spec()["workloads"]] + ["live_tail", "initial_sync"]:
            with self.subTest(workload=w):
                r = self.result(w, extra=["--corrupt", "1"])
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)

    def test_failing_timed_pass_is_counted_not_retried(self):
        for w in ["changelog_batch", "query_suite"]:
            with self.subTest(workload=w):
                r = self.result(w, extra=["--fail-op", "pass"])
                self.assertFalse(r["correct"])
                self.assertEqual(r["failed"], 1)

    def test_fails_without_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
            rc, out, _ = run(spec()["workloads"][0]["name"], cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith("{") for l in out))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
