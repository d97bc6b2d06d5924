"""Smoke runs of the whole benchmark on every workload (builds the harness
on first use; a few minutes in total).

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(workload, traced, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", "11",
                        "--seconds", "1", "--trace", str(traced)],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return r


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def result(self, workload, traced):
        r = run(workload, traced)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(out["correct"], r.stdout[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        kind = "per_layer" if traced else "end_to_end"
        self.assertEqual(set(out["metrics"]),
                         {m["name"] for m in self.bench[kind]})
        return {k: v["value"] for k, v in out["metrics"].items()}

    def test_end_to_end_metrics_are_positive(self):
        m = self.result("star_join", 0)
        self.assertTrue(all(v > 0 for v in m.values()), m)

    def test_traced_pipeline_builds_and_reuses_memos(self):
        m = self.result("pipeline", 1)
        self.assertGreater(m["memo.builds"], 0)
        self.assertGreater(m["memo.hit_ratio"], 0)
        self.assertGreater(m["mr.s"], 0)
        self.assertEqual(m["stream.queries"], 0)

    def test_traced_star_join_bypasses_memos_and_streams(self):
        m = self.result("star_join", 1)
        self.assertEqual(m["memo.builds"], 0)
        self.assertEqual(m["stream.batches"], 0)
        self.assertGreater(m["exec.tasks"], 0)
        # broadcast joins and the shuffled one of q_bloom_join
        self.assertGreater(m["join.broadcast"], 0)
        self.assertGreater(m["join.shuffled"], 0)

    def test_traced_streaming_reports_stream_layer(self):
        m = self.result("streaming", 1)
        self.assertGreater(m["stream.queries"], 0)
        self.assertGreater(m["stream.batches"], 0)
        self.assertGreater(m["stream.state_rows"], 0)
        self.assertEqual(m["memo.builds"], 0)

    def test_fails_without_the_program(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            r = subprocess.run([sys.executable, "perfbench/run.py",
                                "--workload", "pipeline", "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
