#!/usr/bin/env python3
"""The benchmark's own tests: output contract and exact-repeat counts.

    python3 perfbench/test_repeat.py        (from the repository root)

Each workload runs twice in smoke mode (a fixed, tiny number of operations on
small inputs) with the same seed and tracing on. The counts below must come
out identical both times; timings may differ. Every run must also print the
metric names BENCHMARK.json declares and report correct results.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# counts that depend only on the seed, never on timing
EXACT = {
    "pinned_lookup": ["log.json_commits", "log.checkpoint_actions",
                      "skip.files_total", "skip.files_kept", "dv.rows_deleted"],
    "ingest": ["commit.table_files", "commit.log_bytes", "skip.files_total",
               "skip.files_kept", "dv.rows_deleted"],
    "pipeline": [],
}


def run(workload, seed, trace, ops=4):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--smoke", str(ops)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return result


class Contract(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def check_shape(self, r, names):
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], r)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        self.assertEqual(set(r["metrics"]), names)

    def test_untraced_prints_end_to_end_metrics(self):
        names = {m["name"] for m in self.bench["end_to_end"]}
        for w in EXACT:
            with self.subTest(workload=w):
                r = run(w, 3, 0, ops=2)
                self.check_shape(r, names)
                for m in self.bench["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0)

    def test_traced_counts_repeat_exactly(self):
        names = {m["name"] for m in self.bench["per_layer"]}
        for w, exact in EXACT.items():
            with self.subTest(workload=w):
                a, b = run(w, 7, 1), run(w, 7, 1)
                self.check_shape(a, names)
                self.check_shape(b, names)
                for k in exact:
                    self.assertEqual(a["metrics"][k]["value"], b["metrics"][k]["value"], k)

    def test_workloads_match_benchmark_json(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(EXACT))


if __name__ == "__main__":
    unittest.main()
