"""Tests of the benchmark's own arithmetic, inputs and a smoke run.

Run from the repository root:  python3 -m unittest perfbench/test_run.py
The smoke tests run every workload at --scale tiny (they compile the
benchmark on first use, so they need sbt and java).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_sample_count_rule(self):
        self.assertFalse(run.resolves(99, 0.99))
        self.assertTrue(run.resolves(100, 0.99))
        self.assertFalse(run.resolves(1, 0.50))
        self.assertTrue(run.resolves(2, 0.50))

    def test_nearest_rank(self):
        vals = np.arange(1, 101, dtype=float)
        ones = np.ones(100)
        self.assertEqual(run.nearest_rank(vals, ones, 0.50), 50.0)
        self.assertEqual(run.nearest_rank(vals, ones, 0.99), 99.0)
        self.assertEqual(run.nearest_rank(vals[::-1], ones, 0.99), 99.0)
        self.assertIsNone(run.nearest_rank([], [], 0.5))

    def test_weights_count_as_samples(self):
        self.assertEqual(run.nearest_rank([10, 20], [99, 1], 0.99), 10.0)
        self.assertEqual(run.nearest_rank([10, 20], [98, 2], 0.99), 20.0)
        self.assertEqual(run.nearest_rank([20, 10], [1, 1], 0.5), 10.0)


class LatencyTest(unittest.TestCase):
    def batch(self, start, commit, lo, hi):
        return {"start": start, "commit": commit, "lo": lo, "hi": hi}

    def test_open_loop_counts_from_the_schedule(self):
        # 10 rows/s from t=1000 ms: row i is due at 1000 + 100 i
        vals, wts = run.row_latencies([self.batch(2100, 2500, 0, 10)], 1000, 10, False)
        self.assertEqual(list(vals), [1500 - 100 * i for i in range(10)])
        self.assertEqual(wts.sum(), 10)

    def test_open_loop_stall_delays_later_rows(self):
        # the second batch commits late; its rows still count from their due time
        bs = [self.batch(2000, 2200, 0, 10), self.batch(3000, 5000, 10, 20)]
        vals, _ = run.row_latencies(bs, 1000, 10, False)
        self.assertEqual(vals[10], 5000 - 2000)
        self.assertEqual(vals[-1], 5000 - 2900)

    def test_closed_loop_counts_from_the_pull(self):
        vals, wts = run.row_latencies([self.batch(100, 350, 0, 5), self.batch(350, 350, 5, 5)],
                                      0, 5, True)
        self.assertEqual(list(vals), [250.0])
        self.assertEqual(list(wts), [5.0])

    def test_batches_are_the_samples(self):
        # 300 rows in 3 commits: 3 samples, not 300, so p99 is unresolved
        bs = [self.batch(1000 * k + 1000, 1000 * k + 1400, 100 * k, 100 * k + 100)
              for k in range(3)] + [self.batch(4000, 4100, 300, 300)]
        lat = run.latency(bs, 0, 100, False)
        self.assertEqual((lat["samples"], lat["rows"]), (3, 300))
        self.assertFalse(lat["p99_resolved"])
        self.assertEqual(lat["p50"], 900.0)
        bs = [self.batch(1000 * k, 1000 * k + 300, 10 * k, 10 * k + 10) for k in range(100)]
        self.assertTrue(run.latency(bs, 0, 10, True)["p99_resolved"])

    def test_ranges_follow_row_counts(self):
        ps = [{"batchId": 0, "timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 3,
               "durationMs": {"triggerExecution": 40}},
              {"batchId": 1, "timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 0,
               "durationMs": {"triggerExecution": 5}},
              {"batchId": 2, "timestamp": "2026-01-01T00:00:02.500Z", "numInputRows": 4,
               "durationMs": {"triggerExecution": 10}}]
        bs = run.batches_of(ps)
        self.assertEqual([(b["lo"], b["hi"]) for b in bs], [(0, 3), (3, 3), (3, 7)])
        self.assertEqual(bs[2]["commit"] - bs[0]["start"], 2510)

    def test_union_of_job_intervals(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(run.union_ms([(0, 10), (5, 20)], 8, 15), 7)
        self.assertEqual(run.union_ms([], 0, 100), 0)
        self.assertEqual(run.union_ms([(0, 5), (20, 30), (120, 130)], 10, 100), 10)


@unittest.skipUnless(os.path.exists(run.PROGRAM) and shutil.which("sbt"),
                     "needs the program sources and sbt")
class SmokeTest(unittest.TestCase):
    def bench(self, workload, seed, trace=0):
        out = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
             "--scale", "tiny"], capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], out.stdout)
        self.assertEqual(result["failed"], 0)
        names = run.declared_metrics()[1 if trace else 0]
        self.assertEqual(sorted(result["metrics"]), sorted(n for n, _ in names))
        return result

    def test_every_workload(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.bench(w, 1)

    def test_traced_run(self):
        self.bench("velocity_state", 1, trace=1)

    def test_seed_changes_the_stream(self):
        def first_batch_alerts(seed):
            self.bench("alerts_flood", seed)
            with open(os.path.join(run.BUILD, "work", "alerts_flood", "raw.json")) as fh:
                return json.load(fh)["check"]["alerts_per_batch"]["0"]
        self.assertNotEqual(first_batch_alerts(1), first_batch_alerts(2))


if __name__ == "__main__":
    unittest.main()
