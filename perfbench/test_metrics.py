#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic.

Usage: python3 perfbench/test_metrics.py
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402
import run  # noqa: E402


def span(i, parent, kind, start, end, module="M", **counters):
    return {"id": i, "parent": parent, "trace": 1, "kind": kind,
            "name": kind, "module": module, "pass": 2, "startMs": start,
            "endMs": end, "counters": counters}


def sample(ident, c, e, ok=True):
    return {"id": ident, "module": "M", "pass": 1, "constructS": c,
            "execS": e, "ok": ok, "error": None if ok else "boom"}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct = metrics.tail(range(1, 101))
        self.assertEqual(value, 90)  # 91..100 lie beyond it
        self.assertAlmostEqual(pct, 90.0)

    def test_unsorted_input(self):
        xs = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]
        self.assertEqual(metrics.tail(xs), (2, 100 * 2 / 12))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail([1.0] * 10), (None, None))
        self.assertEqual(metrics.tail([3.0] * 11), (3.0, 100 / 11))


class CoreUtilTest(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(metrics.core_util(6.0, 2.0, 4), 0.75)

    def test_no_execution(self):
        self.assertEqual(metrics.core_util(1.0, 0.0, 4), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = span(1, 0, "execute", 0, 100)
        kids = [span(2, 1, "job", 10, 30), span(3, 1, "job", 20, 40),
                span(4, 1, "job", 60, 70)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 0.06)

    def test_children_clipped_to_parent(self):
        parent = span(1, 0, "execute", 50, 100)
        kids = [span(2, 1, "job", 0, 60), span(3, 1, "job", 90, 200)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 0.03)

    def test_nested_and_disjoint(self):
        self.assertEqual(metrics.covered([(0, 10), (2, 3), (20, 25)], 0, 30),
                         15)
        self.assertEqual(metrics.covered([], 0, 30), 0)


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        warm = [{"kind": "warm", "wallS": w, "cpuS": c, "gcS": 0.1,
                 "samples": [sample(f"q{i}", 0.1, i) for i in range(1, 7)]}
                for w, c in ((10.0, 30.0), (12.0, 31.0), (11.0, 35.0))]
        cold = {"kind": "cold", "wallS": 50.0, "cpuS": 99.0, "gcS": 1.0,
                "samples": [sample("q1", 9.0, 9.0, ok=False)]}
        raw = {"passes": [cold] + warm, "setup_s": 40.0, "live_heap_mb": 80.0}
        m, info = metrics.end_to_end(raw, 2.5e6, failed=1, attempted=19)
        self.assertEqual(m["batch_s"], (11.0, "s"))
        self.assertEqual(m["cpu_s"], (31.0, "s"))
        self.assertAlmostEqual(m["query_p50_s"][0], 3.6)
        # 18 warm samples: the 8th smallest has 10 beyond it
        self.assertAlmostEqual(m["query_tail_s"][0], 3.1)
        self.assertAlmostEqual(info["tail_percentile"], 100 * 8 / 18)
        self.assertEqual(m["disk_mb"], (2.5, "MB"))
        self.assertEqual(m["failed_frac"], (1 / 19, "ratio"))
        self.assertEqual(info["query_samples"], 18)


class PerLayerTest(unittest.TestCase):
    def test_attribution(self):
        spans = [
            span(1, 0, "query", 0, 1000, files_written=3,
                 bytes_written=2e6),
            span(2, 1, "construct", 0, 400),
            span(3, 1, "execute", 400, 1000),
            span(4, 2, "job", 100, 300, stages=1),
            span(5, 3, "job", 500, 900, stages=2),
            span(6, 4, "stage", 100, 250, task_ms=300, shuffle_write_bytes=1e6,
                 input_bytes=4e6),
            span(7, 5, "stage", 500, 700, task_ms=1600,
                 shuffle_write_bytes=3e6, spill_disk_bytes=5e5),
            span(8, 5, "stage", 700, 880, task_ms=400),
            span(9, -1, "job", 0, 5, module=None),
        ]
        raw = {"passes": [
            {"kind": "warm", "index": 1, "wallS": 3.0, "gcS": 0.0,
             "samples": []},
            {"kind": "warm", "index": 2, "wallS": 2.2, "gcS": 0.0,
             "samples": []},
            {"kind": "traced", "index": 3, "wallS": 2.5, "gcS": 0.2,
             "samples": []},
            {"kind": "warm", "index": 4, "wallS": 1.8, "gcS": 0.0,
             "samples": []}]}
        out = metrics.per_layer(raw, spans, ["M", "N"], cores=4)
        v = {k: x[0] for k, x in out.items()}
        self.assertAlmostEqual(v["M.construct_s"], 0.4)
        self.assertEqual(v["M.construct_jobs"], 1)
        self.assertAlmostEqual(v["M.exec_s"], 0.6)
        self.assertEqual(v["M.exec_jobs"], 1)
        self.assertAlmostEqual(v["M.task_s"], 2.0)  # execute-phase stages
        self.assertAlmostEqual(v["M.core_util"], 2.0 / (0.6 * 4))
        self.assertAlmostEqual(v["M.shuffle_mb"], 4.0)
        self.assertAlmostEqual(v["Tables.input_mb"], 4.0)
        self.assertAlmostEqual(v["exec.spill_mb"], 0.5)
        self.assertAlmostEqual(v["exec.driver_gap_s"], 0.2)
        self.assertAlmostEqual(v["self.construct_s"], 0.2)
        self.assertAlmostEqual(v["self.job_s"], 0.05 + 0.02)
        self.assertAlmostEqual(v["sources.output_mb"], 2.0)
        self.assertEqual(v["sources.files_written"], 3)
        self.assertAlmostEqual(v["exec.gc_s"], 0.2)
        self.assertAlmostEqual(v["trace.overhead_s"], 0.5)
        self.assertEqual(v["N.exec_s"], 0)
        self.assertEqual(len(out), 2 * len(metrics.MODULE_METRICS)
                         + len(metrics.WORKLOAD_METRICS))


class CheckTest(unittest.TestCase):
    def test_digest_and_shape_checks(self):
        expected = {
            "a": {"check": "digest", "rows": 2, "schema": "x:int",
                  "digest": "2:5:7"},
            "b": {"check": "shape", "rows": 3, "schema": "y:double",
                  "digest": "3:1:1"},
        }
        ok = [{"id": "a", "rows": 2, "schema": "x:int", "digest": "2:5:7"},
              {"id": "b", "rows": 3, "schema": "y:double", "digest": "3:9:9"}]
        self.assertEqual(run.check_results(ok, expected), [])
        bad = [{"id": "a", "rows": 2, "schema": "x:int", "digest": "2:5:8"},
               {"id": "b", "rows": 4, "schema": "y:double", "digest": "x"},
               {"id": "c", "rows": 1, "schema": "", "digest": ""}]
        self.assertEqual([i for i, _ in run.check_results(bad, expected)],
                         ["a", "b", "c"])


if __name__ == "__main__":
    unittest.main()
