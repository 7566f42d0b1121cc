"""Tests of the metric arithmetic: python3 -m unittest perfbench/test_metrics.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def span(row, pass_, t0, t1, build=0.0, collect=None):
    collect = (t1 - t0) / 1000.0 - build if collect is None else collect
    return {"row": row, "pass": pass_, "t0_ms": t0, "t1_ms": t1,
            "build_s": build, "collect_s": collect, "release_s": 0.0}


def job(id_, start, end, tags="", **kw):
    j = {"id": id_, "tags": tags, "start_ms": start, "end_ms": end,
         "stages": 1, "tasks": 1, "failed_tasks": 0, "run_ms": 0,
         "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
         "fetch_wait_ms": 0, "input_bytes": 0, "input_records": 0,
         "spill_disk": 0}
    j.update(kw)
    return j


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(metrics.union_length(
            [(0, 5), (3, 8), (10, 12)], 0, 15), 10)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length(
            [(2, 9), (3, 4), (9, 11)], 0, 20), 9)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 3), (8, 30)], 0, 10), 5)

    def test_empty(self):
        self.assertEqual(metrics.union_length([], 0, 10), 0)

    def test_driver_gap_with_overlapping_jobs(self):
        s = span("q", 1, 1000, 2000)
        jobs = [job(1, 1100, 1500), job(2, 1400, 1600), job(3, 1800, 1900)]
        # covered: 1100-1600 and 1800-1900 = 600 ms of a 1000 ms window
        self.assertAlmostEqual(metrics.driver_gap_s(s, jobs), 0.4)

    def test_unfinished_job_runs_to_window_end(self):
        s = span("q", 1, 0, 1000)
        self.assertAlmostEqual(metrics.driver_gap_s(s, [job(1, 500, 0)]), 0.5)


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        v, p, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_order_free(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12, 0, 13, 14, 15, 16, 17,
              18, 19]
        self.assertEqual(metrics.tail(xs)[0], 9)

    def test_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([1.0] * 18 + [4.0])[0], 4.0)
        self.assertEqual(metrics.tail([1.0] * 19 + [4.0]), (1.0, 50.0, 20))

    def test_latencies_from_overlapping_jobs(self):
        # per-query latency comes from the span, not from its jobs, so
        # overlapping jobs inside one query do not add up
        spans = [span("q", p, 0, 1000 + 10 * p) for p in range(30)]
        lat = [metrics.latency(s) for s in spans]
        v, p, n = metrics.tail(lat)
        self.assertEqual(n, 30)
        self.assertAlmostEqual(v, 1.19)
        self.assertAlmostEqual(p, 100.0 * 20 / 30)


class AttributionTest(unittest.TestCase):
    def test_tag_wins_over_time_window(self):
        spans = [span("a", 1, 0, 100), span("b", 1, 100, 200)]
        # started inside b's window but tagged by a's execution
        self.assertEqual(metrics.job_owner(
            job(1, 150, 160, tags="pb-1-a"), spans), 0)

    def test_untagged_job_falls_back_to_window(self):
        spans = [span("a", 1, 0, 100), span("b", 1, 100, 200)]
        self.assertEqual(metrics.job_owner(job(1, 150, 160), spans), 1)
        self.assertIsNone(metrics.job_owner(job(2, 500, 600), spans))

    def test_overlapping_jobs_keep_their_own_task_metrics(self):
        spans = [span("a", 1, 0, 1000)]
        res = {"setup": [{"session_s": 0, "register_s": 0, "pass_s": 0}],
               "cores": 4,
               "scratch_bytes": 0, "vm_hwm_kb": 0, "plans": [], "batches": [],
               "jobs": [job(1, 0, 600, "pb-1-a", run_ms=400, tasks=4),
                        job(2, 300, 900, "pb-1-a", run_ms=800, tasks=8)]}
        m = metrics.per_layer(res, spans, spans)
        self.assertEqual(m["scheduler.jobs"][0], 2)
        self.assertEqual(m["scheduler.tasks"][0], 12)
        self.assertAlmostEqual(m["task.run_s"][0], 1.2)
        self.assertAlmostEqual(m["scheduler.driver_gap_s"][0], 0.1)


if __name__ == "__main__":
    unittest.main()
