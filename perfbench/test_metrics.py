"""Tests of the metric arithmetic in metrics.py on hand-made records.

Run: python3 -m unittest discover -s perfbench
"""
import unittest

import metrics


def span(sid, name, t0, t1, parent=-1, op=None, error=None, **attrs):
    """A span record; times in ms, stored as ns (t) and wall ms (w)."""
    return {"id": sid, "parent": parent, "op": sid if op is None else op, "name": name,
            "t0": int(t0 * 1e6), "t1": int(t1 * 1e6), "w0": t0, "w1": t1,
            "error": error, "attrs": attrs}


def job(jid, span_id, stages=()):
    return {"id": jid, "group": None if span_id is None else f"pb:{span_id}",
            "stages": list(stages)}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 99), 99)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([5], 99.9), 5)

    def test_tail_is_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)
        for n in (20, 40, 57, 100, 333, 1000, 12345):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(metrics.samples_beyond(n, p), 10)
            higher = [q for q in metrics.LADDER if q > p]
            if higher:
                self.assertLess(metrics.samples_beyond(n, higher[0]), 10)


class SelfTimeTest(unittest.TestCase):
    def test_children_and_planning_are_subtracted(self):
        rec = {
            "spans": [
                span(0, "query", 0, 100, phase="warm", pass_=1),
                span(1, "queries.build", 10, 30, parent=0, op=0),
                span(2, "exec.run", 25, 90, parent=0, op=0),  # overlaps build by 5
            ],
            # planning phases started inside exec.run: 4 + 6 ms
            "qes": [{"phases": {"analysis": [40, 44], "optimization": [44, 50]}}],
        }
        tr = metrics.Trace(rec)
        self.assertAlmostEqual(tr.self_ms(0), 100 - 80)  # union of [10,30] and [25,90]
        self.assertAlmostEqual(tr.self_ms(1), 20)
        self.assertAlmostEqual(tr.self_ms(2), 65 - 10)
        self.assertAlmostEqual(tr.planning_ms(2), 10)

    def test_covered_clips_to_parent(self):
        self.assertEqual(metrics.covered_ns([(5, 15), (12, 30), (40, 50)], 10, 45), 5 + 15 + 5)
        self.assertEqual(metrics.covered_ns([], 0, 10), 0)


class AttributionTest(unittest.TestCase):
    def rec(self):
        return {
            "spans": [
                span(0, "query", 0, 100, phase="warm", **{"pass": 1, "query": "a"}),
                span(1, "queries.build", 0, 40, parent=0, op=0),
                span(2, "exec.run", 40, 100, parent=0, op=0),
                span(3, "query", 100, 200, phase="warm", **{"pass": 1, "query": "b"}),
                span(4, "queries.build", 100, 150, parent=3, op=3),
                span(5, "exec.run", 150, 200, parent=3, op=3),
            ],
            "jobs": [job(0, 1), job(1, 2, [0, 1]), job(2, 2, [2]), job(3, 5, [3]),
                     job(4, None), job(5, 99)],
            "stages": [
                {"id": 0, "attempt": 0, "gc_ms": 1, "shuffle_read_b": 0,
                 "shuffle_write_b": 1048576, "spill_b": 0, "task_ms": [10, 10, 30]},
                {"id": 1, "attempt": 0, "gc_ms": 2, "shuffle_read_b": 1048576,
                 "shuffle_write_b": 0, "spill_b": 0, "task_ms": [5]},
                {"id": 3, "attempt": 0, "gc_ms": 0, "shuffle_read_b": 0,
                 "shuffle_write_b": 0, "spill_b": 0, "task_ms": [8, 8]},
            ],
            "qes": [{"phases": {"planning": [60, 63]}}, {"phases": {"planning": [160, 161]}}],
            "jit_ms": 0, "gc_ms": 0,
        }

    def test_jobs_follow_their_job_group(self):
        tr = metrics.Trace(self.rec())
        self.assertEqual([j["id"] for j in tr.jobs[1]], [0])
        self.assertEqual([j["id"] for j in tr.jobs[2]], [1, 2])
        self.assertEqual([j["id"] for j in tr.jobs[5]], [3])
        # untagged jobs and tags of unknown spans belong to no span
        self.assertEqual(sum(len(v) for v in tr.jobs.values()), 4)
        self.assertEqual(len(tr.stage_records([2])), 2)  # stage 2 never completed

    def test_planning_goes_to_the_innermost_open_span(self):
        tr = metrics.Trace(self.rec())
        self.assertEqual(tr.planning_ms(2), 3)
        self.assertEqual(tr.planning_ms(5), 1)
        self.assertEqual(tr.planning_ms(0), 0)

    def test_layer_metrics_sum_per_pass(self):
        m = metrics.layer_metrics(self.rec(), "ops")
        self.assertAlmostEqual(m["queries.build_s"], 0.09)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertEqual(m["exec.jobs"], 3)
        self.assertEqual(m["exec.stages"], 3)
        self.assertAlmostEqual(m["exec.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["exec.shuffle_read_mb"], 1.0)
        self.assertEqual(m["exec.gc_ms"], 3)
        self.assertAlmostEqual(m["exec.task_skew"], 3.0)
        self.assertEqual(m["plans.planning_ms"], 4)
        self.assertAlmostEqual(m["self.exec_ms"], 60 - 3 + 50 - 1)


class FailedOpTest(unittest.TestCase):
    def test_failed_op_is_counted_and_never_timed(self):
        rec = {
            "spans": [
                span(0, "query", 0, 10, phase="cold", **{"pass": 0, "query": "a"}),
                span(1, "exec.run", 0, 10, parent=0, op=0),
                span(2, "query", 10, 5000, phase="cold", error="boom",
                     **{"pass": 0, "query": "b"}),
                span(3, "exec.run", 10, 5000, parent=2, op=2, error="boom"),
                span(4, "query", 5000, 5020, phase="warm", **{"pass": 1, "query": "a"}),
                span(5, "exec.run", 5000, 5020, parent=4, op=4),
                span(6, "query", 5020, 9000, phase="warm", error="boom",
                     **{"pass": 1, "query": "b"}),
                span(7, "exec.run", 5020, 9000, parent=6, op=6, error="boom"),
            ],
            "setup_s": [1.0], "heap_mb": 50.0,
        }
        ok, failed = metrics.timed_ops(rec)
        self.assertEqual(len(ok) + len(failed), 4)
        self.assertEqual([s["error"] for s in failed], ["boom", "boom"])
        m = metrics.end_to_end(rec, "ops", 75)
        self.assertAlmostEqual(m["cold_s"], 0.010)
        self.assertAlmostEqual(m["p50_ms"], 20.0)

    def test_failed_serve_is_excluded_from_latency(self):
        rec = {
            "spans": [span(i, "store.serve", 10 * i, 10 * i + 5, phase="timed")
                      for i in range(20)] +
                     [span(20, "store.serve", 200, 9000, phase="timed", error="boom")],
            "setup_s": [2.0, 1.0, 3.0], "heap_mb": 50.0,
        }
        m = metrics.end_to_end(rec, "store_online", 75)
        self.assertAlmostEqual(m["p75_ms"], 5.0)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["cold_s"], 2.0)


if __name__ == "__main__":
    unittest.main()
