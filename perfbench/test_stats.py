"""Tests for the benchmark's arithmetic. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def op(i, wall):
    return {"id": f"op{i}", "key": f"k{i}", "wall_s": wall, "ok": True}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7.0], 50), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(20, 50), 10)
        self.assertEqual(stats.samples_beyond(19, 50), 9)
        self.assertEqual(stats.samples_beyond(1, 50), 0)

    def test_highest_supported_percentile(self):
        self.assertIsNone(stats.highest_supported_percentile(2))
        self.assertIsNone(stats.highest_supported_percentile(19))
        self.assertEqual(stats.highest_supported_percentile(20), 50)
        self.assertEqual(stats.highest_supported_percentile(40), 75)
        self.assertEqual(stats.highest_supported_percentile(99), 75)
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(1000), 99)


class SelfTimeTest(unittest.TestCase):
    def span(self, start, end):
        return {"start": start, "end": end}

    def test_no_children(self):
        self.assertEqual(stats.self_time(self.span(0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time(self.span(0, 10), [self.span(1, 3), self.span(5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # parallel jobs overlap; their union covers 2..8
        kids = [self.span(2, 6), self.span(4, 8), self.span(5, 7)]
        self.assertEqual(stats.self_time(self.span(0, 10), kids), 4)

    def test_children_clipped_to_parent(self):
        # a job that ends after its span (listener clock) only counts inside it
        kids = [self.span(-5, 2), self.span(9, 20)]
        self.assertEqual(stats.self_time(self.span(0, 10), kids), 7)

    def test_child_outside_and_nested_inside_another(self):
        kids = [self.span(20, 30), self.span(1, 9), self.span(2, 3)]
        self.assertEqual(stats.self_time(self.span(0, 10), kids), 2)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time(self.span(0, 10), [self.span(0, 10)]), 0)


class FailedFracTest(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_frac(4, 0), 0.0)
        self.assertEqual(stats.failed_frac(4, 1), 0.25)
        self.assertEqual(stats.failed_frac(4, 4), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, 4)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, -1)


class EndToEndTest(unittest.TestCase):
    def test_one_setup_one_pass(self):
        result = {
            "setup": {"total_s": 6.0},
            "ops": [op(1, 1.0), op(2, 3.0)],
            "pass_wall_s": 4.0, "pass_cpu_s": 9.0,
        }
        m = stats.end_to_end(result)
        self.assertEqual(m["setup_s"], (6.0, "s"))
        self.assertEqual(m["pass_s"], (4.0, "s"))
        self.assertEqual(m["pass_cpu_s"], (9.0, "s"))


class PerLayerTest(unittest.TestCase):
    def test_attribution(self):
        # one timed op with construct (one eager job) and run (one write job)
        spans = [
            {"id": 1, "parent": 0, "name": "op", "op": "op1", "start": 0.0, "end": 1000.0},
            {"id": 2, "parent": 1, "name": "queries.construct", "op": "op1", "start": 0.0, "end": 400.0},
            {"id": 3, "parent": 1, "name": "exec.run", "op": "op1", "start": 400.0, "end": 1000.0},
            {"id": 4, "parent": 0, "name": "setup", "op": "setup", "start": -50.0, "end": -10.0},
        ]
        jobs = [
            {"job": 0, "parent": 2, "op": "op1", "start": 100.0, "end": 300.0},
            {"job": 1, "parent": 3, "op": "op1", "start": 500.0, "end": 900.0},
            {"job": 2, "parent": 4, "op": "setup", "start": -40.0, "end": -20.0},
        ]
        stage = {"cpu_ns": 0, "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "read_bytes": 0, "empty_tasks": 0, "failed_tasks": 0}
        stages = [dict(stage, stage="0.0", job=0, task_ms=[100, 100], write_bytes=0),
                  dict(stage, stage="1.0", job=1, task_ms=[200, 600], write_bytes=10,
                       empty_tasks=1),
                  dict(stage, stage="2.0", job=2, task_ms=[5], write_bytes=0)]
        result = {
            "setup": {"total_s": 1.0, "session_s": 0.5, "calibrate_s": 0.1, "train_s": 0.0},
            "ops": [dict(op(1, 1.0), id="op1")],
            "pass_wall_s": 1.0, "pass_cpu_s": 2.0,
            "cores": 4, "codegen_classes": 3, "peak_rss_mb": 1.0,
            "trace": {"spans": spans, "jobs": jobs, "stages": stages,
                      "codegen": [{"kind": "compiled", "t": 1.0, "ms": 250.0},
                                  {"kind": "compile_failed", "t": 2.0}]},
        }
        m = {k: v for k, (v, _) in stats.per_layer(result, 7).items()}
        self.assertAlmostEqual(m["queries.construct_s"], 0.4)
        self.assertAlmostEqual(m["queries.construct_self_s"], 0.2)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertAlmostEqual(m["exec.run_self_s"], 0.2)
        self.assertEqual(m["exec.jobs"], 2)          # the set-up's job is not an op's
        self.assertEqual(m["exec.tasks"], 4)
        self.assertAlmostEqual(m["exec.task_run_s"], 1.0)
        self.assertAlmostEqual(m["exec.core_busy_frac"], 1.0 / (1.0 * 4))
        self.assertAlmostEqual(m["exec.task_skew"], 1.25)  # median of 1.0 and 600/400
        self.assertAlmostEqual(m["exec.empty_task_frac"], 0.25)
        self.assertAlmostEqual(m["sources.write_s"], 0.4)
        self.assertEqual(m["sources.write_bytes"], 10)
        self.assertEqual(m["plans.codegen_fallbacks"], 1)
        self.assertAlmostEqual(m["plans.codegen_compile_s"], 0.25)
        self.assertEqual(m["host.steal_jiffies"], 7)
        self.assertEqual(stats.events_by_op(spans, result["trace"]["codegen"]),
                         {"op1": 2})

    def test_subset_minus_write_jobs(self):
        # SubsetCli.run spans 0..1000 ms with a closure job and a write job;
        # only the write job is taken out of operators.subset_s
        spans = [
            {"id": 1, "parent": 0, "name": "op", "op": "op1", "start": 0.0, "end": 1000.0},
            {"id": 2, "parent": 1, "name": "operators.subset", "op": "op1",
             "start": 0.0, "end": 1000.0},
        ]
        jobs = [{"job": 0, "parent": 2, "op": "op1", "start": 100.0, "end": 400.0},
                {"job": 1, "parent": 2, "op": "op1", "start": 600.0, "end": 900.0}]
        stage = {"cpu_ns": 0, "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "read_bytes": 0, "empty_tasks": 0, "failed_tasks": 0,
                 "task_ms": [10]}
        result = {
            "setup": {"total_s": 1.0, "session_s": 0.5, "calibrate_s": 0.1, "train_s": 0.0},
            "ops": [dict(op(1, 1.0), id="op1", orphans=3)],
            "pass_wall_s": 1.0, "pass_cpu_s": 2.0,
            "cores": 4, "codegen_classes": 0,
            "trace": {"spans": spans, "jobs": jobs, "codegen": [],
                      "stages": [dict(stage, stage="0.0", job=0, write_bytes=0),
                                 dict(stage, stage="1.0", job=1, write_bytes=5)]},
        }
        m = {k: v for k, (v, _) in stats.per_layer(result, 0).items()}
        self.assertAlmostEqual(m["operators.subset_s"], 0.7)
        self.assertEqual(m["operators.subset_jobs"], 2)
        self.assertAlmostEqual(m["sources.write_s"], 0.3)
        self.assertEqual(m["operators.orphans"], 3)


if __name__ == "__main__":
    unittest.main()
