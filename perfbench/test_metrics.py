"""Checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)

    def test_order_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(5, 6), (0, 1), (1, 2)]), 3)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)

    def test_clip_keeps_only_the_window(self):
        self.assertEqual(metrics.clip([(0, 5), (8, 12), (20, 30)], 2, 10), [(2, 5), (8, 10)])


class DriverOnly(unittest.TestCase):
    def test_wall_minus_stage_union(self):
        # stages cover 2..4 and 3..6 (union 4) inside a 0..10 pass
        self.assertEqual(metrics.driver_only((0, 10), [(2, 4), (3, 6)]), 6)

    def test_stages_outside_the_window_do_not_count(self):
        self.assertEqual(metrics.driver_only((0, 10), [(-5, 1), (9, 15), (20, 25)]), 8)

    def test_fully_covered_window_is_zero(self):
        self.assertEqual(metrics.driver_only((0, 10), [(0, 6), (5, 10)]), 0)


class SelfTime(unittest.TestCase):
    def test_duration_minus_children_cover(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (7, 8)]), 5)

    def test_leaf_span_is_all_self(self):
        self.assertEqual(metrics.self_time((3, 9), []), 6)

    def test_children_overhanging_the_span_are_clipped(self):
        self.assertEqual(metrics.self_time((0, 10), [(-3, 2), (8, 20)]), 6)


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 40 samples: p75 has exactly 10 beyond, p90 only 4
        self.assertEqual(metrics.tail(range(1, 41)), (75.0, 30))
        # 100 samples: p90 has 10 beyond, p95 only 5
        self.assertEqual(metrics.tail(range(1, 101)), (90.0, 90))
        # 1000 samples: p99 has 10 beyond, p99.9 only 1
        self.assertEqual(metrics.tail(range(1, 1001)), (99.0, 990))

    def test_one_short_falls_back_a_step(self):
        self.assertEqual(metrics.tail(range(1, 40)), (74.0, 29))
        self.assertEqual(metrics.tail(range(1, 31)), (66.0, 20))

    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(metrics.tail(range(1, 20)))
        self.assertEqual(metrics.tail(range(1, 21)), (50.0, 10))

    def test_input_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_nearest_rank(self):
        self.assertEqual(metrics.rank_value([1, 2, 3, 4], 50), 2)
        self.assertEqual(metrics.rank_value([1, 2, 3, 4], 51), 3)
        self.assertEqual(metrics.rank_value([7], 99.9), 7)


class SeedPermutation(unittest.TestCase):
    KEYS = [f"key_{i}" for i in range(30)]

    def test_deterministic_and_complete(self):
        a = metrics.permute(self.KEYS, 7)
        self.assertEqual(a, metrics.permute(self.KEYS, 7))
        self.assertEqual(sorted(a), sorted(self.KEYS))

    def test_independent_of_input_order(self):
        self.assertEqual(metrics.permute(self.KEYS, 3),
                         metrics.permute(list(reversed(self.KEYS)), 3))

    def test_seeds_give_different_orders(self):
        orders = {tuple(metrics.permute(self.KEYS, s)) for s in range(10)}
        self.assertEqual(len(orders), 10)

    def test_known_order(self):
        # pins the digest rule itself: sha256("2:c") < sha256("2:a") < sha256("2:b")
        self.assertEqual(metrics.permute(["a", "b", "c"], 2), ["c", "a", "b"])


class FailureCounting(unittest.TestCase):
    RECS = [{"key": "a", "ok": True}, {"key": "b", "ok": False},
            {"key": "c", "ok": True}, {"key": "a", "ok": True},
            {"key": "b", "ok": True}, {"key": "c", "ok": True}]

    def test_clean_run(self):
        ok = [dict(r, ok=True) for r in self.RECS]
        self.assertEqual(metrics.count_failures(ok, set()), (6, 0))

    def test_throws_count_once_per_execution(self):
        self.assertEqual(metrics.count_failures(self.RECS, set()), (6, 1))

    def test_oracle_mismatch_fails_every_execution_of_the_key(self):
        self.assertEqual(metrics.count_failures(self.RECS, {"c"}), (6, 3))
        # a key that both threw and mismatched is not counted twice
        self.assertEqual(metrics.count_failures(self.RECS, {"b"}), (6, 2))


class Sites(unittest.TestCase):
    def test_call_site_file(self):
        self.assertEqual(metrics.site_of("count at Caching.scala:87"), "Caching")
        self.assertEqual(metrics.site_of("save at Harness.scala:97"), "Harness")
        self.assertIsNone(metrics.site_of("run at CompletableFuture.java:1768"))
        self.assertIsNone(metrics.site_of(None))


class PerLayer(unittest.TestCase):
    """One pass, two keys. Key a builds with one eager action (a Caching
    count, one job, one stage) and sinks with a job that reuses that stage
    (skipped) and runs one more; key b builds without an action."""
    STAGE = dict(attempt=0, tasks=4, run_s=0.2, cpu_s=0.1, gc_s=0.0,
                 shuffle_write_b=1048576, shuffle_read_b=0, spill_b=0,
                 input_b=2097152, input_records=100)
    RECORDS = [
        {"ev": "pass", "pass": 0, "t0": 0, "t1": 1000, "clear_s": 0.0},
        {"ev": "key", "key": "a", "module": "M1", "pass": 0, "t0": 0, "tb": 300, "t1": 600,
         "ok": True, "compiles": 2, "compile_s": 0.1, "analysis_s": 0.004, "pins": 1,
         "cached_mb": 0.5, "clear_s": 0.01},
        {"ev": "key", "key": "b", "module": "M2", "pass": 0, "t0": 600, "tb": 650,
         "t1": 1000, "ok": True, "compiles": 3, "compile_s": 0.2, "analysis_s": 0.002,
         "pins": 0, "cached_mb": 0.0, "clear_s": 0.02},
        {"ev": "exec", "id": 1, "root": 1, "t0": 100, "desc": "count at Caching.scala:87"},
        {"ev": "exec_end", "id": 1, "t1": 250},
        {"ev": "exec", "id": 2, "root": 2, "t0": 310, "desc": "save at Harness.scala:96"},
        {"ev": "exec_end", "id": 2, "t1": 590},
        {"ev": "exec", "id": 3, "root": 3, "t0": 660, "desc": "save at Harness.scala:96"},
        {"ev": "exec_end", "id": 3, "t1": 990},
        {"ev": "job", "id": 1, "t0": 110, "exec": 1, "request": "w:0:a", "stages": [1]},
        {"ev": "job_end", "id": 1, "t1": 240},
        {"ev": "job", "id": 2, "t0": 320, "exec": 2, "request": "w:0:a", "stages": [1, 2]},
        {"ev": "job_end", "id": 2, "t1": 580},
        {"ev": "job", "id": 3, "t0": 670, "exec": 3, "request": "w:0:b", "stages": [3]},
        {"ev": "job_end", "id": 3, "t1": 980},
        dict(STAGE, ev="stage", id=1, t0=120, t1=230),
        dict(STAGE, ev="stage", id=2, t0=330, t1=570),
        dict(STAGE, ev="stage", id=3, t0=680, t1=970),
        {"ev": "phases", "t0": 100, "analysis_s": 0.01, "optimize_s": 0.02, "plan_s": 0.03},
    ]

    def test_layer_split(self):
        m = metrics.per_layer(self.RECORDS, "w", 2, ["M1", "M2"], ["Caching"])
        approx = {
            "queries.build_s": 0.35, "queries.build_self_s": 0.2, "sink.s": 0.65,
            "queries.M1.s": 0.3, "queries.M2.s": 0.05,
            "scheduler.stage_covered_s": 0.64, "scheduler.driver_only_s": 0.36,
            "executor.task_run_s": 0.6, "executor.core_util": 0.3,
            "shuffle.write_mb": 3.0, "sources.read_mb": 6.0,
            "codegen.compile_s": 0.3, "Caching.cached_mb": 0.5, "Caching.clear_s": 0.03,
            "catalyst.plan_s": 0.03, "site.Caching.stage_s": 0.11,
            # the build-time action's analysis plus each built frame's own
            "catalyst.analysis_s": 0.016,
        }
        exact = {
            "queries.build_actions": 1, "queries.build_jobs": 1,
            "scheduler.actions": 3, "scheduler.jobs": 3, "scheduler.stages": 3,
            "scheduler.stages_skipped": 1, "scheduler.tasks": 12,
            "sources.records_in": 300, "codegen.compiles": 5, "Caching.pins": 1,
            "site.Caching.actions": 1, "site.Caching.jobs": 1,
        }
        for k, v in approx.items():
            self.assertAlmostEqual(m[k], v, places=9, msg=k)
        for k, v in exact.items():
            self.assertEqual(m[k], v, msg=k)


if __name__ == "__main__":
    unittest.main()
