"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import run
import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(stats.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(stats.percentile([1, 2, 3], 0), 1)
        self.assertEqual(stats.percentile([1, 2, 3], 100), 3)

    def test_single_sample_is_every_percentile(self):
        self.assertEqual(stats.percentile([7.5], 50), 7.5)
        self.assertEqual(stats.percentile([7.5], 90), 7.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SampleCountRuleTest(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(99, 90), 9)
        self.assertEqual(stats.samples_beyond(12, 50), 6)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.highest_supported_percentile(1000), 99)
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(99), 75)
        self.assertEqual(stats.highest_supported_percentile(40), 75)
        self.assertEqual(stats.highest_supported_percentile(20), 50)
        self.assertIsNone(stats.highest_supported_percentile(19))


class SelfTimeTest(unittest.TestCase):
    def test_no_children_is_the_whole_span(self):
        self.assertEqual(stats.self_time((10, 50), []), 40)

    def test_disjoint_children_are_subtracted(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (50, 80)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60), (35, 45)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 30), (40, 50)]), 3)

    def test_fully_covered_span_has_no_self_time(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 6), (5, 10)]), 0)


class CoreUtilTest(unittest.TestCase):
    def test_task_time_over_wall_times_cores(self):
        self.assertEqual(stats.core_util(task_s=8.0, wall_s=4.0, cores=4), 0.5)
        self.assertEqual(stats.core_util(task_s=16.0, wall_s=4.0, cores=4), 1.0)

    def test_empty_phase_is_zero(self):
        self.assertEqual(stats.core_util(task_s=0.0, wall_s=0.0, cores=4), 0.0)


def traced_run():
    """A harness document with one cold and two steady passes of one
    query; pass 1 is traced, pass 2 is not. Times in µs."""
    def execs(i, cons, mat):
        return [{"query": "q", "ok": True, "error": None, "construct_s": cons,
                 "materialize_s": mat, "pins": 1, "cache_clean": True,
                 "construct_jobs": 2, "execute_jobs": 3}]
    spans = [
        # id, parent, kind, name, start, end
        [1, 0, "pass", "steady 1", 0, 10_000_000],
        [2, 1, "query", "q", 0, 9_500_000],
        [3, 2, "construct", "q", 0, 4_000_000],
        [4, 2, "materialize", "q", 4_000_000, 9_000_000],
        [5, 3, "job", "job 0", 1_000_000, 2_000_000],
        [6, 3, "job", "job 1", 1_500_000, 2_500_000],
        [7, 4, "job", "job 2", 4_000_000, 9_000_000],
    ]
    return {
        "cores": 4,
        "setup_s": 5.0,
        "passes": [
            {"index": 0, "kind": "cold", "traced": True, "wall_s": 30.0,
             "jit_ms": 5000, "gc_ms": 700, "execs": execs(0, 9.0, 20.0)},
            {"index": 1, "kind": "steady", "traced": True, "wall_s": 10.0,
             "jit_ms": 5500, "gc_ms": 800, "execs": execs(1, 4.0, 5.0)},
            {"index": 2, "kind": "steady", "traced": False, "wall_s": 8.0,
             "jit_ms": 5600, "gc_ms": 900, "execs": execs(2, 3.0, 4.5)},
        ],
        "jvm": {"jit_ms_at_ready": 1000, "gc_ms_at_ready": 100,
                "code_cache_bytes": 64 * 2**20, "heap_peak_bytes": 512 * 2**20,
                "vm_hwm_kb": 1024 * 1024},
        "trace": {
            "spans": spans,
            "phases": {
                "p1:q:construct": {"jobs": 2, "schema_jobs": 1, "output_bytes": 100,
                                   "output_records": 10},
                "p1:q:materialize": {"jobs": 1, "stages": 2, "tasks": 8,
                                     "task_ms": 10_000, "cpu_ns": 8 * 10**9,
                                     "sched_ms": 300, "input_records": 600},
            },
            "plans": {"p1:q": {"analysis_ms": 3, "optimization_ms": 40,
                               "planning_ms": 20, "logical_nodes": 12,
                               "exchanges": 2, "files_written": 3}},
        },
    }


class PerLayerTest(unittest.TestCase):
    def setUp(self):
        self.m = run.per_layer(traced_run(), rows={"q": 200}, sink_dirs=0)

    def test_core_util_is_task_time_over_execute_wall_times_cores(self):
        self.assertEqual(self.m["execute.task_s"], 10.0)
        self.assertEqual(self.m["execute.s"], 5.0)
        self.assertEqual(self.m["execute.core_util"], 10.0 / (5.0 * 4))

    def test_construct_driver_time_is_construct_self_time(self):
        # construct spans 4 s; its jobs cover [1, 2.5] s
        self.assertAlmostEqual(self.m["construct.driver_s"], 2.5)

    def test_unattributed_time_is_pass_minus_construct_and_materialize(self):
        # pass 10 s; construct 4 s + materialize 5 s
        self.assertAlmostEqual(self.m["trace.unattributed_frac"], 0.1)

    def test_counts_come_from_the_traced_pass(self):
        self.assertEqual(self.m["construct.jobs"], 2)
        self.assertEqual(self.m["construct.schema_jobs"], 1)
        self.assertEqual(self.m["execute.tasks"], 8)
        self.assertEqual(self.m["execute.rows_examined_per_row"], 3.0)
        self.assertEqual(self.m["sink.bytes_written"], 100)
        self.assertEqual(self.m["sink.files_written"], 3)

    def test_jvm_figures_cover_the_cold_pass(self):
        self.assertEqual(self.m["jvm.jit_s"], 4.0)
        self.assertAlmostEqual(self.m["jvm.gc_s"], 0.6)
        self.assertEqual(self.m["jvm.peak_rss_mb"], 1024.0)

    def test_overhead_compares_traced_and_untraced_steady_passes(self):
        self.assertAlmostEqual(self.m["trace.overhead_frac"], 10.0 / 8.0 - 1)


    def test_every_declared_metric_is_derived(self):
        self.assertEqual(set(self.m), set(run.declared_metrics(trace=1)))
        e2e, _ = run.end_to_end(traced_run())
        self.assertEqual(set(e2e), set(run.declared_metrics(trace=0)))


class CrossPassReuseTest(unittest.TestCase):
    def test_clean_passes_pass(self):
        self.assertEqual(run.cross_pass_reuse(traced_run()["passes"]), [])

    def test_dirty_cache_or_fewer_construct_jobs_fail(self):
        passes = traced_run()["passes"]
        passes[1]["execs"][0]["cache_clean"] = False
        passes[2]["execs"][0]["construct_jobs"] = 1
        self.assertEqual([(i, q) for i, q, _ in run.cross_pass_reuse(passes)],
                         [(1, "q"), (2, "q")])


if __name__ == "__main__":
    unittest.main()
