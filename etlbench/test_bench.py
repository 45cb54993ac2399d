"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest discover -s etlbench -p 'test_*.py'

They need neither sbt nor a JVM.
"""
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK = os.path.join(HERE, os.pardir, "BENCHMARK.json")

# The per-layer metrics the benchmark is specified to report, in order.
SPEC_PER_LAYER = """
pipeline.extract_s pipeline.transform_s pipeline.load_s
sources.scan_rows sources.scan_mb sources.scan_s catalog.constraints_s
operators.construct_s operators.eager_jobs derived.mb_written derived.files
catalyst.analysis_s catalyst.optimization_s catalyst.planning_s catalyst.executions
codegen.classes codegen.compile_s jvm.jit_s jvm.gc_s jvm.classes_loaded
exec.jobs exec.stages exec.tasks exec.task_run_s exec.task_cpu_s
exec.shuffle_write_mb exec.shuffle_read_mb exec.spill_mb exec.cached_mb exec.skew
exec.failed_tasks sinks.write_s sinks.files sinks.mb
streaming.batches streaming.trigger_s streaming.add_batch_s streaming.commit_s
streaming.list_s streaming.store_mb streaming.rows_in streaming.rows_kept
trace.overhead_ratio""".split()

SPEC_END_TO_END = ["setup_s", "job_s", "warm_job_s", "ingest_p50_s", "ingest_tail_s",
                    "cpu_s", "peak_rss_mb", "fail_ratio"]


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(range(1, 20)), (None, None))
        self.assertEqual(stats.tail(range(1, 21)), (50.0, 10))

    def test_takes_the_highest_percentile_that_qualifies(self):
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90))
        self.assertEqual(stats.tail(range(1, 201)), (95.0, 190))
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990))
        self.assertEqual(stats.tail(range(1, 10001)), (99.9, 9990))

    def test_ten_beyond_holds_for_every_size(self):
        for n in range(20, 400):
            p, v = stats.tail(range(n))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10, n)

    def test_median_of_even_count(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def test_per_layer_matches_spec_and_runner(self):
        names = [m["name"] for m in self.bench["per_layer"]]
        self.assertEqual(names, SPEC_PER_LAYER)
        self.assertEqual(list(run.PER_LAYER), SPEC_PER_LAYER)
        for m in self.bench["per_layer"]:
            self.assertEqual(m["unit"], run.PER_LAYER[m["name"]], m["name"])
            self.assertIn(m["name"].split(".")[0], run.LAYER_MOVES)

    def test_end_to_end_names_come_from_spec(self):
        names = [m["name"] for m in self.bench["end_to_end"]]
        self.assertEqual(names, list(run.END_TO_END))
        self.assertTrue(set(names) <= set(SPEC_END_TO_END))
        for m in self.bench["end_to_end"]:
            self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
            self.assertLessEqual(m["bound"], 0.25)
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_workloads_match_runner(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(names, list(run.WORKLOADS[:len(names)]))
        self.assertEqual(sorted(run.WORKLOADS), sorted(gen.SIZES))
        self.assertEqual(sorted(run.WARM_REPS), sorted(gen.SIZES))


class JsonOutput(unittest.TestCase):
    def test_result_line_shape(self):
        ops = stats.Ops()
        ops.add(4, mismatches=1)
        line = stats.result_line(False, ops, {"job_s": (1.25, "s")})
        self.assertEqual(json.loads(line), {
            "correct": False, "attempted": 4, "failed": 1,
            "metrics": {"job_s": {"value": 1.25, "unit": "s"}}})

    def test_escapes_and_rejects_nan(self):
        s = stats.dumps({"why": 'a "quoted"\nline\\'})
        self.assertEqual(json.loads(s)["why"], 'a "quoted"\nline\\')
        with self.assertRaises(ValueError):
            stats.dumps({"v": math.nan})


class FailRatio(unittest.TestCase):
    def test_counts_exceptions_and_mismatches(self):
        ops = stats.Ops()
        ops.add(3, errors=1)
        ops.add(3, mismatches=2)
        self.assertEqual((ops.attempted, ops.failed), (6, 3))
        self.assertEqual(stats.fail_ratio(ops.attempted, ops.failed), 0.5)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)

    def _jvm(self, reps):
        j = run.Jvm()
        j.jobs = [(r, 1.0, 1.0) for r in range(reps)]
        j.outs = {r: f"out/rep_{r}" for r in range(reps)}
        return j

    def test_check_counts_missing_reps_as_errors(self):
        saved = oracle.expected, oracle.actual
        try:
            oracle.expected = lambda *a, **k: {"out": (["x"], [[1]])}
            oracle.actual = lambda *a, **k: {"out": (["x"], [[1]])}
            ops = stats.Ops()
            run.check("graph_iter", "in", self._jvm(2), ops, 3)
            self.assertEqual((ops.attempted, ops.errors, ops.mismatches), (3, 1, 0))
        finally:
            oracle.expected, oracle.actual = saved

    def test_check_counts_oracle_mismatches(self):
        saved = oracle.expected, oracle.actual
        try:
            oracle.expected = lambda *a, **k: {"out": (["x"], [[1]])}
            oracle.actual = lambda *a, **k: {"out": (["x"], [[2]])}
            ops = stats.Ops()
            run.check("graph_iter", "in", self._jvm(3), ops, 3)
            self.assertEqual((ops.attempted, ops.failed), (3, 3))
            ops = stats.Ops()
            run.check("ingest_drops", "in", self._jvm(5), ops, 5)
            self.assertEqual((ops.attempted, ops.failed), (5, 5))
        finally:
            oracle.expected, oracle.actual = saved


class OracleCompare(unittest.TestCase):
    def test_rows_compare_as_multisets_with_float_tolerance(self):
        exp = {"t": (["a", "b"], [[1, 0.1 + 0.2], [2, None]])}
        self.assertIsNone(oracle.mismatch(exp, {"t": (["a", "b"], [["2", None], ["1", "0.3"]])}))
        self.assertIn("rows", oracle.mismatch(exp, {"t": (["a", "b"], [[1, 0.3]])}))
        self.assertIn("row", oracle.mismatch(exp, {"t": (["a", "b"], [[1, 0.31], [2, None]])}))
        self.assertIn("columns", oracle.mismatch(exp, {"t": (["a", "c"], [[1, 0.3], [2, None]])}))


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as d:
                info = gen.generate("graph_iter", seed, d)
                with open(os.path.join(d, "lineitem.parquet"), "rb") as f:
                    return info, f.read()
        self.assertEqual(digest(7), digest(7))
        self.assertNotEqual(digest(7)[1], digest(8)[1])


if __name__ == "__main__":
    unittest.main()
