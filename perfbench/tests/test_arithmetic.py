"""Tests of the benchmark's own arithmetic and verdicts (no JVM needed).

  python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(stats.union_length([(0, 4), (2, 6)]), 6)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(4, 5), (0, 1), (1, 2)]), 3)  # touching, unsorted

    def test_clipped_to_the_op_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], lo=0, hi=10), 4)
        self.assertEqual(stats.union_length([(20, 30)], lo=0, hi=10), 0)

    def test_unfinished_and_empty(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, -1)]), 0)

    def test_driver_only_time_is_wall_minus_job_union(self):
        op = {"start_us": 0, "end_us": 10_000_000, "seconds": 10.0}
        jobs = [
            {"start_us": 1_000_000, "end_us": 3_000_000, "stages": 2, "tasks": 8, "task_ms": 500,
             "shuffle_bytes": 1 << 20, "spill_bytes": 0, "gc_ms": 10},
            {"start_us": 2_000_000, "end_us": 4_000_000, "stages": 1, "tasks": 4, "task_ms": 250,
             "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0},
            # starts after the op ended: another op's job
            {"start_us": 11_000_000, "end_us": 12_000_000, "stages": 9, "tasks": 9, "task_ms": 9,
             "shuffle_bytes": 9, "spill_bytes": 9, "gc_ms": 9},
        ]
        m = metrics._spark_counters(op, jobs)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertEqual(m["spark.stages"][0], 3)
        self.assertAlmostEqual(m["spark.job_active_s"][0], 3.0)
        self.assertAlmostEqual(m["driver.only_s"][0], 7.0)
        self.assertAlmostEqual(m["spark.task_s"][0], 0.75)
        self.assertAlmostEqual(m["spark.shuffle_mb"][0], 1.0)


class Median(unittest.TestCase):
    def test_odd_even_and_empty(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class Spans(unittest.TestCase):
    def test_layer_times_jobs_and_the_gap_between_calls(self):
        s = 1_000_000
        op = {"i": 1, "start_us": 0, "end_us": 10 * s, "seconds": 10.0}
        spans = [
            {"id": 0, "name": "op", "start_us": 0, "end_us": 10 * s, "parent": -1, "op": 1},
            {"id": 1, "name": "query.a", "start_us": 1 * s, "end_us": 3 * s, "parent": 0, "op": 1},
            {"id": 2, "name": "query.b", "start_us": 3 * s, "end_us": 8 * s, "parent": 0, "op": 1},
            {"id": 3, "name": "inner", "start_us": 4 * s, "end_us": 5 * s, "parent": 2, "op": 1},
            {"id": 4, "name": "query.a", "start_us": 0, "end_us": 9 * s, "parent": -1, "op": 2},
        ]
        jobs = [{"start_us": 2 * s}, {"start_us": 4 * s}, {"start_us": 7 * s}, {"start_us": 9 * s}]
        m = metrics._span_metrics(op, spans, jobs, "queries")
        self.assertAlmostEqual(m["query.a_s"][0], 2.0)
        self.assertAlmostEqual(m["query.b_s"][0], 5.0)
        self.assertEqual(m["query.a.jobs"][0], 1)
        self.assertEqual(m["query.b.jobs"][0], 2)
        self.assertAlmostEqual(m["inner_s"][0], 1.0)
        self.assertAlmostEqual(m["queries.gap_s"][0], 3.0)  # nested spans are not counted twice


class ErrorRate(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(stats.error_rate(4, 0), 0.0)
        self.assertEqual(stats.error_rate(4, 1), 0.25)
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(2, 3)


def _pipeline_run(counts, ops=3):
    """Records of a pipeline run whose every op produced `counts`."""
    checks = [{"check": "row_count", "value": 7.0, "passed": True}]
    recs = metrics.by_kind(
        [{"kind": "setup", "seconds": 9.0, "jvm_s": 0.4, "session_s": 5.1, "open_s": 3.5}]
        + [{"kind": "op", "i": i, "phase": "cold" if i == 0 else "timed", "traced": False,
            "start_us": 0, "end_us": 1, "seconds": 2.0 if i == 0 else 1.0, "error": None}
           for i in range(ops)]
        + [{"kind": "result", "op": i, "counts": dict(counts), "checks": [dict(c) for c in checks]}
           for i in range(ops)]
        + [{"kind": "heap", "used_mb": 100.0}])
    return recs, ({**counts}, {"row_count": (7.0, True)})


class Verdicts(unittest.TestCase):
    def _verdict(self, recs, expected):
        bad = {o["i"]: [] for o in recs["op"]}
        for i, r in {r["op"]: r for r in recs["result"]}.items():
            bad[i] += verify.check_pipeline(r, expected)
        return run.report("pipeline", recs, bad, 0, SPEC)

    def test_matching_outputs_pass(self):
        recs, expected = _pipeline_run({"artists": 106, "tracks": 3410})
        result, code = self._verdict(recs, expected)
        self.assertEqual((result["correct"], result["failed"], code), (True, 0, 0))
        self.assertEqual(result["metrics"]["success_rate"]["value"], 1.0)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 9.0)
        self.assertEqual(result["metrics"]["first_op_s"]["value"], 2.0)

    def test_corrupted_expected_value_fails_the_command(self):
        recs, (counts, checks) = _pipeline_run({"artists": 106, "tracks": 3410})
        counts["tracks"] += 1
        result, code = self._verdict(recs, (counts, checks))
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertEqual(result["metrics"]["success_rate"]["value"], 0.0)
        self.assertNotEqual(code, 0)

    def test_a_failed_check_verdict_fails_the_op(self):
        recs, expected = _pipeline_run({"artists": 106})
        recs["result"][1]["checks"][0]["passed"] = False
        result, code = self._verdict(recs, expected)
        self.assertEqual((result["failed"], code), (1, 1))
        self.assertAlmostEqual(result["metrics"]["success_rate"]["value"], 2 / 3)

    def test_funnel_invariants(self):
        ok = {"fed": 100, "kept": 70, "quarantined": 30, "packed": 70, "users": 40, "pairs": 30}
        self.assertEqual(verify.check_funnel(ok), [])
        self.assertEqual(len(verify.check_funnel({**ok, "pairs": 31})), 1)
        self.assertEqual(len(verify.check_funnel({**ok, "kept": 69})), 1)
        self.assertEqual(verify.check_compaction({"rows_before": [3, 9], "rows_after": [3, 9]}), [])
        self.assertEqual(len(verify.check_compaction({"rows_before": [3, 9], "rows_after": [3, 8]})), 1)


class Inputs(unittest.TestCase):
    def test_the_seed_fixes_the_inputs(self):
        def tables(seed):
            with tempfile.TemporaryDirectory() as d:
                rows = gen.generate(d, seed, 0.001, docs=50)
                return rows, {f.name: f.read_bytes() for f in sorted(Path(d).iterdir())}
        rows, first = tables(3)
        self.assertEqual(tables(3)[1], first)
        self.assertNotEqual(tables(4)[1]["lineitem.parquet"], first["lineitem.parquet"])
        self.assertEqual((rows["lineitem"], rows["documents"], rows["nation"]), (6000, 50, 25))


class Spec(unittest.TestCase):
    def test_end_to_end_metrics_are_the_ones_reported(self):
        recs, expected = _pipeline_run({"artists": 106})
        result, _ = run.report("pipeline", recs, {0: [], 1: [], 2: []}, 0, SPEC)
        self.assertEqual([m["name"] for m in SPEC["end_to_end"]], list(result["metrics"]))
        for m in SPEC["end_to_end"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_gated_workloads_exist(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
