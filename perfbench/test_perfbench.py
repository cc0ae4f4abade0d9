"""Tests of the benchmark itself: printed metric names and units, the
percentile rule and the span analysis. No JVM needed.

Run from the root of a graft checkout:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(BENCH)


def load(*parts):
    with open(os.path.join(*parts)) as f:
        return json.load(f)


E2E = {  # name -> (unit, better), the contract later changes cite by name
    "setup_s": ("s", "lower"),
    "cold_pass_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "query_s_p50": ("s", "lower"),
    "heap_after_gc_mb": ("MB", "lower"),
}


def span(id, parent, name, layer, start, end, qid=None, module=None, pass_=-1):
    return {"kind": "span", "id": id, "parent": parent, "name": name, "layer": layer,
            "qid": qid, "module": module, "pass": pass_, "start_us": start, "end_us": end}


def fake_run():
    """One cold and two warm passes (the second traced) of one query."""
    lines = [span(1, 0, "run", "bench", 0, 10_000_000)]
    passes, nid = [], 2
    for p, (a, traced) in enumerate([(0, False), (3_000_000, False), (6_000_000, True)]):
        qid = f"{p}/qa"
        pid, qsid = nid, nid + 1
        nid += 4
        lines += [span(pid, 1, "pass", "bench", a, a + 2_000_000, pass_=p),
                  span(qsid, pid, "query", "bench", a, a + 2_000_000, qid, "pipeline"),
                  span(qsid + 1, qsid, "queries.build", "queries", a, a + 500_000, qid),
                  span(qsid + 2, qsid, "queries.execute", "spark", a + 500_000, a + 2_000_000, qid)]
        passes.append({"index": p, "kind": "cold" if p == 0 else "warm", "traced": traced,
                       "wall_s": 2.0, "gc_s": 0.01,
                       "queries": [{"name": "qa", "build_s": 0.5, "execute_s": 1.5,
                                    "wall_s": 2.0, "error": None}]})
    a = 6_000_000
    lines += [
        {"kind": "job", "id": 7, "qid": "2/qa", "phase": "execute", "start_us": a + 600_000,
         "end_us": a + 1_800_000, "ok": True, "stages": [1, 2]},
        # two overlapping stages: 0.6-1.4 s and 1.0-1.7 s into the query
        {"kind": "stage", "id": 1, "attempt": 0, "job": 7, "start_us": a + 600_000,
         "end_us": a + 1_400_000, "ok": True, "tasks": 4, "run_ms": 2000, "cpu_ns": 10 ** 9,
         "input_rows": 100, "input_bytes": 1000, "shuffle_write_bytes": 50,
         "shuffle_read_bytes": 0,
         "task_max_ms": 600, "task_median_ms": 400},
        {"kind": "stage", "id": 2, "attempt": 0, "job": 7, "start_us": a + 1_000_000,
         "end_us": a + 1_700_000, "ok": True, "tasks": 2, "run_ms": 1000, "cpu_ns": 5 * 10 ** 8,
         "input_rows": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
         "shuffle_read_bytes": 50,
         "task_max_ms": 500, "task_median_ms": 500},
        {"kind": "batch", "run_id": "r", "batch_id": 0, "start_us": a + 100_000,
         "end_us": a + 400_000, "input_rows": 10,
         "durations_ms": {"addBatch": 200, "walCommit": 20, "triggerExecution": 300},
         "state_rows_total": 5, "state_rows_updated": 5, "state_memory_bytes": 64,
         "state_commit_ms": 30},
        {"kind": "qe", "func": "save", "ok": True, "start_us": a + 500_000,
         "end_us": a + 600_000, "analysis_ms": 10, "optimization_ms": 20, "planning_ms": 30},
    ]
    result = {"setups": [{"total_s": 8.0, "create_s": 4.0, "register_s": 3.0},
                         {"total_s": 1.0, "create_s": 0.1, "register_s": 0.9},
                         {"total_s": 1.2, "create_s": 0.1, "register_s": 1.1}],
              "codegen_cold": {"compiles": 12, "sum_ms": 340.0, "exact": True},
              "heap_after_gc_mb": 100.0, "passes": passes}
    return result, lines


class ContractTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        b = load(ROOT, "BENCHMARK.json")
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(b["paths"], ["perfbench"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_end_to_end_names_and_units_are_pinned(self):
        b = load(ROOT, "BENCHMARK.json")
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}, E2E)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_printed_metrics_cover_the_declared_ones(self):
        b = load(ROOT, "BENCHMARK.json")
        result, lines = fake_run()
        e2e, _ = run.end_to_end(result)
        self.assertEqual(set(e2e), {m["name"] for m in b["end_to_end"]})
        per_layer, _, _ = layers.layer_metrics(result, lines, slots=4)
        self.assertEqual(set(per_layer), {m["name"] for m in b["per_layer"]})

    def test_workloads_have_frozen_lists_and_cached_oracles(self):
        b = load(ROOT, "BENCHMARK.json")
        spec = load(BENCH, "workloads.json")
        oracles = load(BENCH, "oracles.json")
        self.assertEqual([w["name"] for w in b["workloads"]], list(spec["workloads"]))
        for name, w in spec["workloads"].items():
            self.assertTrue(w["queries"], name)
            for q, module in w["queries"].items():
                self.assertIn(q, oracles)
                self.assertIn(module, set(spec["module_of_source"].values()))
        declared = {m["name"] for m in b["per_layer"]} | {m["name"] for m in b["end_to_end"]}
        for row in spec["layer_moves"]:
            self.assertLessEqual(set(row["per_layer"]) | set(row["moves"]), declared)


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 0.5)
        self.assertEqual(run.tail_percentile(99), 0.5)
        self.assertEqual(run.tail_percentile(100), 0.9)
        self.assertEqual(run.tail_percentile(999), 0.9)
        self.assertEqual(run.tail_percentile(1000), 0.99)
        self.assertEqual(run.tail_percentile(10000), 0.999)

    def test_end_to_end_setup_is_the_cold_one(self):
        result, _ = fake_run()
        e2e, extra = run.end_to_end(result)
        self.assertEqual(e2e["setup_s"], 8.0)
        self.assertEqual(extra["resetup_s"], [1.0, 1.2])
        self.assertEqual(extra["warm_passes"], 2)
        self.assertAlmostEqual(e2e["pass_s"], 2.0)

    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(run.quantile(list(range(101)), 0.9), 90)


class SpanAnalysisTest(unittest.TestCase):
    def test_self_times_partition_the_query(self):
        result, lines = fake_run()
        _, rows, rollup = layers.layer_metrics(result, lines, slots=4)
        self.assertEqual(len(rows), 1)
        row = rows[0]
        self.assertAlmostEqual(sum(row["layers"].values()), row["wall_s"], places=6)
        self.assertAlmostEqual(row["coverage"], 1.0)
        # stages union 0.6-1.7 s runs in the query's module; the batch in streaming
        self.assertAlmostEqual(row["layers"]["pipeline"], 1.1, places=6)
        self.assertAlmostEqual(row["layers"]["streaming"], 0.3, places=6)
        self.assertAlmostEqual(rollup["wall_s_per_pass"], 2.0)

    def test_layer_metrics_values(self):
        result, lines = fake_run()
        m, _, _ = layers.layer_metrics(result, lines, slots=4)
        self.assertEqual(m["spark.jobs"], 1)
        self.assertEqual(m["spark.stages"], 2)
        self.assertEqual(m["spark.tasks"], 6)
        self.assertAlmostEqual(m["spark.task_run_s"], 3.0)
        self.assertAlmostEqual(m["spark.core_busy"], 3.0 / (2.0 * 4))
        self.assertAlmostEqual(m["spark.stage_skew_max"], 1.5)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 2.0 - 1.2)
        self.assertAlmostEqual(m["spark.planning_s"], 0.03)
        self.assertAlmostEqual(m["streaming.add_batch_s"], 0.2)
        self.assertAlmostEqual(m["streaming.state_commit_s"], 0.03)
        self.assertAlmostEqual(m["session.create_s"], 4.0)  # the cold set-up
        self.assertAlmostEqual(m["pipeline.build_s"], 0.5)
        self.assertAlmostEqual(m["pipeline.execute_s"], 1.5)
        self.assertAlmostEqual(m["spark.codegen_s"], 0.34)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.0)

    def test_union(self):
        self.assertAlmostEqual(layers.union_s([(0, 2e6), (1e6, 3e6), (5e6, 6e6)], 0, 10e6), 4.0)
        self.assertAlmostEqual(layers.union_s([(0, 2e6)], 1e6, 10e6), 1.0)


if __name__ == "__main__":
    unittest.main()
