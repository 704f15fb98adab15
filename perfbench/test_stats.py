"""Tests of the benchmark's own statistics and trace attribution.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import run
import stats


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [7, 1, 3, 5, 9, 11, 13]
        self.assertEqual(stats.median(xs), 7)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.quartiles(xs), (3, 7, 11))
        self.assertEqual(stats.quartiles([2.0, 1.0]), (0.75, 1.5, 2.25))

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90.0, 100))
        self.assertEqual(stats.tail(list(range(40, 0, -1))), (30, 75.0, 40))
        # 21 samples: the 11th largest is the 11th of 21, p52.4
        value, pct, n = stats.tail(list(range(1, 22)))
        self.assertEqual((value, n), (11, 21))
        self.assertAlmostEqual(pct, 100 * 11 / 21)

    def test_tail_with_few_samples_keeps_half_beyond(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3]), (3, 60.0, 5))
        self.assertEqual(stats.tail([2.0]), (2.0, 100.0, 1))

    def test_self_time_subtracts_union_of_overlapping_children(self):
        spans = [
            {"id": "p", "parent": None, "start": 0, "end": 10},
            {"id": "a", "parent": "p", "start": 1, "end": 4},
            {"id": "b", "parent": "p", "start": 3, "end": 6},   # overlaps a
            {"id": "c", "parent": "p", "start": 8, "end": 12},  # runs past p
            {"id": "a1", "parent": "a", "start": 1, "end": 2},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"p": 10 - 5 - 2, "a": 2, "b": 3, "c": 4, "a1": 1})

    def test_self_time_of_nested_duplicates(self):
        spans = [{"id": "p", "parent": None, "start": 0, "end": 4},
                 {"id": "x", "parent": "p", "start": 1, "end": 3},
                 {"id": "y", "parent": "p", "start": 1, "end": 3}]
        self.assertEqual(stats.self_times(spans)["p"], 2)

    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(40, 2), 0.05)
        self.assertEqual(stats.failed_frac(7, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


def key_run(key, tag, start, end, error=None):
    return {"key": key, "tag": tag, "start_ms": start, "built_ms": start + 1,
            "end_ms": end, "s": (end - start) / 1e3, "build_s": 1e-3, "error": error}


def stage(sid, tasks, cpu_ns):
    row = {f: 0 for _, (f, _) in stats.TASK_SUMS.items()}
    row.update({"stage": sid, "attempt": 0, "start_ms": 0, "end_ms": 0,
                "tasks": tasks, "cpu_ns": cpu_ns})
    return row


def raw_record():
    """Two serial passes of two keys; the second pass is traced."""
    timed = {"label": "timed0", "start_ms": 0, "end_ms": 50, "wall_s": 0.05, "cpu_s": 0.12,
             "runs": [key_run("a", "perfbench-1", 0, 20), key_run("b", "perfbench-2", 20, 50)]}
    traced = {"label": "traced0", "start_ms": 100, "end_ms": 200, "wall_s": 0.1, "cpu_s": 0.3,
              "runs": [key_run("a", "perfbench-3", 100, 140),
                       key_run("b", "perfbench-4", 140, 200, error="boom")]}
    trace = {
        "jobs": [
            {"job": 1, "start_ms": 105, "end_ms": 130, "tags": ["perfbench-3"], "stages": [1, 2]},
            {"job": 2, "start_ms": 150, "end_ms": 160, "tags": ["perfbench-4"], "stages": [3]},
            {"job": 3, "start_ms": 170, "end_ms": 171, "tags": [], "stages": []},
            # a tag of an untraced pass, seen inside a traced window
            {"job": 4, "start_ms": 180, "end_ms": 181, "tags": ["perfbench-1"], "stages": []},
            {"job": 5, "start_ms": 10, "end_ms": 12, "tags": [], "stages": []},  # untraced pass
        ],
        "stages": [stage(1, 4, 2e9), stage(2, 1, 1e9), stage(3, 2, 5e8)],
        "plans": [{"func": "command",
                   "analysis": {"start_ms": 101, "end_ms": 103},
                   "planning": {"start_ms": 103, "end_ms": 104}},
                  {"func": "command",  # an untraced pass
                   "planning": {"start_ms": 10, "end_ms": 12}}],
        "queries": [{"run": "r1", "tags": ["perfbench-4"]}],
        "progress": [
            {"run": "r1", "start_ms": 150, "rows_in": 10, "state_commit_ms": 3,
             "state_rows": 4, "state_mem_bytes": 100,
             "duration_ms": {"triggerExecution": 30, "addBatch": 20}},
            {"run": "r1", "start_ms": 185, "rows_in": 5, "state_commit_ms": 2,
             "state_rows": 6, "state_mem_bytes": 80,
             "duration_ms": {"triggerExecution": 10, "addBatch": 5}},
        ],
        "jvm": {"gc_s": 0.5, "heap_peak_mb": 300.0},
    }
    return {"workload": "w", "seed": 1, "clients": 1, "keys": ["a", "b"],
            "setup": {"s": 9.0, "jvm_s": 0.5, "session_s": 4.0, "warm_s": 4.5},
            "warm": {"runs": [key_run("a", "perfbench-0", 0, 1)]},
            "timed": [timed], "traced": [traced], "single_client": None,
            "kernels": {"minhash_ns_per_row": 812.5}, "peak_rss_mb": 1000.0, "trace": trace}


class LayersTest(unittest.TestCase):
    def test_summary_counts_every_key_run(self):
        s = stats.summary(raw_record(), {"a": "value mismatch"})
        self.assertEqual(s["_attempted"], 4 + 2)    # timed + traced + checked
        self.assertEqual(s["_failed"], 1 + 1)       # one threw, one mismatched
        self.assertEqual(s["pass_wall_s"], 0.05)
        self.assertEqual(s["pass_cpu_s"], 0.12)
        self.assertEqual(s["query_p50_s"], 0.025)

    def test_records_hang_under_their_key_run(self):
        per_layer, per_key, spans, by_name, unattributed = stats.layers(raw_record())
        self.assertEqual(unattributed, [3, 4])
        self.assertEqual(per_layer["exec.jobs"], 2)
        self.assertEqual(per_layer["exec.tasks"], 7)
        self.assertAlmostEqual(per_layer["exec.cpu_s"], 3.5)
        self.assertEqual(per_key["a"]["exec.cpu_s"], 3.0)
        self.assertAlmostEqual(per_key["a"]["catalyst.analysis_s"], 0.002)
        self.assertEqual(per_layer["catalyst.optimization_s"], 0)
        self.assertEqual(per_key["b"]["streaming.triggers"], 2)
        self.assertEqual(per_layer["streaming.addBatch_ms"], 25)
        self.assertEqual(per_layer["streaming.state_rows"], 6)      # the last report
        self.assertEqual(per_layer["streaming.state_mem_bytes"], 100)  # the peak
        self.assertEqual(per_layer["streaming.trigger_p50_ms"], 20)
        self.assertAlmostEqual(per_layer["trace.overhead_s"], 0.05)
        self.assertEqual(per_layer["plans.minhash_ns_per_row"], 812.5)
        self.assertEqual(per_layer["jvm.rss_peak_mb"], 1000.0)
        # key a: 40 ms, children build [100,101], plan [101,104], job [105,130]
        self.assertAlmostEqual(stats.self_times(spans)["perfbench-3"], 40 - 1 - 3 - 25)
        self.assertAlmostEqual(by_name["pass"], 0.0)
        parents = {sp["id"]: sp["parent"] for sp in spans}
        self.assertEqual(parents["job2"], "triggerr1@150")  # a job inside a trigger
        self.assertEqual(parents["stage3.0"], "job2")

    def test_benchmark_json_names_what_run_prints(self):
        bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.UNITS)
        self.assertEqual(run.WORKLOADS, [w["name"] for w in bench["workloads"]])
        per_layer = stats.layers(raw_record())[0]
        for k in ("unpack_frame", "pack_frame", "poly_hash", "simhash", "shingles", "dot"):
            per_layer[f"plans.{k}_ns_per_row"] = 1.0
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         {k: unit for k, _, unit in run.per_layer_units(per_layer)})


if __name__ == "__main__":
    unittest.main()
