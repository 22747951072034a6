"""Tests of the benchmark's own accounting. Run from the repo root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tick(offset, due, sent, lines=10, phase="open"):
    return {"offset": offset, "due_ms": due, "sent_ms": sent, "first": 0,
            "lines": lines, "phase": phase}


def batch(start_offset, end_offset, start_ms, took_ms, state=None):
    return {"batch_id": 0, "start_offset": start_offset, "end_offset": end_offset,
            "start_ms": start_ms, "state": state or {},
            "durations": {"triggerExecution": took_ms, "addBatch": took_ms - 5,
                          "queryPlanning": 2, "latestOffset": 1, "getBatch": 0,
                          "walCommit": 1, "commitOffsets": 1}}


def record(n_ticks=200, late=0):
    """A run whose open loop sends one offset every 10 ms and commits each
    offset in its own batch 100 ms after it was due."""
    ticks = [tick(0, 0, 0, phase="warm")]
    batches = [batch(-1, 0, 0, 5)]
    for k in range(1, n_ticks + 1):
        due = 1000 + 10 * k
        ticks.append(tick(k, due, due + (late if k == 7 else 0)))
        batches.append(batch(k - 1, k, due + 50, 50))
    return {
        "setup": {"setup_s": 3.5, "dim_load_s": 0.25},
        "open": {"start_ms": 1000, "end_ms": 1000 + 10 * n_ticks + 200},
        "closed": {"start_ms": 5000, "end_ms": 7000},
        "heap_mb": 100.0,
        "ticks": ticks,
        "batches": batches,
        "fed_lines": 10 * (n_ticks + 1),
        "check": {"failed": 0},
    }


class Percentile(unittest.TestCase):
    def test_rank_count_and_samples_beyond(self):
        v, n, beyond = metrics.percentile(list(range(1, 201)), 0.95)
        self.assertEqual((v, n, beyond), (190, 200, 10))

    def test_too_few_samples_beyond_p95_invalidates_the_run(self):
        rec = record(n_ticks=199)
        res, notes = metrics.result(rec, trace=False)
        self.assertEqual(notes["latency_p95_beyond"], 9)
        self.assertFalse(res["correct"])
        res, _ = metrics.result(record(n_ticks=200), trace=False)
        self.assertTrue(res["correct"])

    def test_median_of_even_count(self):
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)


class Lateness(unittest.TestCase):
    def test_only_open_loop_ticks_count(self):
        ticks = [tick(0, 0, 5000, phase="warm"), tick(1, 100, 130), tick(2, 120, 125),
                 tick(3, 9000, 9900, phase="closed")]
        self.assertEqual(metrics.late_ms_max(ticks), 30)

    def test_a_late_tick_keeps_its_due_time_as_creation_stamp(self):
        rec = record(late=400)
        # tick 7 went out 400 ms late; its latency still runs from its due time
        lat = metrics.latency_samples(rec["ticks"], rec["batches"])
        self.assertEqual(set(lat), {100})
        res, notes = metrics.result(rec, trace=False)
        self.assertTrue(res["correct"])

    def test_generator_falling_behind_invalidates_the_run(self):
        res, notes = metrics.result(record(late=metrics.LATE_LIMIT_MS + 1), trace=False)
        self.assertFalse(res["correct"])
        self.assertTrue(any("behind" in p for p in notes["problems"]))


class OffsetsToBatches(unittest.TestCase):
    def test_ranges_are_exclusive_start_inclusive_end(self):
        ticks = [tick(o, 0, 0) for o in range(6)]
        batches = [batch(-1, 2, 10, 5), batch(2, 2, 20, 5), batch(2, 5, 30, 5)]
        self.assertEqual(metrics.batch_of_offsets(ticks, batches),
                         {0: 0, 1: 0, 2: 0, 3: 2, 4: 2, 5: 2})
        self.assertEqual(metrics.batch_lines(ticks, batches[2]), 30)
        self.assertEqual(metrics.lost_lines(ticks, batches), 0)

    def test_latency_runs_from_due_time_to_the_holding_batch_commit(self):
        ticks = [tick(0, 100, 100), tick(1, 120, 121), tick(2, 140, 141)]
        batches = [batch(-1, 1, 130, 70), batch(1, 2, 200, 50)]
        self.assertEqual(metrics.latency_samples(ticks, batches), [100, 80, 110])

    def test_uncommitted_or_doubly_committed_offsets_are_lost(self):
        ticks = [tick(0, 0, 0, lines=7), tick(1, 0, 0, lines=5), tick(2, 0, 0, lines=3)]
        batches = [batch(-1, 1, 10, 5), batch(0, 1, 20, 5)]
        self.assertEqual(metrics.lost_lines(ticks, batches), 5 + 3)
        rec = record()
        rec["batches"].pop()
        res, _ = metrics.result(rec, trace=False)
        self.assertEqual(res["failed"], 10)
        self.assertFalse(res["correct"])

    def test_throughput_is_the_median_block_rate(self):
        ticks = [tick(501, 0, 0, lines=1000, phase="closed"),
                 tick(502, 0, 200, lines=900, phase="closed"),
                 tick(503, 0, 700, lines=1000, phase="closed")]
        batches = [batch(500, 501, 50, 150), batch(501, 502, 250, 250), batch(502, 503, 750, 200)]
        self.assertEqual(metrics.block_rates(ticks, batches), [5000.0, 3000.0, 4000.0])
        rec = record()
        rec["ticks"] += ticks
        rec["batches"] += batches
        res, _ = metrics.result(rec, trace=False)
        self.assertEqual(res["metrics"]["throughput_rows_per_s"]["value"], 4000.0)

    def test_backlog_is_sent_minus_committed_at_each_commit(self):
        ticks = [tick(1, 0, 0), tick(2, 10, 10), tick(3, 20, 20), tick(4, 30, 30)]
        batches = [batch(0, 1, 5, 20), batch(1, 4, 30, 10)]
        # at 25 ms three offsets were sent and one committed; at 40 ms none left
        self.assertEqual(metrics.backlog_rows_max(ticks, batches), 20)


def traced_record():
    rec = record()
    rec["layers"] = {"decode.rows_dropped": 1, "dim.loads": 2,
                     "dim.rows": 50, "sink.files": 9, "sink.bytes": 900,
                     "files_per_batch": [2, 3, 4], "triggers": 4,
                     "engine_open": {k: 8 for k in metrics.ENGINE}}
    return rec


def span(i, dur, jobs, codegen=0.0):
    return {"id": i, "dur_ms": dur, "spark.jobs": jobs, "codegen.compile_ms": codegen}


def op(name, layer, i, oracle="", error=""):
    return {"name": name, "layer": layer, "span": i, "oracle": oracle, "error": error}


class Layers(unittest.TestCase):
    def test_ladder_self_times_are_differences_of_rung_medians(self):
        lay = {"ladder": {"rungs_ms": [[10, 12, 11], [30, 31, 29], [31, 40, 35],
                                       [50, 50, 50], [80, 70, 90], [100, 100, 100]],
                          "branch1_rows": 60, "branch2_join_rows": 80, "rows_out": 40}}
        m = metrics.ladder(lay)
        self.assertEqual([m[k] for k in metrics.LADDER], [11, 19, 5, 15, 30, 20])
        self.assertEqual(m["dedup.keep_ratio"], 0.5)
        self.assertEqual(metrics.ladder({})["decode.self_ms"], 0.0)

    def test_library_layers_sum_their_operation_spans(self):
        rec = {"spans": [span(1, 100.0, 5, 7.0), span(2, 50.0, 3, 1.0), span(3, 20.0, 2),
                         span(4, 30.0, 4), span(5, 10.0, 1)],
               "library": {"ops": [op("shards.write", "shards.write", 1),
                                   op("shards.build_all", "shards.build_all", 2),
                                   op("dedup_stored_keep", "stored_read", 3, "dedup_stored_keep"),
                                   op("dedup_stored_terms", "stored_read", 4, "dedup_stored_terms"),
                                   op("q1_agg", "rel", 5, "q1_agg")]}}
        m = metrics.library(rec)
        self.assertEqual((m["shards.write.self_ms"], m["shards.write.jobs"],
                          m["shards.write.codegen_ms"]), (100.0, 5, 7.0))
        self.assertEqual((m["stored_read.self_ms"], m["stored_read.jobs"]), (50.0, 6))
        self.assertEqual((m["rel.self_ms"], m["rel.jobs"]), (10.0, 1))
        self.assertEqual(m["shards.rebuild.self_ms"], 0)
        self.assertEqual(metrics.library({})["rel.jobs"], 0)

    def test_a_library_operation_fails_on_error_mismatch_or_no_compare(self):
        rec = traced_record()
        rec["library"] = {"ops": [op("shards.write", "shards.write", 1),
                                  op("shards.append", "shards.append", 2, error="boom"),
                                  op("q1_agg", "rel", 3, "q1_agg"),
                                  op("q6_forecast_revenue", "rel", 4, "q6_forecast_revenue"),
                                  op("q3_join_topk", "rel", 5, "q3_join_topk")],
                          "oracle": {"q1_agg": "", "q6_forecast_revenue": "hash mismatch"}}
        self.assertEqual(len(metrics.library_failures(rec)), 3)
        self.assertEqual(metrics.attempted(rec), rec["fed_lines"] + 5)
        res, _ = metrics.result(rec, trace=False)
        self.assertEqual(res["failed"], 3)
        self.assertFalse(res["correct"])


class OracleCompare(unittest.TestCase):
    def setUp(self):
        try:
            import pandas as pd
            import oracle
        except ImportError:
            self.skipTest("duckdb or pandas missing")
        self.pd, self.oracle = pd, oracle

    def compare(self, a, b):
        return self.oracle.compare(self.oracle.summary(self.pd.DataFrame(a)),
                                   self.oracle.summary(self.pd.DataFrame(b)))

    def test_row_and_column_order_do_not_matter(self):
        self.assertEqual(self.compare({"x": [1, 2], "y": ["a", "b"]},
                                      {"y": ["b", "a"], "x": [2, 1]}), "")

    def test_values_and_types_do(self):
        a = {"x": [1, 2]}
        self.assertEqual(self.compare(a, {"x": [1, 3]}), "hash mismatch")
        self.assertEqual(self.compare(a, {"x": [1.0, 2.0]}), "hash mismatch")
        self.assertIn("rows", self.compare(a, {"x": [1]}))
        self.assertIn("schema", self.compare(a, {"y": [1, 2]}))


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.bench[key]}

    def test_benchmark_json_declares_every_metric_with_its_unit(self):
        self.assertEqual(self.declared("end_to_end"), metrics.END_TO_END)
        self.assertEqual(self.declared("per_layer"), metrics.PER_LAYER)

    def test_every_printed_name_is_declared(self):
        res, _ = metrics.result(record(), trace=False)
        e2e = self.declared("end_to_end")
        self.assertEqual(set(res["metrics"]), set(e2e))
        for k, v in res["metrics"].items():
            self.assertEqual(v["unit"], e2e[k])
        rec = traced_record()
        rec["ticks"] += [tick(501, 0, 0, lines=800, phase="closed"),
                         tick(502, 0, 1000, lines=1000, phase="closed_untraced")]
        rec["batches"] += [batch(500, 501, 0, 1000), batch(501, 502, 1000, 1000)]
        rec["local1"] = {"ticks": [tick(1, 0, 0, lines=500, phase="closed")],
                         "batches": [batch(0, 1, 0, 1000)]}
        res, _ = metrics.result(rec, trace=True)
        self.assertEqual(set(res["metrics"]), set(self.declared("per_layer")))
        self.assertAlmostEqual(res["metrics"]["trace.overhead_share"]["value"], 0.2)
        self.assertEqual(res["metrics"]["scaling.local1_rows_per_s"]["value"], 500.0)

    def test_workloads_match_the_runner(self):
        import run
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
