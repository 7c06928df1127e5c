"""Tests of the metric fold on synthetic records.

    python3 perfbench/test_fold.py
"""
import json
import os
import unittest

import fold

HERE = os.path.dirname(os.path.abspath(__file__))


def span(sid, name, start, end, parent=-1, **attrs):
    return dict(id=sid, name=name, parent=parent, start_ms=start, end_ms=end,
                run="r", **attrs)


def job(jid, start, end, stages=()):
    return dict(id=jid, start_ms=start, end_ms=end, stages=list(stages),
                call_site="", span=-1)


def window(samples, attempted, failed=0, work=None, busy_ms=1000.0, traced=False):
    return dict(traced=traced, wall_ms=busy_ms, busy_ms=busy_ms, cpu_ms=busy_ms * 2,
                work=attempted if work is None else work, attempted=attempted,
                failed=failed, failures=["x"] * failed, samples=samples)


class Primitives(unittest.TestCase):

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(fold.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(fold.union_ms([(0, 10), (5, 15)], clip=(8, 12)), 4)
        self.assertEqual(fold.union_ms([(0, 5)], clip=(6, 9)), 0)
        self.assertEqual(fold.union_ms([]), 0)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, "a", 0, 100), span(2, "b", 10, 40, parent=1),
                 span(3, "c", 30, 60, parent=1), span(4, "d", 70, 80, parent=2)]
        # children of 1 cover [10, 60]; the grandchild does not count
        self.assertEqual(fold.self_ms(spans[0], spans), 50)
        self.assertEqual(fold.self_ms(spans[1], spans), 30)  # its child lies outside it

    def test_driver_time_is_span_minus_union_of_its_jobs(self):
        s = span(1, "sinks.lookup", 100, 200)
        jobs = [job(1, 110, 130), job(2, 120, 150), job(3, 180, 230),
                job(4, 250, 260)]  # job 4 started after the span
        self.assertEqual([j["id"] for j in fold.jobs_in(s, jobs)], [1, 2, 3])
        # jobs cover [110,150] and [180,200] inside the span: 60 of 100 ms
        self.assertEqual(fold.driver_ms(s, jobs), 40)

    def test_percentile_reports_its_sample_count(self):
        xs = list(range(1, 11))
        self.assertEqual(fold.percentile(xs, 50), (5.5, 10))
        v, n = fold.percentile(xs, 90)
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(n, 10)
        self.assertEqual(fold.percentile([7.0], 90), (7.0, 1))
        self.assertEqual(fold.percentile([], 50), (0.0, 0))

    def test_failed_frac(self):
        self.assertEqual(fold.failed_frac(1, 4), 0.25)
        self.assertEqual(fold.failed_frac(0, 9), 0.0)
        self.assertEqual(fold.failed_frac(0, 0), 1.0)


def table_record():
    """A traced table_serve run: two lookups and one merge."""
    spans = [span(1, "sinks.lookup", 1000, 1100, fs={"bytesRead": 10}),
             span(2, "sinks.merge", 1200, 1500),
             span(3, "sinks.lookup", 1600, 1700)]
    jobs = [job(1, 1010, 1040, stages=[1]), job(2, 1050, 1090, stages=[2]),
            job(3, 1210, 1300, stages=[3]), job(4, 1350, 1450, stages=[4]),
            job(5, 1610, 1690, stages=[5]),
            job(6, 1800, 1900, stages=[6])]  # a check, outside every span
    stage = lambda sid, tasks: dict(id=sid, attempt=0, tasks=tasks, run_ms=10,
                                    cpu_ms=5.0, gc_ms=1, shuffle_write_bytes=100,
                                    spill_bytes=0, input_bytes=0)
    plans = [
        dict(func="collect", span=1, observed={},
             nodes=[dict(node="Scan parquet ", numFiles=2, filesSize=300,
                         numOutputRows=8)]),
        dict(func="command", span=2, observed={},
             nodes=[dict(node="Execute InsertIntoHadoopFsRelationCommand",
                         numFiles=4, numOutputBytes=4000, numOutputRows=6000)]),
        dict(func="collect", span=3, observed={},
             nodes=[dict(node="Scan parquet ", numFiles=1, filesSize=100,
                         numOutputRows=4)]),
        dict(func="count", span=-1, observed={},
             nodes=[dict(node="Scan parquet ", numFiles=9, filesSize=9,
                         numOutputRows=9)]),
    ]
    return {
        "workload": "table_serve", "seed": 1, "params": {"merge_keys": 2000},
        "env": {}, "peak_rss_mb": 1000.0,
        "setup": {"session_s": 4.0, "stage_s": [3.0, 1.0, 2.0], "warmup_s": 1.5},
        "warmup": window({}, 1),
        "windows": [window({"lookup": [100.0, 120.0], "merge": [300.0]}, 3),
                    window({"lookup": [110.0, 130.0], "merge": [310.0]}, 3,
                           traced=True),
                    window({"lookup": [104.0, 126.0], "merge": [304.0]}, 3)],
        "trace": {"window_ms": [900, 2000], "spans": spans, "jobs": jobs,
                  "stages": [stage(i, 4) for i in range(1, 7)],
                  "progress": [], "plans": plans},
    }


class Fold(unittest.TestCase):

    def test_setup_is_session_plus_median_staging_plus_warmup(self):
        self.assertEqual(fold.setup_s(table_record()), 4.0 + 2.0 + 1.5)

    def test_end_to_end(self):
        m = fold.end_to_end(table_record())
        self.assertEqual(set(m), {n for n, _, _ in fold.END_TO_END})
        self.assertEqual(m["latency_ms.p50"], 120.0)
        self.assertEqual(m["throughput_per_s"], 3.0)

    def test_per_layer_attributes_jobs_and_plans_to_spans(self):
        m = fold.per_layer(table_record())
        self.assertEqual(set(m), {n for n, _, _ in fold.PER_LAYER})
        self.assertEqual(m["sinks.lookup_jobs"], 1.5)      # 2 and 1 jobs
        self.assertEqual(m["sinks.lookup_driver_ms"], 25)  # median of 30 and 20
        self.assertEqual(m["sinks.merge_jobs"], 2)
        self.assertEqual(m["sinks.merge_driver_ms"], 300 - 190)
        self.assertEqual(m["sinks.lookup_bytes_read"], 200)
        self.assertEqual(m["sinks.files_written"], 4)
        self.assertEqual(m["sinks.write_amp"], 3.0)
        # the check's job and scan (outside every span) are not graft's
        self.assertEqual(m["spark.jobs"], 5 / 3)
        self.assertEqual(m["spark.tasks"], 20 / 3)
        self.assertEqual(m["sources.scan_bytes"], 400 / 3)
        self.assertEqual(m["spark.driver_gap_ms"], (30 + 110 + 20) / 3)
        self.assertEqual(m["sinks.fs_bytes_read"], 10 / 3)
        self.assertEqual(m["trace.overhead_ms"], 130.0 - 123.0)
        self.assertEqual(m["streaming.triggers"], 0.0)

    def test_streaming_layers_fold_per_trigger(self):
        rec = table_record()
        rec["workload"] = "changefeed_merge"
        progress = []
        for i, (start, add) in enumerate([("2026-01-01T00:00:01.000Z", 800),
                                          ("2026-01-01T00:00:02.000Z", 600),
                                          ("2026-01-01T00:00:03.000Z", 500)]):
            progress.append(json.dumps({
                "timestamp": start, "batchId": i,
                "numInputRows": 0 if i == 2 else 5000,
                "durationMs": {"addBatch": add, "triggerExecution": add + 100,
                               "walCommit": 20, "commitOffsets": 30,
                               "queryPlanning": 7, "latestOffset": 1,
                               "getBatch": 2},
                "stateOperators": [{"numRowsTotal": 10, "memoryUsedBytes": 64,
                                    "commitTimeMs": 5,
                                    "numStateStoreInstances": 4}]}))
        base = fold.epoch_ms("2026-01-01T00:00:00.000Z")
        rec["trace"]["spans"] = [span(1, "cdc.drain", base, base + 4000)]
        rec["trace"]["jobs"] = [job(1, base + 1100, base + 1500),
                                job(2, base + 2100, base + 2300)]
        rec["trace"]["plans"] = [dict(func="localCheckpoint", span=1,
                                      observed={"chain_in": 10000, "chain_out": 9000},
                                      nodes=[])]
        rec["trace"]["progress"] = progress
        rec["windows"][1]["attempted"] = 1
        m = fold.per_layer(rec)
        self.assertEqual(m["streaming.triggers"], 2)  # the no-data batch is not one
        # the drain's self time: 4000 ms minus its three micro-batches
        self.assertEqual(m["streaming.startstop_ms"], 4000 - 900 - 700 - 600)
        self.assertEqual(m["streaming.addbatch_ms"], 700)
        self.assertEqual(m["streaming.overhead_ms"], 100)
        self.assertEqual(m["streaming.commit_ms"], 50)
        self.assertEqual(m["sources.offset_ms"], 3)
        self.assertEqual(m["streaming.state_instances"], 4)
        self.assertEqual(m["chain.rows_out"], 4500)
        self.assertEqual(m["sinks.merge_jobs"], 1)
        # trigger 1: 800 - 400 of jobs; trigger 2: 600 - 200
        self.assertEqual(m["sinks.merge_driver_ms"], 400)

    def test_report_counts_failures_and_marks_incorrect(self):
        rec = table_record()
        rec["windows"][0]["failed"] = 1
        result, detail = fold.report(rec, traced=False)
        self.assertFalse(result["correct"])
        self.assertEqual(result["attempted"], 10)
        self.assertEqual(result["failed"], 1)
        self.assertEqual(detail["workload_metrics"]["failed_frac"]["value"], 1 / 3)
        self.assertEqual(detail["workload_metrics"]["cpu_ms_per_op"]["value"], 1000.0)
        self.assertEqual(detail["workload_metrics"]["table.merge_ms.p50"],
                         {"value": 300.0, "unit": "ms", "n": 1})
        ok, _ = fold.report(table_record(), traced=True)
        self.assertTrue(ok["correct"])
        self.assertEqual(set(ok["metrics"]), {n for n, _, _ in fold.PER_LAYER})

    def test_pair_counts_read_the_verification_filter(self):
        plans = [dict(nodes=[dict(node="Filter", numOutputRows=50),
                             dict(node="SortAggregate", numOutputRows=2000),
                             dict(node="Filter", numOutputRows=7)])]
        self.assertEqual(fold.pair_counts(plans), (2000, 50))


class BenchmarkJson(unittest.TestCase):

    def test_metric_lists_match_the_fold(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         fold.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         fold.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
