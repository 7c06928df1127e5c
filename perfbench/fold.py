"""Fold a harness run record into the benchmark's metrics.

The harness (perfbench/src) writes one JSON record per run: the setup
phases, the measured windows (latency samples per operation kind, work
done, operations attempted and failed) and, for a traced run, the spans
the benchmark recorded around its calls into graft plus the engine's own
events: Spark jobs and stages, streaming progress, and executed-plan SQL
metrics. Everything here is plain arithmetic over that record, so the
fold is tested on synthetic spans (test_fold.py).

Terms:
  self time    a span's duration minus the part of it its child spans cover
  driver time  a span's duration minus the union of the Spark jobs that
               ran inside it: time graft spent on the driver between jobs
  op           one closed-loop operation of the workload (a drain, a table
               operation, a dedup pass); per-layer counts are per op
                 unless named per trigger, per merge or per call
"""
import json
import math
import statistics
from datetime import datetime

# (name, unit, better) — the order of BENCHMARK.json.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_ms.p50", "ms", "lower"),
]

PER_LAYER = [
    ("sources.offset_ms", "ms", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("sources.scan_files", "count", "lower"),
    ("sources.scan_bytes", "bytes", "lower"),
    ("streaming.triggers", "count", "lower"),
    ("streaming.startstop_ms", "ms", "lower"),
    ("streaming.planning_ms", "ms", "lower"),
    ("streaming.addbatch_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.overhead_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_instances", "count", "lower"),
    ("chain.rows_in", "count", "lower"),
    ("chain.rows_out", "count", "lower"),
    ("chain.analyze_ms", "ms", "lower"),
    ("sinks.merge_ms", "ms", "lower"),
    ("sinks.merge_jobs", "count", "lower"),
    ("sinks.merge_driver_ms", "ms", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    ("sinks.write_amp", "ratio", "lower"),
    ("sinks.lookup_jobs", "count", "lower"),
    ("sinks.lookup_driver_ms", "ms", "lower"),
    ("sinks.lookup_bytes_read", "bytes", "lower"),
    ("sinks.cdf_jobs", "count", "lower"),
    ("sinks.cdf_driver_ms", "ms", "lower"),
    ("sinks.cdf_bytes_read", "bytes", "lower"),
    ("sinks.scan_bytes_read", "bytes", "lower"),
    ("sinks.fs_bytes_read", "bytes", "lower"),
    ("sinks.fs_bytes_written", "bytes", "lower"),
    ("operators.exact_ms", "ms", "lower"),
    ("operators.neardup_ms", "ms", "lower"),
    ("operators.clusters_ms", "ms", "lower"),
    ("operators.clusters_jobs", "count", "lower"),
    ("operators.candidate_pairs", "count", "lower"),
    ("operators.verified_pairs", "count", "lower"),
    ("operators.pair_yield", "ratio", "higher"),
    ("operators.shuffle_bytes", "bytes", "lower"),
    ("operators.cpu_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.driver_gap_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]


# ---------------------------------------------------------------- primitives

def percentile(values, q):
    """The q-th percentile (0..100), linearly interpolated between the
    closest ranks, and the number of samples it was taken over."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    pos = (n - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return statistics.median(values) if values else 0.0


def union_ms(intervals, clip=None):
    """Length of the union of (start, end) intervals, optionally clipped
    to the interval `clip`."""
    spans = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            spans.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def interval(x):
    return (x["start_ms"], x["end_ms"])


def duration(x):
    return x["end_ms"] - x["start_ms"]


def self_ms(span, spans):
    """Span duration minus the union of its children's intervals."""
    kids = [interval(s) for s in spans if s["parent"] == span["id"]]
    return duration(span) - union_ms(kids, clip=interval(span))


def jobs_in(span, jobs):
    """Jobs submitted while the span was open."""
    return [j for j in jobs if span["start_ms"] <= j["start_ms"] <= span["end_ms"]]


def driver_ms(span, jobs):
    """Span duration minus the union of the Spark jobs it caused."""
    return duration(span) - union_ms(
        [interval(j) for j in jobs_in(span, jobs)], clip=interval(span))


def failed_frac(failed, attempted):
    """Failed or wrong operations over attempted ones (1.0 when nothing
    was attempted: a run that did no work did not succeed)."""
    return failed / attempted if attempted else 1.0


# ---------------------------------------------------------------- end to end

def setup_s(rec):
    """Session start, plus the median of the repeated input stagings,
    plus the warm-up operations."""
    st = rec["setup"]
    return st["session_s"] + median(st["stage_s"]) + st["warmup_s"]


def all_samples(window):
    return [x for xs in window["samples"].values() for x in xs]


def cpu_per_op(window):
    """Process CPU time (all threads) per successful operation."""
    done = window["attempted"] - window["failed"]
    return window["cpu_ms"] / done if done > 0 else 0.0


def throughput(window):
    return window["work"] / (window["busy_ms"] / 1e3) if window["busy_ms"] else 0.0


def end_to_end(rec):
    w = rec["windows"][0]
    lat = all_samples(w)
    return {
        "setup_s": setup_s(rec),
        "peak_rss_mb": rec["peak_rss_mb"],
        "throughput_per_s": throughput(w),
        "latency_ms.p50": percentile(lat, 50)[0],
    }


def workload_metrics(rec):
    """Every end-to-end metric of the workload by its own name, with its
    unit and, for percentiles, the sample count."""
    w = rec["windows"][0]
    out = {
        "setup_s": {"value": setup_s(rec), "unit": "s"},
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
        "failed_frac": {"value": failed_frac(w["failed"], w["attempted"]),
                        "unit": "ratio", "n": w["attempted"]},
    }

    def pct(name, kind, q):
        v, n = percentile(w["samples"].get(kind, []), q)
        out[name] = {"value": v, "unit": "ms", "n": n}

    lat = all_samples(w)
    for q in (50, 90):
        v, n = percentile(lat, q)
        out[f"latency_ms.p{q}"] = {"value": v, "unit": "ms", "n": n}
    out["cpu_ms_per_op"] = {"value": cpu_per_op(w), "unit": "ms", "n": w["attempted"]}
    rate = {"value": throughput(w), "unit": "1/s", "n": w["attempted"]}
    wl = rec["workload"]
    if wl == "changefeed_merge":
        out["changefeed.events_per_s"] = rate
        pct("changefeed.batch_ms.p50", "trigger", 50)
        pct("changefeed.batch_ms.p90", "trigger", 90)
    elif wl == "table_serve":
        out["table.ops_per_s"] = rate
        pct("table.lookup_ms.p50", "lookup", 50)
        pct("table.lookup_ms.p90", "lookup", 90)
        pct("table.scan_ms.p50", "scan", 50)
        pct("table.cdf_ms.p50", "cdf", 50)
        pct("table.merge_ms.p50", "merge", 50)
        pct("table.merge_ms.p90", "merge", 90)
    elif wl == "corpus_dedup":
        out["dedup.docs_per_s"] = rate
        pct("dedup.pass_ms.p50", "pass", 50)
    return out


# ---------------------------------------------------------------- per layer

def epoch_ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def triggers_of(progress):
    """Triggers (micro-batches, with or without input rows) as spans over
    their triggerExecution."""
    out = []
    for p in progress:
        d = p.get("durationMs", {})
        start = epoch_ms(p["timestamp"])
        out.append({"start_ms": start,
                    "end_ms": start + d.get("triggerExecution", 0),
                    "d": d, "rows": p.get("numInputRows", 0),
                    "state": p.get("stateOperators", [])})
    return out


def top_of(spans):
    """Map each span id to its top-level ancestor's id."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for sid in parent:
        top = sid
        while parent.get(top, -1) != -1:
            top = parent[top]
        out[sid] = top
    return out


def node_sum(plans, key, pred=lambda n: True):
    return sum(n.get(key, 0) for p in plans for n in p["nodes"] if pred(n))


def is_scan(n):
    return n["node"].startswith("Scan") and "filesSize" in n


def is_write(n):
    return "numOutputBytes" in n


def per_layer(rec):
    tr = rec["trace"]
    w = rec["windows"][1]
    ops = max(w["attempted"], 1)
    spans = tr["spans"]
    jobs = [j for j in tr["jobs"] if "end_ms" in j]
    stage_by_id = {}
    for s in tr["stages"]:
        stage_by_id.setdefault(s["id"], []).append(s)
    all_trig = triggers_of(json.loads(p) for p in tr["progress"])
    trig = [t for t in all_trig if t["rows"] > 0]
    tops = [s for s in spans if s["parent"] == -1]
    top = top_of(spans)
    top_name = {s["id"]: s["name"] for s in tops}
    named = lambda name: [s for s in spans if s["name"] == name]
    graft_plans = [p for p in tr["plans"] if p["span"] in top]
    under = lambda names: [p for p in graft_plans
                           if top_name[top[p["span"]]] in names]
    m = {name: 0.0 for name, _, _ in PER_LAYER}

    # spark: jobs graft caused, per op
    graft_jobs = [j for s in tops for j in jobs_in(s, jobs)]
    graft_stages = [st for j in graft_jobs for sid in j["stages"]
                    for st in stage_by_id.get(sid, [])]

    def stage_sum(key, js):
        return sum(st[key] for j in js for sid in j["stages"]
                   for st in stage_by_id.get(sid, []))

    m["spark.jobs"] = len(graft_jobs) / ops
    m["spark.stages"] = len(graft_stages) / ops
    m["spark.tasks"] = stage_sum("tasks", graft_jobs) / ops
    m["spark.executor_run_ms"] = stage_sum("run_ms", graft_jobs) / ops
    m["spark.executor_cpu_ms"] = stage_sum("cpu_ms", graft_jobs) / ops
    m["spark.gc_ms"] = stage_sum("gc_ms", graft_jobs) / ops
    m["spark.shuffle_write_bytes"] = stage_sum("shuffle_write_bytes", graft_jobs) / ops
    m["spark.spill_bytes"] = stage_sum("spill_bytes", graft_jobs) / ops
    m["spark.driver_gap_ms"] = sum(driver_ms(s, jobs) for s in tops) / ops

    # streaming and sources: per trigger
    if trig:
        d = lambda t, k: t["d"].get(k, 0)
        state = lambda t, k: sum(o.get(k, 0) for o in t["state"])
        m["streaming.triggers"] = len(trig) / ops
        # a drain's time outside its micro-batches: query start and stop
        drains = named("cdc.drain")
        m["streaming.startstop_ms"] = median([self_ms(
            s, spans + [dict(t, id=None, parent=s["id"]) for t in all_trig
                        if s["start_ms"] <= t["start_ms"] <= s["end_ms"]])
            for s in drains])
        m["streaming.planning_ms"] = median([d(t, "queryPlanning") for t in trig])
        m["streaming.addbatch_ms"] = median([d(t, "addBatch") for t in trig])
        m["streaming.commit_ms"] = median(
            [d(t, "walCommit") + d(t, "commitOffsets") for t in trig])
        m["streaming.overhead_ms"] = median(
            [d(t, "triggerExecution") - d(t, "addBatch") for t in trig])
        m["streaming.state_rows"] = median([state(t, "numRowsTotal") for t in trig])
        m["streaming.state_bytes"] = median([state(t, "memoryUsedBytes") for t in trig])
        m["streaming.state_commit_ms"] = median([state(t, "commitTimeMs") for t in trig])
        m["streaming.state_instances"] = median(
            [state(t, "numStateStoreInstances") for t in trig])
        m["sources.offset_ms"] = median(
            [d(t, "latestOffset") + d(t, "getBatch") for t in trig])
    m["sources.input_rows"] = (sum(t["rows"] for t in trig) +
                               node_sum(graft_plans, "numOutputRows", is_scan)) / ops
    m["sources.scan_files"] = node_sum(graft_plans, "numFiles", is_scan) / ops
    m["sources.scan_bytes"] = node_sum(graft_plans, "filesSize", is_scan) / ops

    # cdc.chain: per trigger, from the traced chain's named observations
    observed = lambda k: sum(p.get("observed", {}).get(k, 0) for p in graft_plans)
    if trig:
        m["chain.rows_in"] = observed("chain_in") / len(trig)
        m["chain.rows_out"] = observed("chain_out") / len(trig)
    m["chain.analyze_ms"] = median([duration(s) for s in named("chain.analyze")])

    # cdc.sinks: a merge is a trigger's addBatch (changefeed) or a
    # sinks.merge call (table); reads are sinks.* calls
    if trig:
        merges = len(trig)
        merge_plans = under({"cdc.drain"})
        m["sinks.merge_ms"] = median([t["d"].get("addBatch", 0) for t in trig])
        m["sinks.merge_jobs"] = median([len(jobs_in(t, jobs)) for t in trig])
        m["sinks.merge_driver_ms"] = median(
            [t["d"].get("addBatch", 0) - union_ms(
                [interval(j) for j in jobs_in(t, jobs)], clip=interval(t))
             for t in trig])
        merge_in = observed("chain_out")
    else:
        ms = named("sinks.merge")
        merges = len(ms)
        merge_plans = under({"sinks.merge"})
        m["sinks.merge_ms"] = median([duration(s) for s in ms])
        m["sinks.merge_jobs"] = median([len(jobs_in(s, jobs)) for s in ms])
        m["sinks.merge_driver_ms"] = median([driver_ms(s, jobs) for s in ms])
        merge_in = rec["params"].get("merge_keys", 0) * merges
    if merges:
        m["sinks.files_written"] = node_sum(merge_plans, "numFiles", is_write) / merges
        m["sinks.bytes_written"] = node_sum(merge_plans, "numOutputBytes", is_write) / merges
    rows_written = node_sum(merge_plans, "numOutputRows", is_write)
    m["sinks.write_amp"] = rows_written / merge_in if merge_in else 0.0
    for kind in ("lookup", "cdf"):
        ss = named(f"sinks.{kind}")
        m[f"sinks.{kind}_jobs"] = median([len(jobs_in(s, jobs)) for s in ss])
        m[f"sinks.{kind}_driver_ms"] = median([driver_ms(s, jobs) for s in ss])
        if ss:
            m[f"sinks.{kind}_bytes_read"] = node_sum(
                under({f"sinks.{kind}"}), "filesSize", is_scan) / len(ss)
    scans = named("sinks.scan")
    if scans:
        m["sinks.scan_bytes_read"] = node_sum(
            under({"sinks.scan"}), "filesSize", is_scan) / len(scans)
    fs = lambda k: sum(s.get("fs", {}).get(k, 0) for s in tops)
    m["sinks.fs_bytes_read"] = fs("bytesRead") / ops
    m["sinks.fs_bytes_written"] = fs("bytesWritten") / ops

    # operators: per pass
    passes = named("operators.exact")
    if passes:
        n = len(passes)
        m["operators.exact_ms"] = median([duration(s) for s in passes])
        m["operators.neardup_ms"] = median([duration(s) for s in named("operators.neardup")])
        cl = named("operators.clusters")
        m["operators.clusters_ms"] = median([duration(s) for s in cl])
        m["operators.clusters_jobs"] = median([len(jobs_in(s, jobs)) for s in cl])
        cand, ver = pair_counts(under({"operators.neardup"}))
        m["operators.candidate_pairs"] = cand / n
        m["operators.verified_pairs"] = ver / n
        m["operators.pair_yield"] = ver / cand if cand else 0.0
        op_jobs = [j for s in tops if s["name"].startswith("operators.")
                   for j in jobs_in(s, jobs)]
        m["operators.shuffle_bytes"] = stage_sum("shuffle_write_bytes", op_jobs) / n
        m["operators.cpu_ms"] = stage_sum("cpu_ms", op_jobs) / n

    # tracing overhead: traced minus untraced median latency, the untraced
    # samples taken from the windows before and after the traced one
    base = percentile(all_samples(rec["windows"][0]) +
                      all_samples(rec["windows"][2]), 50)[0]
    traced = percentile(all_samples(w), 50)[0]
    m["trace.overhead_ms"] = traced - base
    m["trace.overhead_pct"] = 100.0 * (traced - base) / base if base else 0.0
    return m


def pair_counts(plans):
    """Candidate and verified near-dup pairs from the executed plan: the
    verification filter's input is the deduplicated candidate set (the
    output of the aggregate below it), its output the verified pairs."""
    cand = ver = 0
    for p in plans:
        nodes = p["nodes"]
        for i, n in enumerate(nodes):
            if n["node"] == "Filter":
                below = [x for x in nodes[i + 1:] if x["node"].endswith("Aggregate")]
                if below:
                    ver += n.get("numOutputRows", 0)
                    cand += below[0].get("numOutputRows", 0)
                    break
    return cand, ver


# ---------------------------------------------------------------- report

def report(rec, traced):
    """The contract's result line and the run's detail line."""
    windows = rec["windows"] + [rec["warmup"]]
    attempted = sum(w["attempted"] for w in windows)
    failed = sum(w["failed"] for w in windows)
    correct = failed == 0 and rec["windows"][0]["attempted"] > 0
    units = dict((n, u) for n, u, _ in END_TO_END + PER_LAYER)
    values = per_layer(rec) if traced else end_to_end(rec)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    detail = {
        "workload": rec["workload"], "seed": rec["seed"],
        "params": rec["params"], "env": rec["env"],
        "setup": rec["setup"],
        "windows": [{"traced": w["traced"], "wall_ms": w["wall_ms"],
                     "attempted": w["attempted"], "failed": w["failed"],
                     "samples": {k: len(v) for k, v in w["samples"].items()}}
                    for w in rec["windows"]],
        "workload_metrics": workload_metrics(rec),
        "failures": [f for w in windows for f in w["failures"]][:20],
    }
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, detail
