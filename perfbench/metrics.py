"""Turn one run record (raw samples written by the JVM harness) into the
benchmark's metrics. Pure functions over plain JSON data, so the accounting
is unit-tested without Spark.

Latency samples are taken per source offset: the generator adds one offset
per tick, and an offset's latency runs from its creation stamp (the tick's
due time) to the commit of the micro-batch whose offset range holds it. A
batch's commit time is its progress report's trigger start plus its
`triggerExecution` duration.
"""
import math

# End-to-end metrics (printed with --trace 0) and their units.
END_TO_END = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "live_heap_mb": "MiB",
}

ENGINE = {
    "spark.query_executions": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
}

# Per-layer metrics (printed with --trace 1) and their units.
PER_LAYER = {
    "generator.late_ms_max": "ms",
    "source.backlog_rows_max": "rows",
    "trigger.count": "count",
    "trigger.rows_p50": "rows",
    "trigger.offsets_ms_p50": "ms",
    "trigger.planning_ms_p50": "ms",
    "trigger.add_batch_ms_p50": "ms",
    "trigger.add_batch_ms_p95": "ms",
    "trigger.log_ms_p50": "ms",
    "decode.self_ms": "ms",
    "decode.rows_in": "rows",
    "decode.rows_dropped": "rows",
    "dim.loads": "count",
    "dim.load_ms": "ms",
    "dim.rows": "rows",
    "enrich.lookup.self_ms": "ms",
    "enrich.explode.self_ms": "ms",
    "enrich.range_join.self_ms": "ms",
    "dedup.argmax.self_ms": "ms",
    "enrich.branch1_rows": "rows",
    "enrich.branch2_join_rows": "rows",
    "dedup.rows_out": "rows",
    "dedup.keep_ratio": "ratio",
    "state.rows_total_max": "rows",
    "state.memory_bytes_max": "bytes",
    "state.rows_updated": "rows",
    "state.rows_removed": "rows",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.commit_ms": "ms",
    "sink.self_ms": "ms",
    "sink.files": "count",
    "sink.files_per_batch_p50": "count",
    "sink.bytes": "bytes",
    **ENGINE,
    "shards.write.self_ms": "ms", "shards.write.jobs": "count", "shards.write.codegen_ms": "ms",
    "shards.append.self_ms": "ms", "shards.append.jobs": "count", "shards.append.codegen_ms": "ms",
    "shards.tombstone.self_ms": "ms", "shards.tombstone.jobs": "count",
    "shards.tombstone.codegen_ms": "ms",
    "shards.rebuild.self_ms": "ms", "shards.rebuild.jobs": "count",
    "shards.rebuild.codegen_ms": "ms",
    "shards.read.self_ms": "ms", "shards.read.jobs": "count", "shards.read.codegen_ms": "ms",
    "stored_read.self_ms": "ms", "stored_read.jobs": "count",
    "rel.self_ms": "ms", "rel.jobs": "count",
    "scaling.local1_rows_per_s": "rows/s",
    "trace.overhead_share": "ratio",
}

# The CdrPipeline ladder's rungs, in order, and the self-time metric each
# rung's increment over the previous rung is reported as.
LADDER = ["decode.self_ms", "enrich.lookup.self_ms", "enrich.explode.self_ms",
          "enrich.range_join.self_ms", "dedup.argmax.self_ms", "sink.self_ms"]

# Library layers reported from the traced run's operation spans: the
# operations of a layer are summed.
LIBRARY_LAYERS = ["shards.write", "shards.append", "shards.tombstone", "shards.rebuild",
                  "shards.read", "stored_read", "rel"]

# The generator counts as fallen behind, and the run as invalid, once a
# tick goes out this late: its offsets would then measure the generator's
# stall rather than the query's latency.
LATE_LIMIT_MS = 1000.0
# A reported percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile. Returns (value, sample count, samples
    strictly beyond the rank)."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    return s[rank - 1], len(s), len(s) - rank


def median(values):
    s = sorted(values)
    if not s:
        return 0.0
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def late_ms_max(ticks):
    """How far behind its own schedule the open-loop generator ran."""
    return max((t["sent_ms"] - t["due_ms"] for t in ticks if t["phase"] == "open"),
               default=0.0)


def commit_ms(batch):
    return batch["start_ms"] + batch["durations"].get("triggerExecution", 0)


def holds(batch, offset):
    return batch["start_offset"] < offset <= batch["end_offset"]


def batch_of_offsets(ticks, batches):
    """Map each tick's source offset to the index of the one committed batch
    whose range (start_offset, end_offset] holds it. Offsets held by no
    batch or by several map to None. (A progress report's input-row count
    cannot stand in for this: it counts every scan of the source, and the
    pipeline scans each batch once per branch.)"""
    out = {}
    for t in ticks:
        hits = [i for i, b in enumerate(batches) if holds(b, t["offset"])]
        out[t["offset"]] = hits[0] if len(hits) == 1 else None
    return out


def batch_lines(ticks, batch):
    return sum(t["lines"] for t in ticks if holds(batch, t["offset"]))


def latency_samples(ticks, batches):
    where = batch_of_offsets(ticks, batches)
    return [commit_ms(batches[where[t["offset"]]]) - t["due_ms"]
            for t in ticks if t["phase"] == "open" and where[t["offset"]] is not None]


def backlog_rows_max(ticks, batches):
    """Lines sent but not yet committed, sampled at each commit of the
    open-loop phase."""
    open_ticks = [t for t in ticks if t["phase"] == "open"]
    if not open_ticks:
        return 0
    lo, hi = open_ticks[0]["offset"], open_ticks[-1]["offset"]
    worst = 0
    for b in batches:
        if b["end_offset"] <= b["start_offset"] or b["end_offset"] < lo or b["start_offset"] >= hi:
            continue
        c = commit_ms(b)
        sent = sum(t["lines"] for t in open_ticks if t["sent_ms"] <= c)
        done = sum(t["lines"] for t in open_ticks if t["offset"] <= b["end_offset"])
        worst = max(worst, sent - done)
    return worst


def lost_lines(ticks, batches):
    """Lines of offsets that no committed batch, or more than one, holds."""
    where = batch_of_offsets(ticks, batches)
    return sum(t["lines"] for t in ticks if where[t["offset"]] is None)


def block_rates(ticks, batches, phase="closed"):
    """Closed-loop throughput per block: its lines over the time from adding
    it to the commit of the batch that holds it (the next block is added
    right after that commit)."""
    where = batch_of_offsets(ticks, batches)
    return [t["lines"] * 1000.0 / (commit_ms(batches[where[t["offset"]]]) - t["sent_ms"])
            for t in ticks if t["phase"] == phase and where[t["offset"]] is not None]


def throughput(ticks, batches, phase="closed"):
    """Closed-loop throughput: the median block rate."""
    return median(block_rates(ticks, batches, phase))


def open_batches(rec):
    """Open-loop micro-batches that carried data (the stateful runner also
    runs no-data batches to fire session timeouts)."""
    o = rec["open"]
    return [b for b in rec["batches"]
            if o["start_ms"] <= b["start_ms"] <= o["end_ms"]
            and b["end_offset"] > b["start_offset"]]


def timed_batches(rec):
    lo, hi = rec["open"]["start_ms"], rec["closed"]["end_ms"]
    return [b for b in rec["batches"] if lo <= b["start_ms"] <= hi]


def end_to_end(rec):
    lat = latency_samples(rec["ticks"], rec["batches"])
    p50 = percentile(lat, 0.50)
    p95 = percentile(lat, 0.95)
    return {
        "setup_s": rec["setup"]["setup_s"],
        "throughput_rows_per_s": throughput(rec["ticks"], rec["batches"]),
        "latency_p50_ms": float(p50[0]),
        "latency_p95_ms": float(p95[0]),
        "live_heap_mb": rec["heap_mb"],
    }, {"latency_samples": p95[1], "latency_p95_beyond": p95[2]}


def ladder(lay):
    """Self times of the CdrPipeline ladder: each rung's median time minus
    the previous rung's. Zero where the run has no ladder."""
    if "ladder" not in lay:
        return {k: 0.0 for k in LADDER} | {
            "enrich.branch1_rows": 0, "enrich.branch2_join_rows": 0,
            "dedup.rows_out": 0, "dedup.keep_ratio": 0.0}
    lad = lay["ladder"]
    rungs = [median(r) for r in lad["rungs_ms"]]
    self_ms = [rungs[0]] + [b - a for a, b in zip(rungs, rungs[1:])]
    b2 = lad["branch2_join_rows"]
    return dict(zip(LADDER, self_ms)) | {
        "enrich.branch1_rows": lad["branch1_rows"],
        "enrich.branch2_join_rows": b2,
        "dedup.rows_out": lad["rows_out"],
        "dedup.keep_ratio": lad["rows_out"] / b2 if b2 else 0.0}


def library(rec):
    """Per-layer sums over the library operations' spans: wall time, jobs
    and, for the shards layers, codegen time. Zero where the run measured
    no library layers."""
    spans = {s["id"]: s for s in rec.get("spans", [])}
    ops = rec["library"]["ops"] if "library" in rec else []
    m = {}
    for layer in LIBRARY_LAYERS:
        mine = [spans[o["span"]] for o in ops if o["layer"] == layer and o["span"] in spans]
        m[f"{layer}.self_ms"] = sum(s["dur_ms"] for s in mine)
        m[f"{layer}.jobs"] = sum(s["spark.jobs"] for s in mine)
        if layer.startswith("shards."):
            m[f"{layer}.codegen_ms"] = sum(s["codegen.compile_ms"] for s in mine)
    return m


def per_layer(rec):
    ob = open_batches(rec)
    dur = lambda b, *ks: sum(b["durations"].get(k, 0) for k in ks)
    st = [b["state"] for b in timed_batches(rec) if b["state"]]
    lay = rec["layers"]
    traced = throughput(rec["ticks"], rec["batches"])
    untraced = throughput(rec["ticks"], rec["batches"], "closed_untraced")
    m = {
        "generator.late_ms_max": float(late_ms_max(rec["ticks"])),
        "source.backlog_rows_max": backlog_rows_max(rec["ticks"], rec["batches"]),
        "trigger.count": len(ob),
        "trigger.rows_p50": median([batch_lines(rec["ticks"], b) for b in ob]),
        "trigger.offsets_ms_p50": median([dur(b, "latestOffset", "getBatch") for b in ob]),
        "trigger.planning_ms_p50": median([dur(b, "queryPlanning") for b in ob]),
        "trigger.add_batch_ms_p50": median([dur(b, "addBatch") for b in ob]),
        "trigger.add_batch_ms_p95": float(percentile([dur(b, "addBatch") for b in ob], 0.95)[0]),
        "trigger.log_ms_p50": median([dur(b, "walCommit", "commitOffsets") for b in ob]),
        "state.rows_total_max": max((s["rows_total"] for s in st), default=0),
        "state.memory_bytes_max": max((s["memory_bytes"] for s in st), default=0),
        "state.rows_updated": sum(s["rows_updated"] for s in st),
        "state.rows_removed": sum(s["rows_removed"] for s in st),
        "state.update_ms": sum(s["update_ms"] for s in st),
        "state.removal_ms": sum(s["removal_ms"] for s in st),
        "state.commit_ms": sum(s["commit_ms"] for s in st),
        "decode.rows_in": rec["fed_lines"],
        "decode.rows_dropped": lay["decode.rows_dropped"],
        "dim.loads": lay["dim.loads"],
        "dim.load_ms": rec["setup"]["dim_load_s"] * 1000.0,
        "dim.rows": lay["dim.rows"],
        "sink.files": lay["sink.files"],
        "sink.files_per_batch_p50": median(lay["files_per_batch"]),
        "sink.bytes": lay["sink.bytes"],
        "scaling.local1_rows_per_s":
            throughput(rec["local1"]["ticks"], rec["local1"]["batches"]) if "local1" in rec else 0.0,
        # throughput lost to tracing, as a share of the untraced figure
        "trace.overhead_share": 1.0 - traced / untraced,
    }
    # engine counts per open-loop trigger
    n = max(lay["triggers"], 1)
    m.update({k: lay["engine_open"][k] / n for k in ENGINE})
    m.update(ladder(lay))
    m.update(library(rec))
    return m


def library_failures(rec):
    """Library operations that raised or whose answer the oracle compare
    rejected (`run.py` puts the compare's verdicts in `oracle`)."""
    if "library" not in rec:
        return []
    verdicts = rec["library"].get("oracle", {})
    bad = []
    for o in rec["library"]["ops"]:
        why = o["error"] or (verdicts.get(o["name"], "not compared") if o["oracle"] else "")
        if why:
            bad.append(f"{o['name']}: {why}")
    return bad


def attempted(rec):
    """Operations: fed lines, plus the library operations of a traced run."""
    return int(rec["fed_lines"]) + len(rec.get("library", {}).get("ops", []))


def failures(rec):
    """Fed lines lost, duplicated or failing the output check, plus failed
    library operations."""
    return (rec["check"]["failed"] + lost_lines(rec["ticks"], rec["batches"])
            + len(library_failures(rec)))


def result(rec, trace):
    """The benchmark's result line for one run record, plus notes for
    stderr."""
    e2e, notes = end_to_end(rec)
    failed = failures(rec)
    late = late_ms_max(rec["ticks"])
    problems = []
    if failed:
        problems.append(f"{failed} operations failed the output check: {rec['check']}; "
                        f"library: {library_failures(rec)}")
    if late > LATE_LIMIT_MS:
        problems.append(f"generator fell {late:.0f} ms behind its schedule")
    if notes["latency_p95_beyond"] < MIN_BEYOND:
        problems.append(f"only {notes['latency_p95_beyond']} latency samples beyond p95")
    values = per_layer(rec) if trace else e2e
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": not problems,
        "attempted": attempted(rec),
        "failed": int(min(failed, attempted(rec))),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }, dict(notes, problems=problems)
