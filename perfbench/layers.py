"""Per-layer metrics of a traced run, from its spans and Spark's
event log. Every traced run reports every metric below; a layer a
workload does not use reads 0. Times and counters are per round, each
op once."""

from __future__ import annotations

import statistics

from tracing import COUNTERS, read_event_log, union_length

SPARK_LAYERS = (
    "queries", "dedup", "similarity", "functions", "multimodal",
    "ingest", "sinks", "streaming",
)
_COUNTER_UNITS = {
    "stages": "count", "tasks": "count", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "python_bytes": "bytes",
}

METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.worker_spawn_s": "s",
    "catalog.ship_s": "s",
    "catalog.scan_s": "s",
    "catalog.input_bytes": "bytes",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.driver_wait_s": "s",
    **{f"{layer}.{c}": _COUNTER_UNITS[c] for layer in SPARK_LAYERS for c in COUNTERS},
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "similarity.ivf_recall": "ratio",
    "ingest.sync_s": "s",
    "ingest.records": "count",
    "ingest.pages_fetched": "count",
    "ingest.fetch_retries": "count",
    "ingest.flatten_records_per_s": "records/s",
    "sinks.upsert_s": "s",
    "sinks.compact_s": "s",
    "sinks.read_back_s": "s",
    "sinks.commits": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.pruned_file_frac": "ratio",
    "sinks.write_amp": "ratio",
    "sinks.space_amp": "ratio",
    "streaming.replay_s": "s",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.self_time_coverage": "ratio",
}

# the op span's named children; whatever they leave uncovered is the
# op's own self time
_SPAN_TOTALS = {
    "queries.build_s": "queries.build",
    "queries.exec_s": "queries.exec",
    "ingest.sync_s": "ingest.sync",
    "sinks.upsert_s": "sinks.upsert",
    "sinks.compact_s": "sinks.compact",
    "sinks.read_back_s": "sinks.read_back",
    "streaming.replay_s": "streaming.replay",
}


def per_layer_metrics(run, untraced: list[dict], passes: list[dict], extra: dict) -> dict:
    tracer = run.tracer
    n = sum(p["rounds"] for p in passes)
    m = {name: 0.0 for name in METRICS}
    spans = tracer.spans
    selfs = tracer.self_times()

    for name in ("session.start", "session.worker_spawn", "catalog.ship"):
        m[f"{name}_s"] = sum(s.duration for s in spans if s.name == name)
    m["catalog.scan_s"] = sum(s.duration for s in spans if s.name == "catalog.scan")
    for metric, span in _SPAN_TOTALS.items():
        m[metric] = sum(s.duration for s in spans if s.name == span) / n

    # stages → ops: by job group; stages of jobs Spark runs under its
    # own group (streaming micro-batches) by the op span they fall in
    ops = [(s, i) for i, s in enumerate(spans) if s.name == "op"]
    by_group = {s.attrs["group"]: s for s, _ in ops}
    stage_of: dict[int, list] = {id(s): [] for s, _ in ops}
    for st in read_event_log(run.work / "eventlog"):
        if st.group and st.group.startswith("catalog.scan:"):
            m["catalog.input_bytes"] += st.counters.get("input_bytes", 0.0)
            continue
        op = by_group.get(st.group)
        if op is None:
            mid = (st.start + st.end) / 2
            op = next((s for s, _ in ops if s.start <= mid <= s.end), None)
        if op is None:
            continue
        stage_of[id(op)].append(st)
        layer = op.attrs["layer"]
        for c in COUNTERS:
            m[f"{layer}.{c}"] += st.counters.get(c, 0.0) / n

    wait = sum(
        s.duration
        - union_length([(st.start, st.end) for st in stage_of[id(s)]], s.start, s.end)
        for s, _ in ops
        if s.attrs["layer"] == "queries"
    )
    m["queries.driver_wait_s"] = wait / n

    if run.workload == "ingest_sync":
        st = [p["storage"] for p in passes if "storage" in p]
        for key in ("commits", "files_written", "bytes_written", "pruned_file_frac",
                    "write_amp", "space_amp"):
            m[f"sinks.{key}"] = statistics.fmean(s[key] for s in st) if st else 0.0
        m["ingest.records"] = float(run.records)
        calls = [p["calls"] for p in passes if "calls" in p]
        m["ingest.pages_fetched"] = statistics.fmean(c["page"] for c in calls)
        m["ingest.fetch_retries"] = statistics.fmean(c["retry"] for c in calls)

    m.update(extra)
    traced_wall = run.pass_time(passes)
    untraced_wall = run.pass_time(untraced)
    m["trace.wall_s"] = traced_wall
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.overhead_ratio"] = traced_wall / untraced_wall
    op_total = sum(s.duration for s, _ in ops)
    m["trace.self_time_coverage"] = 1.0 - sum(selfs[i] for _, i in ops) / op_total
    return {k: (v, METRICS[k]) for k, v in m.items()}
