"""Generate COVERAGE.md: SURVEY.md §2 operator id → implementing
registry queries (+ oracle status) + engine modules. Run after adding
queries; commit the output."""

from __future__ import annotations

import re
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from outreach_etl_tool_spark.queries import REGISTRY

SURVEY_IDS = {
    "S1": "REST JSON-API paginated scan", "S2": "schema-declared empty frame",
    "S3": "config/JSON file source", "S4": "BigQuery sink",
    "S5": "log/notification sink", "S6": "parquet scan of typed tables",
    "P1": "column drop", "P2": "bulk rename", "P3": "timestamp range filter",
    "P4": "day filter", "P5": "boolean/null predicates", "P6": "computed projection",
    "J1": "inner equi join", "J2": "broadcast dim join", "J3": "sort-merge fact join",
    "J4": "left outer join", "J5": "left semi join", "J6": "left anti join",
    "J7": "theta/range join", "J8": "as-of join", "J9": "interval self-join",
    "A1": "count", "A2": "grouped agg", "A3": "(count-)distinct",
    "A4": "approx count-distinct", "A5": "rollup/cube", "A6": "conditional agg/pivot",
    "A7": "partial+final agg (engine-internal)",
    "W1": "ranking/latest-per-key", "W2": "lag/lead", "W3": "frame aggregates",
    "W4": "ntile/percent_rank",
    "O1": "sort", "O2": "limit/pagination", "O3": "top-k",
    "U1": "union-by-name", "U2": "intersect/except", "U3": "dedup after union",
    "F1": "string fns", "F2": "date/time fns", "F3": "math fns",
    "F4": "conditional/null fns", "F5": "casts", "F6": "array fns",
    "F7": "map/json fns", "F8": "json flatten",
    "T1": "tumbling window", "T2": "sliding window", "T3": "session window",
    "T4": "watermark late drop", "T5": "stateful stream dedup", "T6": "incremental upsert",
    "L1": "exact text dedup", "L2": "near-dedup (MinHash/SimHash/ngram/embedding)",
    "L3": "top-k similarity search", "L4": "text analysis", "L5": "multimodal columns",
    "UDF": "scalar pandas_udf", "UDAF": "applyInPandas grouped-map",
    "UDTF": "mapInPandas fan-out",
}

# ids fulfilled outside the registry (modules + tests instead of queries)
MODULE_COVERAGE = {
    "S1": "ingest/rest.py (the one REST extract: fetch_window pager + repeated-cursor guard, _fetch_retry with permanent 4xx failing at once, day_windows, HttpFetcher urllib transport; bug-fixed sync driver) run by sources/restapi.py (Python DataSource: partition-per-day batch + day-offset streaming tail, base_url or dir_url replay fetcher) and the CLI's OAuth fetcher; tests/test_sources.py, tests/test_ingest.py, tests/test_cli.py",
    "S2": "ingest/schema_loader.py empty_frame (tests/test_ingest.py)",
    "S3": "ingest/schema_loader.py load_ref_schema (tests/test_ingest.py)",
    "S4": "sinks/writers.py BigQuerySink (connector-gated stub; tests/test_sinks.py)",
    "S5": "sinks/notify.py (tests/test_sinks.py)",
    "A7": "automatic in Spark (partial_* → final; SURVEY.md §2.4)",
    "F8": "ingest/flatten.py (golden tests vs reference schemas)",
    "T1": "streaming/streams.py tumbling_counts (tests/test_streaming.py)",
    "T2": "streaming/streams.py sliding_counts (tests/test_streaming.py)",
    "T3": "streaming/streams.py session_counts (tests/test_streaming.py)",
    "T4": "streaming/streams.py watermarks (late-drop counted in tests)",
    "T5": "streaming/streams.py stream_dedup + running_user_totals (applyInPandasWithState custom state; tests/test_streaming.py)",
    "T6": "streaming/streams.py upsert_sink + ingest/rest.py upsert_latest",
}


def main() -> None:
    by_id: dict[str, list[str]] = defaultdict(list)
    for name, spec in REGISTRY.items():
        for tag in spec.tags:
            mark = "oracle" if spec.oracle else "rows-only"
            by_id[tag].append(f"`{name}` ({mark})")

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → implementation",
        "",
        "Generated by `python tools/coverage.py`. Every §2 id maps to the",
        "registry queries claiming it (oracle = DuckDB hash-compared by the",
        "driver; rows-only = non-SQL-expressible) and/or the module+tests",
        "that implement it outside the query registry.",
        "",
        "| id | operator | queries | module coverage |",
        "|---|---|---|---|",
    ]
    missing = []
    for sid, desc in SURVEY_IDS.items():
        qs = ", ".join(by_id.get(sid, [])) or "—"
        mod = MODULE_COVERAGE.get(sid, "—")
        if qs == "—" and mod == "—":
            missing.append(sid)
        lines.append(f"| {sid} | {desc} | {qs} | {mod} |")
    lines.append("")
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle)
    lines.append(
        f"**Registry**: {len(REGISTRY)} queries, {n_oracle} with DuckDB "
        f"oracles, {len(REGISTRY) - n_oracle} rows-only."
    )
    if missing:
        lines.append(f"\n**UNCOVERED: {missing}**")
    out = Path(__file__).resolve().parent.parent / "COVERAGE.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(SURVEY_IDS)} ids, missing: {missing or 'none'})")


if __name__ == "__main__":
    main()
