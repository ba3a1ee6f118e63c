"""The benchmark's workloads: which engine calls each op makes, which
layer does the work, and how the ``ingest_sync`` pipeline is driven.

Every op is a callable timed as one unit. Registry ops call
``spec.fn()`` afresh on every execution (``queries.build`` span) and
materialize the result with the ``noop`` sink (``queries.exec`` span).
Tables are read only through ``catalog.load_table``, inside the
registry functions.
"""

from __future__ import annotations

import datetime as dt
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import fakeapi

# Tables for every workload: fixed, so stored result fingerprints stay
# valid; on tpch_sql and llm_curation the run seed orders the ops
# instead, on ingest_sync it drives the fake API.
DATA = {"scale": 1.0, "seed": 42}

# the 22 TPC-H shapes of the registry; a run executes TPCH_OPS, eight
# of them chosen for distinct plan shapes, so that a run fits the
# benchmark's time budget (see README.md)
TPCH_SHAPES = (
    "pricing_summary",
    "sql_q2_min_cost_supplier",
    "sql_q3_shipping",
    "sql_q4_priority_lateness",
    "sql_q5_region_revenue",
    "sql_q6_forecast_revenue",
    "sql_q7_nation_volume",
    "sql_q8_market_share",
    "sql_q9_product_profit",
    "sql_q10_returns",
    "sql_q11_important_parts",
    "sql_q12_shiplag_priority",
    "sql_q13_cust_distribution",
    "sql_q14_promo_share",
    "sql_q15_top_supplier",
    "sql_q16_supplier_diversity",
    "sql_q17_small_qty_revenue",
    "sql_q18_large_orders",
    "sql_q19_bracket_revenue",
    "sql_q20_promo_suppliers",
    "sql_q21_late_supplier",
    "sql_q22_dormant_customers",
)
TPCH_OPS = (
    "pricing_summary",  # Q1: scan, filter, wide aggregate
    "sql_q3_shipping",  # 3-way join, top-k
    "sql_q5_region_revenue",  # 6-way join with broadcast dims
    "sql_q6_forecast_revenue",  # selective scan, global aggregate
    "sql_q9_product_profit",  # LIKE filter, 5-way join
    "sql_q13_cust_distribution",  # left outer join, nested aggregate
    "sql_q18_large_orders",  # IN-subquery over an aggregate
    "sql_q21_late_supplier",  # EXISTS / NOT EXISTS
)

# op → the layer whose public function does the op's work
CURATION_LAYERS = {
    "dedup_exact": "dedup",
    "dedup_minhash": "dedup",
    "dedup_simhash": "dedup",
    "dedup_span_exact_extents": "dedup",
    "dedup_cluster": "dedup",
    "decontaminate_extents": "dedup",
    "semdedup_ivf": "similarity",
    "sim_knn_join": "similarity",
    "sim_ann_ivf": "similarity",
    "quality_classifier_scores": "functions",
    "pii_extents": "functions",
    "lang_id_trained": "functions",
    "gopher_dupgram_coverage": "functions",
    "text_stats": "functions",
    "multimodal_phash_dedup": "multimodal",
    "multimodal_audio_fp_dedup": "multimodal",
}
# the ops a run executes: one or two per layer, among the cheapest, so
# that a run fits the benchmark's time budget (see README.md)
CURATION_OPS = (
    "dedup_exact",
    "dedup_minhash",
    "sim_knn_join",
    "sim_ann_ivf",
    "text_stats",
    "multimodal_audio_fp_dedup",
)

# shuffled rounds over the ops in one timed pass; an op's time is the
# median of its executions
ROUNDS = {"tpch_sql": 2, "llm_curation": 2, "ingest_sync": 1}

STREAM_REPLAYS = (
    "stream_ingest_dedup",
    "stream_pii_scrub_ingest",
    "stream_latedrop_tumbling",
)
STREAM_OPS = ("stream_latedrop_tumbling",)

OP_LAYER = {
    **{op: "queries" for op in TPCH_SHAPES},
    **CURATION_LAYERS,
    **{op: "streaming" for op in STREAM_REPLAYS},
    "ingest.backfill": "ingest",
    "ingest.previous_day": "ingest",
    "sinks.upsert": "sinks",
    "sinks.compact": "sinks",
    "sinks.read_back": "sinks",
    "sinks.read_pruned": "sinks",
}

# tables read by the ops that carry no oracle SQL to read them from
NO_ORACLE_TABLES = {
    "semdedup_ivf": ("embeddings",),
    "sim_ann_ivf": ("embeddings",),
    "multimodal_phash_dedup": ("documents",),
}

# ingest_sync: a backfill above the distributed-path threshold, then
# incremental previous_day syncs below it, each followed by an upsert
INGEST = {
    "start": dt.date(2024, 3, 1),
    "backfill_days": 6,
    "incremental_days": 1,
    "per_day": 200,
    "large_threshold": 600,
    "page_size": 100,
    "fail_rate": 0.2,
    "max_retries": 3,
    "point_reads": 3,
}


def data_key() -> str:
    return f"scale={DATA['scale']},seed={DATA['seed']}"


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[], object]


def registry_op(ctx, name: str, span: str | None = None) -> Op:
    """An op that builds a registry query and sinks it to ``noop`` —
    or, while ``ctx.collect`` is set (the untimed warm-and-verify
    pass), returns the result as pandas for checking."""
    from outreach_etl_tool_spark.queries import REGISTRY

    spec = REGISTRY[name]

    def run():
        with ctx.tracer.span(span or "queries.build", op=name):
            df = spec.fn(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span(span or "queries.exec", op=name):
            if ctx.collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None

    return Op(name, OP_LAYER[name], run)


def op_tables(name: str) -> tuple[str, ...]:
    """Base tables an op reads (from its oracle SQL when it has one)."""
    import re

    from outreach_etl_tool_spark import TABLES
    from outreach_etl_tool_spark.queries import REGISTRY

    if name in NO_ORACLE_TABLES:
        return NO_ORACLE_TABLES[name]
    words = set(re.findall(r"[a-z_]+", REGISTRY[name].oracle.lower()))
    return tuple(t for t in TABLES if t in words)


class IngestPipeline:
    """The sync-and-sink part of one ``ingest_sync`` pass against the
    fake API: backfill, previous_day syncs, manifest upserts,
    compaction and reads. Each pass writes to a fresh table root."""

    def __init__(self, ctx, api_dir: Path) -> None:
        self.ctx = ctx
        self.api_dir = api_dir
        self.schema = fakeapi.load_schema(ctx.root)
        self.table = None
        self.df = None
        self.point_ids: list[int] = []
        self.point_rows: dict[int, list] = {}
        self.seen_files: dict[str, int] = {}

    def ops(self, root: Path, log_dir: Path | None) -> list[Op]:
        from outreach_etl_tool_spark.ingest import rest
        from outreach_etl_tool_spark.sinks import ManifestTable

        ctx, cfg = self.ctx, INGEST
        fetcher = fakeapi.DiskFetcher(
            str(self.api_dir),
            ctx.seed,
            fail_rate=cfg["fail_rate"],
            page_cap=cfg["page_size"],
            log_dir=None if log_dir is None else str(log_dir),
        )
        shutil.rmtree(root, ignore_errors=True)
        self.table = ManifestTable(str(root))
        self.seen_files = {}
        start = cfg["start"]
        first_incr = start + dt.timedelta(days=cfg["backfill_days"])

        def sync(lo: dt.date, hi: dt.date) -> Callable[[], None]:
            def run() -> None:
                with ctx.tracer.span("ingest.sync", lo=str(lo), hi=str(hi)):
                    df = rest.sync_endpoint(
                        ctx.spark, fetcher, "prospects", self.schema, lo, hi,
                        page_size=cfg["page_size"],
                        large_threshold=cfg["large_threshold"],
                        max_retries=cfg["max_retries"],
                        ts_col=fakeapi.TS_COL,
                    )
                    # fetch, flatten and coerce here, so the upsert
                    # that follows times only the sink
                    self.df = df.localCheckpoint()
            return run

        def upsert() -> None:
            with ctx.tracer.span("sinks.upsert"):
                self.table.upsert(self.df, key="id", ts=fakeapi.TS_COL)
            self.df = None

        def compact() -> None:
            with ctx.tracer.span("sinks.compact"):
                self.table.compact(ctx.spark)

        def read_back() -> None:
            with ctx.tracer.span("sinks.read_back"):
                self.table.read(ctx.spark).write.format("noop").mode("overwrite").save()

        def read_pruned(point: int) -> Callable[[], None]:
            def run() -> None:
                from pyspark.sql import functions as F

                with ctx.tracer.span("sinks.read_pruned"):
                    self.point_rows[point] = (
                        self.table.read_pruned(ctx.spark, "id", lo=point, hi=point)
                        .filter(F.col("id") == point)
                        .select("id", fakeapi.TS_COL)
                        .collect()
                    )
            return run

        ops = [
            Op("ingest.backfill", "ingest", sync(start, first_incr)),
            Op("sinks.upsert", "sinks", upsert),
        ]
        for k in range(cfg["incremental_days"]):
            today = first_incr + dt.timedelta(days=k + 1)
            lo, hi = rest.replication_window("previous_day", start, today)
            ops += [
                Op("ingest.previous_day", "ingest", sync(lo, hi)),
                Op("sinks.upsert", "sinks", upsert),
            ]
        ops.append(Op("sinks.compact", "sinks", compact))
        # readers of the compacted table: full scans and point reads
        self.point_rows = {}
        for point in self.point_ids:
            ops += [
                Op("sinks.read_back", "sinks", read_back),
                Op("sinks.read_pruned", "sinks", read_pruned(point)),
            ]
        return ops

    def note_files(self) -> None:
        """Remember every file now under the table root (bytes written)."""
        for p in self.table.root.rglob("*"):
            if p.is_file():
                self.seen_files[str(p)] = p.stat().st_size

    def snapshot_rows(self) -> list[tuple[int, str, str]]:
        """(id, updatedAt, content hash) of every row of the snapshot."""
        from pyspark.sql import functions as F

        cols = fakeapi.string_columns(self.schema)
        df = self.table.read(self.ctx.spark)
        present = set(df.columns)
        parts = [
            F.coalesce(F.col(c), F.lit(fakeapi.NULL)) if c in present else F.lit(fakeapi.NULL)
            for c in cols
        ]
        rows = df.select(
            "id",
            F.date_format(fakeapi.TS_COL, "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
            F.substring(F.sha1(F.concat_ws(fakeapi.SEP, *parts)), 1, 16).alias("h"),
        ).collect()
        return [(r["id"], r["ts"], r["h"]) for r in rows]

    def storage(self) -> dict[str, float]:
        """Sink counters of the finished pass, read from the table root."""
        t = self.table
        manifest = t._manifest(t.current_version())
        live = sum((t.data_dir / f).stat().st_size for f in manifest["files"])
        on_disk = sum(p.stat().st_size for p in t.root.rglob("*") if p.is_file())
        self.note_files()
        parquet = [p for p in self.seen_files if p.endswith(".parquet")]
        pruned = [len(t.pruned_files("id", i, i)) for i in self.point_ids]
        return {
            "commits": float(t.current_version() + 1),
            "files_written": float(len(parquet)),
            "bytes_written": float(sum(self.seen_files.values())),
            "live_bytes": float(live),
            "write_amp": sum(self.seen_files.values()) / live,
            "space_amp": on_disk / live,
            "pruned_file_frac": sum(pruned) / (len(pruned) * max(1, len(manifest["files"]))),
        }

