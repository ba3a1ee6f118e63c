"""Catalog bootstrap: declared schemas + table registration.

The reference never infers schemas — every table is pre-declared in a
JSON schema file and the frame is built against it
(etl_tools.py:37-61, SURVEY.md §1.1). We keep that contract: each
testdata table has an explicit StructType, the reader validates the
parquet footer against it, and `register_views` exposes all tables as
temp views for the SQL surface.

At 100 TB the declared schema also guarantees column pruning is
possible at plan time (no sampling scan) and keeps the scan's
ReadSchema minimal.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import TABLES

_F = T.StructField

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [_F("r_regionkey", T.IntegerType()), _F("r_name", T.StringType())]
    ),
    "nation": T.StructType(
        [
            _F("n_nationkey", T.IntegerType()),
            _F("n_name", T.StringType()),
            _F("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            _F("c_custkey", T.LongType()),
            _F("c_name", T.StringType()),
            _F("c_nationkey", T.IntegerType()),
            _F("c_acctbal", T.DoubleType()),
            _F("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            _F("s_suppkey", T.LongType()),
            _F("s_name", T.StringType()),
            _F("s_nationkey", T.IntegerType()),
            _F("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            _F("p_partkey", T.LongType()),
            _F("p_name", T.StringType()),
            _F("p_brand", T.StringType()),
            _F("p_type", T.StringType()),
            _F("p_size", T.IntegerType()),
            _F("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            _F("o_orderkey", T.LongType()),
            _F("o_custkey", T.LongType()),
            _F("o_orderstatus", T.StringType()),
            _F("o_totalprice", T.DoubleType()),
            _F("o_orderdate", T.TimestampNTZType()),
            _F("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            _F("l_orderkey", T.LongType()),
            _F("l_partkey", T.LongType()),
            _F("l_suppkey", T.LongType()),
            _F("l_linenumber", T.IntegerType()),
            _F("l_quantity", T.DoubleType()),
            _F("l_extendedprice", T.DoubleType()),
            _F("l_discount", T.DoubleType()),
            _F("l_tax", T.DoubleType()),
            _F("l_returnflag", T.StringType()),
            _F("l_linestatus", T.StringType()),
            _F("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            _F("event_id", T.LongType()),
            _F("ts", T.TimestampNTZType()),
            _F("user_id", T.LongType()),
            _F("event_type", T.StringType()),
            _F("value", T.DoubleType()),
            _F("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            _F("doc_id", T.LongType()),
            _F("text", T.StringType()),
            _F("lang", T.StringType()),
            _F("source", T.StringType()),
            _F("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            _F("vec_id", T.LongType()),
            _F("embedding", T.ArrayType(T.FloatType())),
            _F("label", T.IntegerType()),
        ]
    ),
}

# events.ts has shipped both as TIMESTAMP(NANOS) (testdata rounds 1-3) and
# TIMESTAMP(MICROS) (round 4+). Spark reads micros natively into
# TimestampNTZ but rejects nanos, so we sniff the parquet footer once per
# path and pick the decode: nanos → raw-INT64 read + ns→µs truncation in
# the plan (the same truncation DuckDB applies, so oracle comparison stays
# exact); anything else → the declared schema straight through. Assuming
# one unit and silently decoding the other collapses every 2024 timestamp
# onto 1970-01-20 — never hard-code the unit.
_RAW_SCHEMAS: dict[str, T.StructType] = {
    "events": T.StructType(
        [
            _F("event_id", T.LongType()),
            _F("ts", T.LongType()),
            _F("user_id", T.LongType()),
            _F("event_type", T.StringType()),
            _F("value", T.DoubleType()),
            _F("props", T.StringType()),
        ]
    ),
}

# Small dimension tables: always broadcast-join these (SURVEY.md §2.3 J2).
# region/nation are O(10..100) rows at every sf; supplier/part grow with sf
# but stay dimension-sized relative to the facts.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile.

    The driver contract hands us an externally-created SparkSession
    whose Python workers know nothing about this repo's sys.path; any
    pandas-UDF stage would then fail with ModuleNotFoundError on
    executors (or on local python workers started from another cwd).
    Zipping the package once per session makes every query
    self-contained — the same mechanism used for real cluster deploys.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / (
        f"outreach_etl_tool_spark_{os.getpid()}.zip"
    )
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, f"outreach_etl_tool_spark/{p.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zpath))
    _SHIPPED.add(key)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — a driver-side
    KB read, no Spark job. The right way to get a table's cardinality
    for sketch sizing / planning decisions: a count() job over 100 TB
    is a full metadata scan across the cluster for a number every
    footer already records."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def events_ts_unit(sf_dir: str) -> str:
    """Timestamp unit ('ns'/'us'/'ms'/'s') of events.ts, read from the
    parquet footer — metadata-only, cached per path. The driver has
    regenerated the testdata with a different unit between rounds, so the
    unit is a property of the files, not of the engine."""
    return _events_ts_unit(table_path(sf_dir, "events"))


@_lru_cache(maxsize=None)
def _events_ts_unit(path: str) -> str:
    import glob
    import os

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        probe = parts[0]
    field = pq.read_schema(probe).field("ts")
    unit = getattr(field.type, "unit", None)
    if unit is None:
        raise TypeError(f"events.ts is not a timestamp column: {field.type}")
    return unit


def _events_ns_to_ntz(raw: DataFrame) -> DataFrame:
    """Project raw-INT64-nanos `ts` down to TimestampNTZ micros."""
    ts = (
        F.timestamp_micros(F.expr("ts div 1000"))
        .cast(T.TimestampNTZType())
        .alias("ts")
    )
    return raw.select("event_id", ts, "user_id", "event_type", "value", "props")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema (never inferred)."""
    ensure_shipped(spark)
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; declared: {sorted(SCHEMAS)}")
    if name == "events" and events_ts_unit(sf_dir) == "ns":
        raw = spark.read.schema(_RAW_SCHEMAS[name]).parquet(
            table_path(sf_dir, name)
        )
        return _events_ns_to_ntz(raw)
    return spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))


def bound_to_micros(bound: str) -> int:
    """UTC-naive 'YYYY-MM-DD HH:MM:SS[.ffffff]' → epoch microseconds,
    integer math only: the float ``timestamp() * 1e6`` route can shift
    '23:59:59.999999'-style bounds by 1µs after double rounding, which
    silently moves an INCLUSIVE pushed-down range boundary."""
    import calendar
    import datetime as _dt

    d = _dt.datetime.fromisoformat(bound)
    return calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond


def load_events_between(
    spark: SparkSession,
    sf_dir: str,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """Events with an INCLUSIVE [lo, hi] ts filter that actually pushes
    down to the parquet scan. Bounds are UTC-naive strings
    ('YYYY-MM-DD HH:MM:SS[.ffffff]').

    Micros files (current testdata): filter the native TimestampNTZ
    column directly — Spark pushes timestamp predicates into the scan
    for row-group pruning.

    Nanos files: the reader converts the raw nanos column to
    TimestampNTZ in a projection, so a predicate applied afterwards
    wraps that expression and never reaches the scan (no row-group
    pruning — at 100 TB that is a full-table read). The ns→µs
    conversion is monotone, so bounds translate exactly to raw-nanos
    bounds applied BEFORE the conversion: ts_µs >= L ⇔ ts_ns >= L·1000,
    and ts_µs <= H ⇔ ts_ns <= H·1000+999.
    """
    ensure_shipped(spark)
    if events_ts_unit(sf_dir) != "ns":
        # String → TimestampNTZ literal casts fold at plan time, so the
        # comparison stays column-vs-literal and pushes into the scan
        # (a python datetime lit would be TIMESTAMP-with-zone and wrap
        # the column in a cast instead).
        _ntz = lambda b: F.lit(b).cast(T.TimestampNTZType())  # noqa: E731
        df = spark.read.schema(SCHEMAS["events"]).parquet(
            table_path(sf_dir, "events")
        )
        if lo is not None:
            df = df.filter(F.col("ts") >= _ntz(lo))
        if hi is not None:
            df = df.filter(F.col("ts") <= _ntz(hi))
        return df

    raw = spark.read.schema(_RAW_SCHEMAS["events"]).parquet(
        table_path(sf_dir, "events")
    )
    _us = bound_to_micros

    if lo is not None:
        raw = raw.filter(F.col("ts") >= _us(lo) * 1000)
    if hi is not None:
        raw = raw.filter(F.col("ts") <= _us(hi) * 1000 + 999)
    return _events_ns_to_ntz(raw)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the spark.sql surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
