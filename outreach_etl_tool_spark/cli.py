"""Config-driven replication CLI — the switch-over surface for a user
of the reference tool (outreach_etl.py:36-243, README.md:33-48).

Same config contract (sample_creds.json shape: client creds,
replication_type full/previous_day, start_date, project/dataset/table)
and the same three-endpoint sync order, re-expressed on the engine:
distributed fetch (ingest/rest.py, reference bugs fixed), typed
coercion, keep-latest upsert, partitioned-parquet or BigQuery sink,
pluggable notification.

Usage::

    python -m outreach_etl_tool_spark --config creds.json --output /data

The fetcher is injected, so offline/test runs can pass any callable.
The default is `ingest.rest.HttpFetcher` — the engine's one HTTP
transport, which the `restapi` DataSource also uses — with an OAuth
refresh-token callable as its Bearer token.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import logging
import sys
from pathlib import Path

from pyspark.sql import SparkSession

from .ingest import load_ref_schema
from .ingest.rest import (
    Fetcher, HttpFetcher, replication_window, strip_prefix, sync_endpoint,
)
from .sinks import LogNotifier, Notifier, write_partitioned

logger = logging.getLogger("outreach_etl_tool_spark")

# the reference routes five endpoints (outreach_etl.py:75-84); it ships
# declared schemas for three — accounts/opportunities use condensed
# repo-local contracts of the public API surface
ENDPOINTS = ("prospects", "sequences", "mailings", "accounts", "opportunities")
# heavy body columns dropped before materialization (outreach_etl.py:105-107)
DROP_COLUMNS = {
    "mailings": ("attributes_bodyHtml", "attributes_bodyText"),
}
API_BASE = "https://api.outreach.io/api/v2"
TOKEN_URL = "https://api.outreach.io/oauth/token"


def make_http_fetcher(config: dict) -> Fetcher:
    """OAuth-refreshing JSON-API fetcher (outreach_etl.py:54-109 parity,
    without the stale-global token bug — expiry lives in the closure).
    The token POST uses requests; the page GETs are ``HttpFetcher``'s."""
    import time as _time

    import requests  # deferred: offline runs never import it

    state = {"token": None, "expires_at": 0.0}

    def token() -> str:
        if state["token"] is None or _time.time() >= state["expires_at"]:
            resp = requests.post(
                TOKEN_URL,
                data={
                    "client_id": config["client_id"],
                    "client_secret": config["client_secret"],
                    "refresh_token": config["refresh_token"],
                    "redirect_uri": config["redirect_uri"],
                    "grant_type": "refresh_token",
                },
                timeout=30,
            )
            resp.raise_for_status()
            payload = resp.json()
            state["token"] = payload["access_token"]
            # reference safety margin: 7200 s − 100 s (outreach_etl.py:70)
            state["expires_at"] = _time.time() + payload.get("expires_in", 7200) - 100
        return state["token"]

    return HttpFetcher(API_BASE, token)


def run_replication(
    spark: SparkSession,
    config: dict,
    output_dir: str,
    fetcher: Fetcher | None = None,
    notifier: Notifier | None = None,
    schemas_dir: str | None = None,
    today: dt.date | None = None,
) -> dict[str, int]:
    """Sync every endpoint; returns {table_name: row_count}."""
    fetcher = fetcher or make_http_fetcher(config)
    notifier = notifier or LogNotifier()
    schemas = Path(schemas_dir) if schemas_dir else Path(__file__).parent / "schemas"
    today = today or dt.date.today()
    lo, hi = replication_window(
        config["replication_type"],
        dt.date.fromisoformat(config["start_date"]),
        today,
    )

    results: dict[str, int] = {}
    for endpoint in ENDPOINTS:
        schema = load_ref_schema(schemas / f"{endpoint}.json")
        df = sync_endpoint(
            spark, fetcher, endpoint, schema, lo, hi,
            drop_columns=DROP_COLUMNS.get(endpoint, ()),
        )
        df = strip_prefix(df)  # outreach_etl.py:216 parity
        table_name = f"{config['table']}_{endpoint}"  # :217 parity
        # updatedAt-day partitioning → downstream incremental reads prune
        out = df.withColumn("sync_day", df["updatedAt"].cast("date")) \
            if "updatedAt" in df.columns else df
        part_cols = ["sync_day"] if "sync_day" in out.columns else []
        path = f"{output_dir}/{table_name}"
        if part_cols:
            write_partitioned(out, path, part_cols)
        else:
            out.write.mode("overwrite").parquet(path)
        results[table_name] = out.count()
        logger.info("synced %s: %d rows [%s, %s)", table_name,
                    results[table_name], lo, hi)

    notifier.notify(
        f"ETL complete - {config['table']}",
        json.dumps(results, sort_keys=True),
    )
    return results


_DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _replicate(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(prog="outreach_etl_tool_spark replicate")
    parser.add_argument("-c", "--config", required=True, help="Config file")
    parser.add_argument("-o", "--output", required=True, help="Output directory")
    parser.add_argument("--schemas", default=None, help="Schema JSON directory")
    args = parser.parse_args(argv)

    with open(args.config) as fh:
        config = json.load(fh)

    from .session import get_spark

    spark = get_spark(app_name=f"replication-{config['table']}")
    results = run_replication(spark, config, args.output,
                              schemas_dir=args.schemas)
    print(json.dumps(results, sort_keys=True))
    return 0


def _query(argv: list[str], explain: bool = False) -> int:
    parser = argparse.ArgumentParser(
        prog=f"outreach_etl_tool_spark {'explain' if explain else 'query'}"
    )
    parser.add_argument("name", help="Registry query name (see `list`)")
    parser.add_argument("--sf-dir", default=_DEFAULT_SF_DIR,
                        help="Directory of the parquet tables")
    parser.add_argument("--limit", type=int, default=20,
                        help="Max rows to print (query mode)")
    args = parser.parse_args(argv)

    from .queries import REGISTRY
    from .session import get_spark

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; try `list`", flush=True)
        return 2
    spark = get_spark(app_name=f"query-{args.name}")
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    if explain:
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str, sort_keys=True))
    return 0


def _sql(argv: list[str]) -> int:
    """Ad-hoc SQL over the catalog: every table in TABLES registered
    as a temp view (through load_table, so the events ts-unit sniffing
    and worker-pyfile setup apply), then one spark.sql() — the switch
    path for a reference user who today points a SQL client at their
    warehouse. `@file.sql` reads the statement from a file."""
    parser = argparse.ArgumentParser(prog="outreach_etl_tool_spark sql")
    parser.add_argument("statement",
                        help="SQL text, or @path/to/file.sql")
    parser.add_argument("--sf-dir", default=_DEFAULT_SF_DIR,
                        help="Directory of the parquet tables")
    parser.add_argument("--limit", type=int, default=50,
                        help="Max rows to print")
    parser.add_argument("--explain", action="store_true",
                        help="Print the physical plan instead of rows")
    parser.add_argument("--param", action="append", default=[],
                        metavar="NAME=VALUE",
                        help="Bind :name markers (Spark parameterized "
                        "SQL — literals, not string splicing; repeat "
                        "per parameter; value parsed as JSON, else "
                        "kept as string)")
    args = parser.parse_args(argv)

    from . import TABLES
    from .catalog import load_table
    from .session import get_spark

    sql_text = args.statement
    if sql_text.startswith("@"):
        with open(sql_text[1:]) as f:
            sql_text = f.read()
    params = {}
    for p in args.param:
        name, _, raw = p.partition("=")
        try:
            params[name] = json.loads(raw)
        except ValueError:
            params[name] = raw

    spark = get_spark(app_name="sql")
    for t in TABLES:
        try:
            load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
        except Exception as exc:  # noqa: BLE001 — partial catalogs are fine
            # surface the root cause now; the query will otherwise fail
            # later with an unhelpful "table not found"
            print(f"warning: could not register table {t!r}: {exc}", file=sys.stderr)
    df = spark.sql(sql_text, args=params) if params else spark.sql(sql_text)
    if args.explain:
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str, sort_keys=True))
    return 0


def _compact(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(prog="outreach_etl_tool_spark compact")
    parser.add_argument("src", help="Fragmented parquet directory")
    parser.add_argument("dest", help="Output directory (not in place)")
    parser.add_argument("--target-mb", type=int, default=128,
                        help="Target file size in MiB (default 128)")
    parser.add_argument("--sort", default=None,
                        help="Comma-separated columns to re-cluster on")
    args = parser.parse_args(argv)

    from .session import get_spark
    from .sinks.layout import compact_parquet

    spark = get_spark(app_name="compact")
    n = compact_parquet(
        spark,
        args.src,
        args.dest,
        target_file_bytes=args.target_mb * 1024 * 1024,
        sort_cols=args.sort.split(",") if args.sort else None,
    )
    print(json.dumps({"src": args.src, "dest": args.dest, "files": n}))
    return 0


def _list(argv: list[str]) -> int:
    from .queries import REGISTRY

    for name, spec in REGISTRY.items():
        oracle = "sql-oracle" if spec.oracle else "rows-only"
        tags = ",".join(spec.tags)
        print(f"{name}\t{oracle}\t[{tags}]\t{spec.doc}")
    return 0


def main(argv: list[str] | None = None) -> int:
    """`replicate` mirrors the reference's single entry point (and runs
    by default when bare -c/-o flags are passed, reference-style);
    `query`/`explain`/`list` expose the analytics registry; `sql` runs
    ad-hoc SQL over the catalog views; `compact` rewrites fragmented
    parquet directories."""
    import sys as _sys

    argv = list(_sys.argv[1:] if argv is None else argv)
    if argv and argv[0] in (
        "replicate", "query", "explain", "list", "compact", "sql"
    ):
        cmd, rest = argv[0], argv[1:]
        if cmd == "replicate":
            return _replicate(rest)
        if cmd == "query":
            return _query(rest)
        if cmd == "explain":
            return _query(rest, explain=True)
        if cmd == "compact":
            return _compact(rest)
        if cmd == "sql":
            return _sql(rest)
        return _list(rest)
    return _replicate(argv)  # legacy flag form


if __name__ == "__main__":
    raise SystemExit(main())
