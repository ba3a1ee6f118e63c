"""Paginated JSON-API replication as a batch driver (SURVEY.md §2.1 S1,
§3.1-3.3), with the reference's four bugs fixed (SURVEY.md §2.12):

1. page 1 is included in the accumulated result (outreach_etl.py:119
   fetched it but :136-155 dropped it);
2. no hidden module-global token state — auth is the fetcher's concern,
   injected, so there is nothing to go stale (outreach_etl.py:52-71);
3. retries are bounded and never re-append the previous page
   (outreach_etl.py:139-155's finally-append duplicated rows and a
   persistent error looped forever);
4. day chunking uses half-open [day, day+1) windows — no boundary
   double-fetch (outreach_etl.py:160-166 used inclusive date..date) —
   and the final keep-latest upsert makes re-pulled rows idempotent.

Scale design: the driver only orchestrates; record flattening and
frame building run on executors. The distributed path partitions the
date range and fetches day-windows in parallel with ``mapInPandas`` —
one task per day, the Spark analog of the reference's adaptive
per-day re-plan (outreach_etl.py:127,157).

This module is the engine's one REST extract: ``fetch_window`` owns
the pager and repeated-cursor guard, ``_fetch_retry`` the retry loop,
``day_windows`` the day partitioning. The transport is a ``Fetcher``
callable (endpoint, params) → Page. ``HttpFetcher`` is the one HTTP
transport (stdlib urllib, Bearer token from a callable); the CLI's
OAuth fetcher and the ``restapi`` DataSource both page through it, and
tests inject fakes.
"""

from __future__ import annotations

import datetime as dt
import json
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .flatten import flatten_record
from .schema_loader import coerce_types, ref_schema_to_struct


@dataclass
class Page:
    """One page of a JSON-API response."""

    data: list[dict[str, Any]] = field(default_factory=list)
    next_token: str | None = None  # opaque pagination cursor (links.next)
    total: int | None = None  # meta.count


Fetcher = Callable[[str, dict[str, Any]], Page]


class FetchError(RuntimeError):
    """Raised when a page cannot be fetched: a permanent error, or a
    transient one that outlived the retry budget."""


@dataclass(frozen=True)
class HttpFetcher:
    """JSON-API ``Fetcher`` over HTTP GET. Page 1 is
    ``{base_url}/{endpoint}?{params}``; a ``page[next]`` param is the
    API's ``links.next``, an absolute URL, so it is fetched verbatim.
    ``token`` is called per request (the caller owns refresh); an empty
    token sends no Authorization header. A 4xx other than 408/429 is
    permanent and raises ``FetchError``; anything else propagates for
    ``_fetch_retry`` to retry."""

    base_url: str
    token: Callable[[], str]

    def __call__(self, endpoint: str, params: dict[str, Any]) -> Page:
        url = params.get("page[next]") or (
            f"{self.base_url.rstrip('/')}/{endpoint}?{urllib.parse.urlencode(params)}"
        )
        token = self.token()
        req = urllib.request.Request(
            url, headers={"Authorization": f"Bearer {token}"} if token else {}
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                body = json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            if 400 <= exc.code < 500 and exc.code not in (408, 429):
                raise FetchError(f"{endpoint}: GET {url} -> HTTP {exc.code}") from exc
            raise
        return Page(
            data=body.get("data", []),
            next_token=(body.get("links") or {}).get("next"),
            total=(body.get("meta") or {}).get("count"),
        )


def _fetch_retry(
    fetcher: Fetcher, endpoint: str, params: dict[str, Any], max_retries: int
) -> Page:
    """Retry transient fetch failures; a ``FetchError`` is permanent
    and re-raised at once."""
    last: Exception | None = None
    for _ in range(max_retries):
        try:
            return fetcher(endpoint, params)
        except FetchError:
            raise
        except Exception as exc:  # noqa: BLE001 — fetcher errors are opaque
            last = exc
    raise FetchError(f"{endpoint}: {max_retries} attempts failed") from last


def window_params(lo: dt.date, hi: dt.date, page_size: int) -> dict[str, Any]:
    """Querystring for one half-open [lo, hi) updatedAt window.

    The server's range filter is INCLUSIVE on both ends — the reference
    sends single-day ``date..date`` windows (outreach_etl.py:166) — so
    the half-open Python bound converts to ``lo..hi-1day`` at the
    querystring boundary. Sending ``lo..hi`` would re-fetch every
    window's upper boundary day in the next window too, duplicating
    boundary days across adjacent partitions and micro-batches."""
    hi_incl = hi - dt.timedelta(days=1)
    return {
        "sort": "-updatedAt",
        "page[limit]": page_size,
        "filter[updatedAt]": f"{lo.isoformat()}..{hi_incl.isoformat()}",
    }


def fetch_window(
    fetcher: Fetcher,
    endpoint: str,
    lo: dt.date,
    hi: dt.date,
    page_size: int = 100,
    max_retries: int = 3,
) -> list[dict[str, Any]]:
    """All records in [lo, hi), flattened — page 1 included (bug #1).
    A ``next`` cursor the API already returned raises ``FetchError``:
    following it again would page forever."""
    params = window_params(lo, hi, page_size)
    page = _fetch_retry(fetcher, endpoint, params, max_retries)
    records = [flatten_record(r) for r in page.data]
    seen: set[str] = set()
    while page.next_token is not None:
        if page.next_token in seen:
            raise FetchError(
                f"{endpoint}: repeated next cursor {page.next_token!r}"
            )
        seen.add(page.next_token)
        page = _fetch_retry(
            fetcher, endpoint, {**params, "page[next]": page.next_token}, max_retries
        )
        records.extend(flatten_record(r) for r in page.data)
    return records


def probe_count(
    fetcher: Fetcher,
    endpoint: str,
    lo: dt.date,
    hi: dt.date,
    page_size: int = 100,
    max_retries: int = 3,
) -> int | None:
    """meta.count for the window (the adaptive-replan input). Honors
    the caller's retry budget — this probe gates the whole sync, so it
    must not be the least-retried fetch of the run."""
    return _fetch_retry(
        fetcher, endpoint, window_params(lo, hi, page_size), max_retries
    ).total


def day_windows(lo: dt.date, hi: dt.date) -> list[tuple[dt.date, dt.date]]:
    """Half-open daily windows covering [lo, hi) — no overlap (bug #4)."""
    days = []
    d = lo
    while d < hi:
        days.append((d, d + dt.timedelta(days=1)))
        d += dt.timedelta(days=1)
    return days


def replication_window(
    mode: str, start_date: dt.date, today: dt.date
) -> tuple[dt.date, dt.date]:
    """The reference's two modes (outreach_etl.py:223-229, README.md:42)
    as half-open windows: full = [start_date, today), previous_day =
    [today-1, today)."""
    if mode == "full":
        return start_date, today
    if mode == "previous_day":
        return today - dt.timedelta(days=1), today
    raise ValueError(f"unknown replication mode {mode!r}")


def _records_to_pdf(records: list[dict[str, Any]], names: list[str]) -> pd.DataFrame:
    """Align flat records to the declared column set (absent → null —
    the concat-against-schema semantics of etl_tools.py:41), stringified
    for the all-string ingest frame that coerce_types finalizes."""
    cols: dict[str, list[str | None]] = {n: [] for n in names}
    for rec in records:
        for n in names:
            v = rec.get(n)
            cols[n].append(None if v is None else str(v))
    return pd.DataFrame(cols, dtype=object)


def sync_endpoint(
    spark: SparkSession,
    fetcher: Fetcher,
    endpoint: str,
    ref_schema: dict[str, str],
    lo: dt.date,
    hi: dt.date,
    page_size: int = 100,
    large_threshold: int = 10_000,
    drop_columns: tuple[str, ...] = (),
    max_retries: int = 3,
    key_col: str = "id",
    ts_col: str = "attributes_updatedAt",
) -> DataFrame:
    """Replicate one endpoint over [lo, hi) into a typed DataFrame.

    Mirrors §3.1 steps 3-7: probe count → (adaptive) whole-window or
    distributed per-day fetch → schema-aligned union → dtype coercion →
    drop heavy columns → keep-latest upsert. The per-day path runs ONE
    task per day via mapInPandas, so a year's backfill fans out across
    the cluster instead of serializing through the driver.
    """
    names = [n for n in ref_schema if n not in drop_columns]
    sub_schema = {n: t for n, t in ref_schema.items() if n in set(names)}
    string_struct = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names]
    )

    total = probe_count(fetcher, endpoint, lo, hi, page_size, max_retries)
    if total is not None and total > large_threshold:
        days = [(a.isoformat(), b.isoformat()) for a, b in day_windows(lo, hi)]
        day_df = spark.createDataFrame(days, "d_lo string, d_hi string").repartition(
            max(1, min(len(days), spark.sparkContext.defaultParallelism))
        )

        def fetch_days(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for d_lo, d_hi in zip(pdf["d_lo"], pdf["d_hi"]):
                    recs = fetch_window(
                        fetcher, endpoint,
                        dt.date.fromisoformat(d_lo), dt.date.fromisoformat(d_hi),
                        page_size, max_retries,
                    )
                    if recs:
                        yield _records_to_pdf(recs, names)

        raw = day_df.mapInPandas(fetch_days, schema=string_struct)
    else:
        recs = fetch_window(fetcher, endpoint, lo, hi, page_size, max_retries)
        raw = spark.createDataFrame(_records_to_pdf(recs, names), schema=string_struct)

    typed = coerce_types(raw, sub_schema)
    if key_col in names:
        return upsert_latest(typed, key=key_col, ts=ts_col)
    return typed


def upsert_latest(
    df: DataFrame, key: str = "id", ts: str = "updatedAt"
) -> DataFrame:
    """Keep the latest version of each key (W1 form; SURVEY.md §2.9 T6).
    Deterministic: ties on ts resolve by row content hash (APIs that
    truncate updatedAt to whole seconds produce equal-ts versions
    routinely; without the hash the survivor was whichever row the
    partition sorted first, breaking replay idempotence — the same
    fix sinks/manifest.upsert carries)."""
    if ts not in df.columns:
        return df.dropDuplicates([key])
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc_nulls_last(), F.xxhash64(*df.columns).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def strip_prefix(df: DataFrame, prefix: str = "attributes_") -> DataFrame:
    """Bulk rename (outreach_etl.py:216 parity, SURVEY.md §2.2 P2)."""
    return df.toDF(*[c[len(prefix):] if c.startswith(prefix) else c
                     for c in df.columns])
