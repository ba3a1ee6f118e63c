"""Python Data Source for paginated JSON-API replication.

Usage::

    from outreach_etl_tool_spark.sources import register
    register(spark)
    df = (spark.read.format("restapi")
          .option("endpoint", "prospects")
          .option("schema_file", "/path/schemas/prospects.json")
          .option("start", "2024-03-01").option("end", "2024-03-08")
          .option("base_url", "https://api.example.com/api/v2")  # or dir_url
          .option("page_size", "100")
          .load())

Design (SURVEY.md §2.1 S1):

- **partitions()** returns one `DayWindow` per half-open [day, day+1)
  — Spark schedules them across executors; a year's backfill is 365
  parallel tasks instead of the reference's sequential loop.
- **read(partition)** pages through its window with bounded retries
  and no duplicate appends (the §2.12 bug fixes), flattens each
  record to the declared column layout, and yields tuples.
- **Filter pushdown** is positional by construction: the date window
  IS the querystring filter, evaluated server-side, mirroring
  `filter[updatedAt]` (outreach_etl.py:115-117).
- Transport: `base_url` (HTTP GET via urllib, Bearer token from the
  `token` option) or `dir_url` (a directory of
  `{endpoint}/{day}/page{N}.json` files — the deterministic test/replay
  transport; also what a capture-then-replay backfill uses).
- **Streaming form**: `spark.readStream.format("restapi")` tails the
  same source one day-window per micro-batch (offset = next unread
  day, never past yesterday/`end`) — the reference's `previous_day`
  cron mode as a replayable Structured Streaming source.

The returned frame is all-string (JSON scalars stringified); callers
finish with `ingest.schema_loader.coerce_types` + `upsert_latest`,
exactly like the driver CLI path.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Iterator
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType


@dataclass
class DayWindow(InputPartition):
    lo: str  # ISO date, inclusive
    hi: str  # ISO date, exclusive


def _load_names(schema_file: str) -> list[str]:
    with open(schema_file) as fh:
        return list(json.load(fh))


# single source of truth for the flatten naming contract: the
# golden-tested helper in ingest/flatten.py (a byte-level reimpl here
# would silently drift from fixes landed there, giving batch-driver
# ingest and format("restapi") ingest different column names for the
# same payload)
from ..ingest.flatten import flatten_record as _flatten  # noqa: E402
from ..ingest.rest import FetchError  # noqa: E402


class _Reader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.names = [f.name for f in schema.fields]
        self.options = options

    def partitions(self) -> list[DayWindow]:
        lo = dt.date.fromisoformat(self.options["start"])
        hi = dt.date.fromisoformat(self.options["end"])
        days = []
        d = lo
        while d < hi:
            days.append(DayWindow(d.isoformat(), (d + dt.timedelta(days=1)).isoformat()))
            d += dt.timedelta(days=1)
        return days

    # -- transports ---------------------------------------------------
    def _pages_http(self, window: DayWindow) -> Iterator[list[dict]]:
        import urllib.parse
        import urllib.request

        base = self.options["base_url"].rstrip("/")
        endpoint = self.options["endpoint"]
        page_size = int(self.options.get("page_size", "100"))
        token = self.options.get("token", "")
        # server range semantics are inclusive..inclusive (the reference
        # sends date..date, outreach_etl.py:166); the half-open window
        # converts to an inclusive upper bound of hi - 1 day
        hi_incl = (
            dt.date.fromisoformat(window.hi) - dt.timedelta(days=1)
        ).isoformat()
        params = {
            "sort": "-updatedAt",
            "page[limit]": str(page_size),
            "filter[updatedAt]": f"{window.lo}..{hi_incl}",
        }
        url: str | None = f"{base}/{endpoint}?{urllib.parse.urlencode(params)}"
        followed: set[str] = set()
        while url is not None:
            # a link the API already returned would page forever
            if url in followed:
                raise FetchError(f"{endpoint}: repeated next link {url!r}")
            followed.add(url)
            body = self._http_get(url, token)
            yield body.get("data", [])
            url = (body.get("links") or {}).get("next")

    @staticmethod
    def _http_get(url: str, token: str, max_retries: int = 3) -> dict:
        import urllib.request

        last: Exception | None = None
        for _ in range(max_retries):
            try:
                req = urllib.request.Request(
                    url, headers={"Authorization": f"Bearer {token}"} if token else {}
                )
                with urllib.request.urlopen(req, timeout=60) as resp:
                    return json.loads(resp.read())
            except Exception as exc:  # noqa: BLE001
                last = exc
        raise FetchError(f"GET {url}: {max_retries} attempts failed") from last

    def _pages_dir(self, window: DayWindow) -> Iterator[list[dict]]:
        root = Path(self.options["dir_url"]) / self.options["endpoint"] / window.lo
        if not root.is_dir():
            return
        for page in sorted(root.glob("page*.json")):
            yield json.loads(page.read_text()).get("data", [])

    # -- read ---------------------------------------------------------
    def read(self, partition: DayWindow) -> Iterator[tuple]:
        pages = (
            self._pages_dir(partition)
            if "dir_url" in self.options
            else self._pages_http(partition)
        )
        for page in pages:
            for record in page:
                flat = _flatten(record)
                yield tuple(
                    None if flat.get(n) is None else str(flat.get(n))
                    for n in self.names
                )


class _StreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of the same source: offset = next unread day, one
    day-window per micro-batch — the reference's `previous_day` cron
    mode (outreach_etl.py:227-229) as a Structured Streaming source
    with exactly-once, replayable offsets.

    The simple stream API reads on the driver (fine for API-paged
    tails — the reference itself was one sequential process); bulk
    backfill stays on the partitioned batch reader. `end` (exclusive)
    bounds the stream so `trigger(availableNow=True)` drains a fixed
    replay window and stops advancing.
    """

    def __init__(self, schema: StructType, options: dict) -> None:
        self.inner = _Reader(schema, options)
        self.start = options["start"]
        self.end = options.get("end")  # exclusive bound; open-ended if absent
        # catch-up stride: one batch covers up to this many unread days
        # (steady state is 1 day/batch; first run after downtime drains
        # the backlog in max_days_per_batch chunks)
        self.max_days = int(options.get("max_days_per_batch", "30"))

    def initialOffset(self) -> dict:
        return {"next_day": self.start}

    def _bound(self) -> str:
        # never read a day that may still be receiving updates
        today = dt.date.today().isoformat()
        return min(self.end, today) if self.end else today

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        day = start["next_day"]
        bound = self._bound()
        if day >= bound:
            return iter(()), start  # caught up: offset unchanged
        d = dt.date.fromisoformat(day)
        stop = min(
            dt.date.fromisoformat(bound), d + dt.timedelta(days=self.max_days)
        )
        # day-stepped (both transports window per day), materialized as
        # a list, not a generator: Spark's prefetch cache copy.copy()s
        # the returned iterator (generators aren't copyable)
        rows: list[tuple] = []
        cur = d
        while cur < stop:
            nxt = cur + dt.timedelta(days=1)
            rows.extend(
                self.inner.read(DayWindow(cur.isoformat(), nxt.isoformat()))
            )
            cur = nxt
        return iter(rows), {"next_day": stop.isoformat()}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic replay for recovery: re-pages [start, end)
        d = dt.date.fromisoformat(start["next_day"])
        stop = dt.date.fromisoformat(end["next_day"])
        while d < stop:
            nxt = d + dt.timedelta(days=1)
            yield from self.inner.read(DayWindow(d.isoformat(), nxt.isoformat()))
            d = nxt


class RestApiDataSource(DataSource):
    """``spark.read.format("restapi")`` / ``spark.readStream.format("restapi")``
    — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "restapi"

    def schema(self) -> StructType:
        names = _load_names(self.options["schema_file"])
        return StructType([StructField(n, StringType(), True) for n in names])

    def reader(self, schema: StructType) -> _Reader:
        return _Reader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> _StreamReader:
        return _StreamReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(RestApiDataSource)
