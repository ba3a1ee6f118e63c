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
  (`ingest.rest.day_windows`) — Spark schedules them across executors;
  a year's backfill is 365 parallel tasks instead of the reference's
  sequential loop.
- **read(partition)** is `ingest.rest.fetch_window` over its window —
  the one REST extract the sync driver and the CLI also run: bounded
  retries, permanent errors failing at once, no duplicate appends, a
  repeated `links.next` raising `FetchError` (the §2.12 bug fixes) —
  then aligns each flat record to the declared column layout.
- **Filter pushdown** is positional by construction: the date window
  IS the querystring filter, evaluated server-side, mirroring
  `filter[updatedAt]` (outreach_etl.py:115-117).
- Transport: `base_url` selects `ingest.rest.HttpFetcher` (Bearer token
  from the `token` option); `dir_url` selects `_DirFetcher`, a
  directory of `{endpoint}/{day}/page{N}.json` files numbered from 0
  (the deterministic test/replay transport; also what a
  capture-then-replay backfill uses).
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
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

from ..ingest.rest import Fetcher, HttpFetcher, Page, day_windows, fetch_window
from ..ingest.schema_loader import load_ref_schema


@dataclass
class DayWindow(InputPartition):
    lo: str  # ISO date, inclusive
    hi: str  # ISO date, exclusive


@dataclass(frozen=True)
class _DirFetcher:
    """Replay ``Fetcher``: page N of a day is
    ``{root}/{endpoint}/{day}/page{N}.json``, and ``page[next]`` is the
    next page's index while that file exists. Windows are single days
    (the reader's partitions), so the filter's lower bound names it."""

    root: str

    def __call__(self, endpoint: str, params: dict[str, Any]) -> Page:
        day = params["filter[updatedAt]"].split("..")[0]
        n = int(params.get("page[next]", 0))
        path = Path(self.root) / endpoint / day / f"page{n}.json"
        if not path.is_file():
            return Page()
        nxt = path.with_name(f"page{n + 1}.json")
        return Page(
            data=json.loads(path.read_text()).get("data", []),
            next_token=str(n + 1) if nxt.is_file() else None,
        )


class _Reader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.names = [f.name for f in schema.fields]
        self.options = options

    def partitions(self) -> list[DayWindow]:
        lo = dt.date.fromisoformat(self.options["start"])
        hi = dt.date.fromisoformat(self.options["end"])
        return [DayWindow(a.isoformat(), b.isoformat()) for a, b in day_windows(lo, hi)]

    def _fetcher(self) -> Fetcher:
        if "dir_url" in self.options:
            return _DirFetcher(self.options["dir_url"])
        token = self.options.get("token", "")
        return HttpFetcher(self.options["base_url"], lambda: token)

    def read(self, partition: DayWindow) -> Iterator[tuple]:
        records = fetch_window(
            self._fetcher(),
            self.options["endpoint"],
            dt.date.fromisoformat(partition.lo),
            dt.date.fromisoformat(partition.hi),
            int(self.options.get("page_size", "100")),
        )
        for flat in records:
            yield tuple(
                None if flat.get(n) is None else str(flat.get(n)) for n in self.names
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
        stop = min(
            dt.date.fromisoformat(bound),
            dt.date.fromisoformat(day) + dt.timedelta(days=self.max_days),
        ).isoformat()
        end = {"next_day": stop}
        # materialized as a list, not a generator: Spark's prefetch
        # cache copy.copy()s the returned iterator (generators aren't
        # copyable), and a failed day must fail read() itself
        return iter(list(self.readBetweenOffsets(start, end))), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic replay for recovery: re-pages [start, end)
        for lo, hi in day_windows(
            dt.date.fromisoformat(start["next_day"]),
            dt.date.fromisoformat(end["next_day"]),
        ):
            yield from self.inner.read(DayWindow(lo.isoformat(), hi.isoformat()))


class RestApiDataSource(DataSource):
    """``spark.read.format("restapi")`` / ``spark.readStream.format("restapi")``
    — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "restapi"

    def schema(self) -> StructType:
        names = load_ref_schema(self.options["schema_file"])
        return StructType([StructField(n, StringType(), True) for n in names])

    def reader(self, schema: StructType) -> _Reader:
        return _Reader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> _StreamReader:
        return _StreamReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(RestApiDataSource)
