"""A seeded fake of the Outreach JSON-API ``prospects`` endpoint.

:func:`generate` writes one JSON file per day under a directory: every
record of that day, nested the way the API nests them (``attributes``,
``relationships``, ``links``) so that ``ingest.flatten_record`` yields
the 207 column names of ``schemas/prospects.json``. Each day after the
first re-sends about ``update_frac`` of its records for ids first seen
on earlier days, with a later ``updatedAt`` and fresh content.

:class:`DiskFetcher` serves those files with the server semantics the
engine's tests assume (``tests/test_ingest.py::make_fake_api``): the
``filter[updatedAt]`` range is inclusive on both ends, records come
sorted by ``-updatedAt``, and ``page[next]`` is an opaque offset. It is
picklable, so executors fetch on ``sync_endpoint``'s distributed path,
and it never generates anything itself: all generation happens in
:func:`generate`, before any timing starts. A seeded share of first
attempts fails with ``ConnectionError``; the retry of the same request
always succeeds, so a sync with ``max_retries >= 2`` never gives up.

:func:`truth` is the keep-latest answer a correct replication must
commit: per id, the latest ``updatedAt`` and a hash of the string
columns.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from pathlib import Path
from typing import Any

SCHEMA_PATH = Path("outreach_etl_tool_spark") / "schemas" / "prospects.json"
TS_COL = "attributes_updatedAt"
SEP = "\x1f"
NULL = "\x00"


def load_schema(root: Path) -> dict[str, str]:
    return json.loads((root / SCHEMA_PATH).read_text())


def _template(names: list[str]) -> dict:
    """Nested skeleton whose leaves are flat column names. A name that
    is also the prefix of a longer name (``relationships_creator_data``
    next to ``relationships_creator_data_id``) is the API's null-object
    form of that node; the generator always sends the object form."""
    flat = set(names)
    tree: dict = {}
    for name in names:
        if any(other.startswith(name + "_") for other in flat):
            continue
        node = tree
        parts = name.split("_")
        for part in parts[:-1]:
            node = node.setdefault(part, {})
        node[parts[-1]] = name
    return _lists(tree)


def _lists(node: Any) -> Any:
    """Turn dicts keyed 0..n-1 into lists (``emails_0`` → ``emails[0]``)."""
    if not isinstance(node, dict):
        return node
    node = {k: _lists(v) for k, v in node.items()}
    if node and all(k.isdigit() for k in node):
        return [node[str(i)] for i in range(len(node))]
    return node


def _fill(node: Any, leaf) -> Any:
    if isinstance(node, dict):
        return {k: _fill(v, leaf) for k, v in node.items()}
    if isinstance(node, list):
        return [_fill(v, leaf) for v in node]
    return leaf(node)


def _record(
    template: dict,
    schema: dict[str, str],
    rng: random.Random,
    rid: int,
    created: str,
    updated: str,
) -> dict:
    def leaf(name: str) -> Any:
        if name == "id":
            return rid
        if name == "type":
            return "prospect"
        if name == TS_COL:
            return updated
        if name == "attributes_createdAt":
            return created
        if rng.random() < 0.3:
            return None
        kind = schema[name]
        if kind == "string":
            return f"{name[-6:]}-{rng.randrange(1 << 30):x}"
        if kind == "integer":
            return rng.randrange(100_000)
        if kind == "float":
            return round(rng.uniform(0.0, 100.0), 3)
        if kind == "boolean":
            return rng.random() < 0.5
        day = dt.date(2020, 1, 1) + dt.timedelta(days=rng.randrange(1500))
        return f"{day.isoformat()}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00"

    return _fill(template, leaf)


def generate(
    root: Path,
    dest: Path,
    seed: int,
    start: dt.date,
    days: int,
    per_day: int,
    update_frac: float = 0.3,
) -> list[str]:
    """Write ``days`` day files under ``dest``; returns their dates."""
    schema = load_schema(root)
    template = _template(list(schema))
    rng = random.Random(seed)
    dest.mkdir(parents=True, exist_ok=True)
    first_seen: dict[int, str] = {}
    next_id = 0
    dates = []
    for d in range(days):
        day = start + dt.timedelta(days=d)
        n_upd = 0 if d == 0 else int(per_day * update_frac)
        ids = rng.sample(sorted(first_seen), n_upd)
        ids += list(range(next_id, next_id + per_day - n_upd))
        next_id += per_day - n_upd
        # distinct seconds within the day: no two versions of an id tie
        secs = sorted(rng.sample(range(86_400), len(ids)), reverse=True)
        recs = []
        for rid, s in zip(ids, secs):
            ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=s)
            updated = ts.isoformat()
            created = first_seen.setdefault(rid, updated)
            recs.append(_record(template, schema, rng, rid, created, updated))
        recs.sort(key=lambda r: r["attributes"]["updatedAt"], reverse=True)
        (dest / f"{day.isoformat()}.json").write_text(
            json.dumps({"data": recs}, separators=(",", ":"))
        )
        dates.append(day.isoformat())
    return dates


class DiskFetcher:
    """Serve pre-generated day files as paginated JSON-API responses.

    ``fail_rate`` is the share of requests whose first attempt raises
    ``ConnectionError``; the decision is a hash of ``(seed, request)``,
    so it repeats exactly on every run and on every executor. With
    ``log_dir`` set, each call appends one line to a per-process log
    that :func:`call_counts` sums up.
    """

    def __init__(
        self,
        api_dir: str,
        seed: int,
        fail_rate: float = 0.0,
        page_cap: int = 100,
        log_dir: str | None = None,
    ) -> None:
        self.api_dir = api_dir
        self.seed = seed
        self.fail_rate = fail_rate
        self.page_cap = page_cap
        self.log_dir = log_dir
        self._days: dict[str, list[dict]] = {}
        self._count_map: dict[str, int] | None = None
        self._failed: set[str] = set()

    def __getstate__(self) -> dict:
        return {**self.__dict__, "_days": {}, "_count_map": None, "_failed": set()}

    def _day(self, day: str) -> list[dict]:
        recs = self._days.get(day)
        if recs is None:
            path = Path(self.api_dir) / f"{day}.json"
            recs = json.loads(path.read_text())["data"] if path.exists() else []
            self._days = {day: recs}  # one day resident per process
        return recs

    def _counts(self) -> dict[str, int]:
        if self._count_map is None:
            path = Path(self.api_dir) / "counts.json"
            self._count_map = json.loads(path.read_text())
        return self._count_map

    def _log(self, outcome: str) -> None:
        if self.log_dir is not None:
            with open(Path(self.log_dir) / f"calls-{os.getpid()}.log", "a") as fh:
                fh.write(outcome + "\n")

    def __call__(self, endpoint: str, params: dict[str, Any]):
        from outreach_etl_tool_spark.ingest.rest import Page

        key = json.dumps([endpoint, sorted(params.items())], default=str)
        h = hashlib.sha1(f"{self.seed}:{key}".encode()).digest()
        if key not in self._failed and int.from_bytes(h[:4], "big") < self.fail_rate * 2**32:
            self._failed.add(key)
            self._log("retry")
            raise ConnectionError(f"transient failure: {key}")
        self._failed.discard(key)

        lo, hi = params["filter[updatedAt]"].split("..")
        counts = self._counts()
        days = sorted((d for d in counts if lo <= d <= hi), reverse=True)
        total = sum(counts[d] for d in days)
        off = int(params.get("page[next]", 0))
        limit = min(int(params["page[limit]"]), self.page_cap)
        chunk: list[dict] = []
        skip = off
        for d in days:
            if len(chunk) >= limit:
                break
            if skip >= counts[d]:
                skip -= counts[d]
                continue
            recs = self._day(d)
            take = recs[skip: skip + limit - len(chunk)]
            chunk.extend(take)
            skip = 0
        nxt = off + len(chunk)
        self._log("page")
        return Page(
            data=chunk,
            next_token=str(nxt) if nxt < total else None,
            total=total,
        )


def write_counts(api_dir: Path) -> dict[str, int]:
    counts = {
        p.stem: len(json.loads(p.read_text())["data"])
        for p in sorted(api_dir.glob("*.json"))
        if p.name != "counts.json"
    }
    (api_dir / "counts.json").write_text(json.dumps(counts, sort_keys=True))
    return counts


def call_counts(log_dir: Path) -> dict[str, int]:
    out = {"page": 0, "retry": 0}
    for p in log_dir.glob("calls-*.log"):
        for line in p.read_text().split():
            out[line] += 1
    return out


def row_hash(values: list[str | None]) -> str:
    """Content hash of one row's string columns, in schema order."""
    joined = SEP.join(NULL if v is None else v for v in values)
    return hashlib.sha1(joined.encode()).hexdigest()[:16]


def string_columns(schema: dict[str, str]) -> list[str]:
    return [c for c, t in schema.items() if t == "string"]


def truth(root: Path, api_dir: Path, dates: list[str]) -> dict[int, tuple[str, str]]:
    """Keep-latest over the given days: id → (updatedAt, content hash)."""
    from outreach_etl_tool_spark.ingest.flatten import flatten_record

    cols = string_columns(load_schema(root))
    latest: dict[int, tuple[str, str]] = {}
    for d in dates:
        for rec in json.loads((api_dir / f"{d}.json").read_text())["data"]:
            flat = flatten_record(rec)
            ts = flat[TS_COL]
            if rec["id"] in latest and latest[rec["id"]][0] >= ts:
                continue
            vals = [None if flat.get(c) is None else str(flat[c]) for c in cols]
            latest[rec["id"]] = (ts, row_hash(vals))
    return latest
