"""Ingest layer tests: flatten golden parity with the reference
schemas, schema loading, and the §2.12 replication-bug fixes."""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from outreach_etl_tool_spark.ingest import (
    coerce_types,
    empty_frame,
    flatten_record,
    load_ref_schema,
    ref_schema_to_struct,
)
from outreach_etl_tool_spark.ingest import rest

REF_SCHEMAS = "/root/reference/schemas"


# ------------------------------------------------- flatten: golden parity
def test_flatten_record_nested_dict_and_lists():
    rec = {
        "attributes": {
            "emails": ["a@x.com", "b@x.com"],
            "contactHistogram": [[0, 1], [2, 3]],
            "firstName": "Ada",
        },
        "relationships": {"account": {"data": {"id": 7}}},
        "id": 1,
    }
    flat = flatten_record(rec)
    assert flat == {
        "attributes_emails_0": "a@x.com",
        "attributes_emails_1": "b@x.com",
        "attributes_contactHistogram_0_0": 0,
        "attributes_contactHistogram_0_1": 1,
        "attributes_contactHistogram_1_0": 2,
        "attributes_contactHistogram_1_1": 3,
        "attributes_firstName": "Ada",
        "relationships_account_data_id": 7,
        "id": 1,
    }


def test_flatten_names_are_reference_schema_columns():
    """Every name our flattener derives for the prospects fixture exists
    verbatim in the reference's declared schema — the golden contract."""
    schema_cols = set(json.load(open(f"{REF_SCHEMAS}/prospects.json")))
    rec = {
        "attributes": {
            "addedAt": "2024-01-01T00:00:00Z",
            "emails": ["a@x.com", "b@x.com"],
            "tags": ["t1", "t2"],
            "contactHistogram": [[i, i + 1] for i in range(12)],
            "engagedScore": 0.5,
        },
        "relationships": {
            "account": {"data": {"type": "account", "id": 7}},
            "owner": {"data": {"type": "user", "id": 3}},
        },
        "id": 1,
        "type": "prospect",
    }
    flat = flatten_record(rec)
    missing = {k for k in flat if k not in schema_cols}
    assert not missing, f"columns not in reference schema: {sorted(missing)}"
    # the 12×2 histogram flattens to all 24 declared matrix columns
    assert {f"attributes_contactHistogram_{i}_{j}" for i in range(12)
            for j in range(2)} <= set(flat)


# -------------------------------------------------- schema loader parity
WIDTHS = (("prospects", 207), ("sequences", 90), ("mailings", 68))


@pytest.mark.parametrize("schemas_dir", [REF_SCHEMAS, None],
                         ids=["reference", "repo"])
def test_load_ref_schema_all_three_endpoints(spark, schemas_dir):
    """Both the reference's verbose files and the repo's compact
    full-width files load to the same 207/90/68 nullable columns."""
    if schemas_dir is None:
        import outreach_etl_tool_spark as pkg

        schemas_dir = str(Path(pkg.__file__).parent / "schemas")
    for endpoint, ncols in WIDTHS:
        schema = load_ref_schema(f"{schemas_dir}/{endpoint}.json")
        assert len(schema) == ncols
        struct = ref_schema_to_struct(schema)
        assert len(struct.fields) == ncols
        assert all(f.nullable for f in struct.fields)
    df = empty_frame(spark, schema)
    assert df.count() == 0 and len(df.columns) == 68


def test_repo_schemas_match_reference_key_for_key():
    """Full-width parity: every endpoint's repo-local schema declares
    exactly the reference's columns with the same dtypes."""
    import outreach_etl_tool_spark as pkg

    repo_dir = Path(pkg.__file__).parent / "schemas"
    for endpoint, _ in WIDTHS:
        ref = load_ref_schema(f"{REF_SCHEMAS}/{endpoint}.json")
        mine = load_ref_schema(repo_dir / f"{endpoint}.json")
        assert mine == ref, endpoint


def test_coerce_types(spark):
    schema = {"n": "integer", "x": "float", "ok": "boolean",
              "at": "datetime", "s": "string"}
    df = spark.createDataFrame(
        [("42", "1.5", "True", "2024-03-01T12:00:00", "keep"),
         ("bad", "bad", "bad", "bad", None)],
        "n string, x string, ok string, at string, s string",
    )
    out = coerce_types(df, schema)
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds == {"n": "bigint", "x": "double", "ok": "boolean",
                     "at": "timestamp", "s": "string"}
    good, bad = out.orderBy(F.desc("s")).collect()
    assert (good["n"], good["x"], good["ok"]) == (42, 1.5, True)
    assert good["at"] == dt.datetime(2024, 3, 1, 12, 0)
    # unparseable inputs became null, not a failed batch
    assert (bad["n"], bad["x"], bad["ok"], bad["at"]) == (None,) * 4


# ------------------------------------------------ replication semantics
SCHEMA = {"id": "integer", "attributes_updatedAt": "datetime",
          "attributes_v": "integer"}


def make_fake_api(rows: list[dict], page_size_cap: int = 2,
                  fail_first: int = 0):
    """In-memory JSON-API: date-filtered, sorted, paginated via an
    opaque offset token; optionally fails the first N calls."""
    state = {"calls": 0, "fetched_pages": 0}

    def fetcher(endpoint: str, params: dict) -> rest.Page:
        state["calls"] += 1
        if state["calls"] <= fail_first:
            raise ConnectionError("transient")
        # REAL server semantics: date..date range is INCLUSIVE on both
        # ends (reference sends single-day date..date windows) — a
        # half-open client assumption shows up here as boundary dupes
        lo, hi = params["filter[updatedAt]"].split("..")
        sel = [r for r in rows if lo <= r["attributes"]["updatedAt"][:10] <= hi]
        sel.sort(key=lambda r: r["attributes"]["updatedAt"], reverse=True)
        off = int(params.get("page[next]", 0))
        limit = min(params["page[limit]"], page_size_cap)
        chunk = sel[off: off + limit]
        nxt = off + limit if off + limit < len(sel) else None
        state["fetched_pages"] += 1
        return rest.Page(data=chunk, next_token=None if nxt is None else str(nxt),
                         total=len(sel))

    fetcher.state = state
    return fetcher


def api_rows(n: int, day: str = "2024-03-01") -> list[dict]:
    return [
        {"id": i, "attributes": {"updatedAt": f"{day}T00:00:{i % 60:02d}", "v": i}}
        for i in range(n)
    ]


def test_sync_includes_page_one(spark):
    """Reference bug #1: the ≤threshold branch lost page 1; we must not."""
    fetcher = make_fake_api(api_rows(5))
    df = rest.sync_endpoint(
        spark, fetcher, "prospects", SCHEMA,
        dt.date(2024, 3, 1), dt.date(2024, 3, 2),
    )
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]


def test_sync_retries_without_duplicates(spark):
    """Reference bug #3: retry appended the previous page again."""
    fetcher = make_fake_api(api_rows(5), fail_first=2)
    df = rest.sync_endpoint(
        spark, fetcher, "prospects", SCHEMA,
        dt.date(2024, 3, 1), dt.date(2024, 3, 2), max_retries=5,
    )
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3, 4]


def test_sync_persistent_failure_raises(spark):
    fetcher = make_fake_api(api_rows(3), fail_first=10**6)
    with pytest.raises(rest.FetchError):
        rest.sync_endpoint(
            spark, fetcher, "prospects", SCHEMA,
            dt.date(2024, 3, 1), dt.date(2024, 3, 2), max_retries=3,
        )


class _CallCapHit(BaseException):
    """Not an Exception, so the fetch retry loop cannot swallow it."""


def test_fetch_window_repeated_cursor_raises():
    """An API that answers every page with the same ``next`` cursor
    makes the sync fail loudly, naming the endpoint and the cursor,
    instead of paging forever. The fake fetcher stops at a hard call
    cap so a missing guard fails the test rather than hanging it."""
    calls = []

    def fetcher(endpoint, params):
        calls.append(params.get("page[next]"))
        if len(calls) > 20:
            raise _CallCapHit(f"{len(calls)} fetches of one window")
        return rest.Page(data=[], next_token="cursor-7")

    with pytest.raises(rest.FetchError, match="prospects.*cursor-7"):
        rest.fetch_window(
            fetcher, "prospects", dt.date(2024, 3, 1), dt.date(2024, 3, 2)
        )
    assert calls == [None, "cursor-7"]


def test_day_windows_half_open_no_overlap():
    """Internal windows are half-open and tile exactly."""
    ws = rest.day_windows(dt.date(2024, 3, 1), dt.date(2024, 3, 4))
    assert ws == [
        (dt.date(2024, 3, 1), dt.date(2024, 3, 2)),
        (dt.date(2024, 3, 2), dt.date(2024, 3, 3)),
        (dt.date(2024, 3, 3), dt.date(2024, 3, 4)),
    ]


def test_window_params_inclusive_querystring():
    """The server's range filter is inclusive..inclusive (the reference
    sends date..date, outreach_etl.py:166): a half-open [lo, lo+1day)
    window must serialize as lo..lo, never lo..lo+1 — the latter
    re-fetches every boundary day in the adjacent partition too."""
    p = rest.window_params(dt.date(2024, 3, 1), dt.date(2024, 3, 2), 100)
    assert p["filter[updatedAt]"] == "2024-03-01..2024-03-01"
    p3 = rest.window_params(dt.date(2024, 3, 1), dt.date(2024, 3, 4), 100)
    assert p3["filter[updatedAt]"] == "2024-03-01..2024-03-03"


def test_sync_never_fetches_outside_window(spark):
    """Against an inclusive-range server, a half-open querystring leaks
    the day AFTER the replication window into the result; rows from
    2024-03-03 must not appear when syncing [03-01, 03-03)."""
    rows = (
        api_rows(3, "2024-03-01")
        + [dict(r, id=r["id"] + 10) for r in api_rows(3, "2024-03-02")]
        + [dict(r, id=r["id"] + 20) for r in api_rows(3, "2024-03-03")]
    )
    df = rest.sync_endpoint(
        spark, make_fake_api(rows), "prospects", SCHEMA,
        dt.date(2024, 3, 1), dt.date(2024, 3, 3),
    )
    got = sorted(r["id"] for r in df.collect())
    assert got == [0, 1, 2, 10, 11, 12], got


def test_sync_large_goes_distributed_and_upserts(spark):
    """>threshold → per-day mapInPandas fan-out; re-pulled rows collapse
    to the latest updatedAt version (T6 upsert)."""
    rows = api_rows(6, "2024-03-01") + api_rows(6, "2024-03-02")
    # same ids on both days → day 2 versions must win
    df = rest.sync_endpoint(
        spark, make_fake_api(rows, page_size_cap=4), "prospects", SCHEMA,
        dt.date(2024, 3, 1), dt.date(2024, 3, 3), large_threshold=3,
    )
    out = df.collect()
    assert sorted(r["id"] for r in out) == [0, 1, 2, 3, 4, 5]
    assert all(r["attributes_updatedAt"].day == 2 for r in out)


# Declared layout for the golden flatten test: nested dicts, a list
# declared three positions wide, a nested null, booleans, floats, and
# booleans/floats landing in string columns (Python's str() is the
# contract there: "False", "1e+16").
GOLDEN_SCHEMA = {
    "id": "integer",
    "attributes_updatedAt": "datetime",
    "attributes_name_first": "string",
    "attributes_name_last": "string",
    "attributes_emails_0": "string",
    "attributes_emails_1": "string",
    "attributes_emails_2": "string",
    "attributes_score": "float",
    "attributes_big": "float",
    "attributes_bigText": "string",
    "attributes_optedOut": "boolean",
    "attributes_flagText": "string",
    "attributes_owner_id": "integer",
    "attributes_count": "integer",
}


def golden_rows() -> list[dict]:
    rows = []
    for i in range(6):
        day = "2024-03-01" if i < 3 else "2024-03-02"
        rows.append({
            "id": i,
            "type": "prospect",  # not declared: dropped
            "attributes": {
                "updatedAt": f"{day}T00:00:{i:02d}",
                "name": {"first": f"Ada{i}", "last": None},
                "emails": [f"a{i}@x.com"] + ([f"b{i}@x.com"] if i % 2 else []),
                "score": 0.1,
                "big": 1e16,
                "bigText": 1e16,
                "optedOut": i % 2 == 0,
                "flagText": i % 2 == 1,
                "owner": None if i % 3 else {"id": 40 + i},
                "count": i * 7,
                "unknownField": {"deep": [1, 2]},  # not declared: dropped
            },
        })
    return rows


@pytest.mark.parametrize("large_threshold", [10_000, 1],
                         ids=["whole_window", "distributed"])
def test_sync_flatten_golden_values(spark, large_threshold):
    """Both sync paths produce exactly the declared columns, in order,
    and every value is flatten_record → str() → coerce_types for that
    column: absent list positions and nested nulls are null, undeclared
    fields are dropped."""
    rows = golden_rows()
    names = list(GOLDEN_SCHEMA)
    df = rest.sync_endpoint(
        spark, make_fake_api(rows, page_size_cap=2), "prospects", GOLDEN_SCHEMA,
        dt.date(2024, 3, 1), dt.date(2024, 3, 3), large_threshold=large_threshold,
    )
    assert df.columns == names

    strings = []
    for rec in rows:
        flat = flatten_record(rec)
        strings.append(tuple(
            None if flat.get(n) is None else str(flat[n]) for n in names
        ))
    want_df = coerce_types(
        spark.createDataFrame(strings, ", ".join(f"`{n}` string" for n in names)),
        GOLDEN_SCHEMA,
    )
    assert df.schema == want_df.schema
    got = {r["id"]: r.asDict() for r in df.collect()}
    want = {r["id"]: r.asDict() for r in want_df.collect()}
    assert got == want

    r0, r1 = got[0], got[1]
    assert (r0["attributes_emails_1"], r0["attributes_emails_2"]) == (None, None)
    assert r1["attributes_emails_1"] == "b1@x.com"
    assert r0["attributes_name_last"] is None
    assert (r0["attributes_owner_id"], r1["attributes_owner_id"]) == (40, None)
    assert (r0["attributes_optedOut"], r1["attributes_optedOut"]) == (True, False)
    assert (r0["attributes_flagText"], r1["attributes_flagText"]) == ("False", "True")
    assert (r0["attributes_score"], r0["attributes_big"]) == (0.1, 1e16)
    assert r0["attributes_bigText"] == "1e+16"


def test_replication_window_modes():
    today = dt.date(2024, 3, 10)
    assert rest.replication_window("full", dt.date(2024, 1, 1), today) == (
        dt.date(2024, 1, 1), today)
    assert rest.replication_window("previous_day", dt.date(2024, 1, 1), today) == (
        dt.date(2024, 3, 9), today)
    with pytest.raises(ValueError):
        rest.replication_window("nope", today, today)


def test_upsert_latest_keeps_latest(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "old"), (1, dt.datetime(2024, 1, 2), "new"),
         (2, dt.datetime(2024, 1, 1), "only")],
        "id long, updatedAt timestamp, v string",
    )
    out = {r["id"]: r["v"] for r in rest.upsert_latest(df).collect()}
    assert out == {1: "new", 2: "only"}


def test_strip_prefix(spark):
    df = spark.createDataFrame([(1, "x")], "id long, attributes_name string")
    assert rest.strip_prefix(df).columns == ["id", "name"]
