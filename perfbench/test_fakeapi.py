"""Tests of the benchmark's fake JSON-API. No Spark session needed.

    python3 -m pytest perfbench/test_fakeapi.py -q
"""

from __future__ import annotations

import datetime as dt
import pickle
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(BENCH))

import fakeapi  # noqa: E402
from outreach_etl_tool_spark.ingest import rest  # noqa: E402
from outreach_etl_tool_spark.ingest.flatten import flatten_record  # noqa: E402

START = dt.date(2024, 3, 1)


def _api(dest: Path, seed: int, days: int = 3, per_day: int = 20) -> list[str]:
    dates = fakeapi.generate(ROOT, dest, seed, START, days, per_day)
    fakeapi.write_counts(dest)
    return dates


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_pages(tmp_path):
    _api(tmp_path / "a", seed=7)
    _api(tmp_path / "b", seed=7)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


def test_other_seed_gives_other_pages(tmp_path):
    _api(tmp_path / "a", seed=7)
    _api(tmp_path / "b", seed=8)
    assert _files(tmp_path / "a") != _files(tmp_path / "b")


def test_records_flatten_to_the_prospects_contract(tmp_path):
    _api(tmp_path, seed=1, days=1, per_day=5)
    schema = fakeapi.load_schema(ROOT)
    fetch = fakeapi.DiskFetcher(str(tmp_path), seed=1)
    page = fetch("prospects", rest.window_params(START, START + dt.timedelta(days=1), 10))
    for rec in page.data:
        assert set(flatten_record(rec)) <= set(schema)


def test_date_filter_is_inclusive_on_both_ends(tmp_path):
    dates = _api(tmp_path, seed=3)
    fetch = fakeapi.DiskFetcher(str(tmp_path), seed=3, page_cap=7)
    one = rest.fetch_window(fetch, "prospects", START, START + dt.timedelta(days=1), 7)
    assert {r["attributes_updatedAt"][:10] for r in one} == {dates[0]}
    assert len(one) == 20
    wide = fakeapi.DiskFetcher(str(tmp_path), seed=3)
    page = wide("prospects", {"filter[updatedAt]": f"{dates[0]}..{dates[1]}", "page[limit]": 100})
    assert page.total == 40
    assert {r["attributes"]["updatedAt"][:10] for r in page.data} == set(dates[:2])


def test_pages_are_sorted_and_disjoint(tmp_path):
    _api(tmp_path, seed=4)
    fetch = fakeapi.DiskFetcher(str(tmp_path), seed=4, page_cap=6)
    recs = rest.fetch_window(fetch, "prospects", START, START + dt.timedelta(days=3), 6)
    stamps = [r["attributes_updatedAt"] for r in recs]
    assert stamps == sorted(stamps, reverse=True)
    assert len(recs) == 60
    assert len({(r["id"], r["attributes_updatedAt"]) for r in recs}) == 60


def test_transient_failures_are_seeded_and_retried(tmp_path):
    _api(tmp_path, seed=5)
    params = rest.window_params(START, START + dt.timedelta(days=1), 10)
    always = fakeapi.DiskFetcher(str(tmp_path), seed=5, fail_rate=1.0)
    with pytest.raises(ConnectionError):
        always("prospects", params)
    assert always("prospects", params).total == 20  # the retry succeeds
    recs = rest.fetch_window(
        pickle.loads(pickle.dumps(always)), "prospects",
        START, START + dt.timedelta(days=1), 10, max_retries=2,
    )
    assert len(recs) == 20
    with pytest.raises(rest.FetchError):
        rest.fetch_window(
            fakeapi.DiskFetcher(str(tmp_path), seed=5, fail_rate=1.0), "prospects",
            START, START + dt.timedelta(days=1), 10, max_retries=1,
        )


def test_call_log_counts_pages_and_retries(tmp_path):
    _api(tmp_path / "api", seed=6)
    log = tmp_path / "log"
    log.mkdir()
    fetch = fakeapi.DiskFetcher(str(tmp_path / "api"), seed=6, fail_rate=1.0, log_dir=str(log))
    rest.fetch_window(fetch, "prospects", START, START + dt.timedelta(days=1), 10, max_retries=2)
    assert fakeapi.call_counts(log) == {"page": 2, "retry": 2}


def test_truth_keeps_the_latest_version(tmp_path):
    dates = _api(tmp_path, seed=9)
    truth = fakeapi.truth(ROOT, tmp_path, dates)
    latest: dict[int, str] = {}
    for d in dates:
        page = fakeapi.DiskFetcher(str(tmp_path), seed=9)(
            "prospects", {"filter[updatedAt]": f"{d}..{d}", "page[limit]": 100}
        )
        for rec in page.data:
            latest[rec["id"]] = max(latest.get(rec["id"], ""), rec["attributes"]["updatedAt"])
    assert {k: v[0] for k, v in truth.items()} == latest
    assert len(truth) < 60  # later days re-send earlier ids
