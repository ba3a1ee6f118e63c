"""RestApiDataSource tests: partition-per-day reads via the directory
transport, flatten parity, schema contract, typed finish."""

from __future__ import annotations

import io
import json

import pytest
from pyspark.sql import functions as F

from outreach_etl_tool_spark.ingest.schema_loader import coerce_types
from outreach_etl_tool_spark.sources import register

SCHEMA = {
    "id": {"type": ["null", "integer"]},
    "attributes_updatedAt": {"type": ["null", "datetime"]},
    "attributes_name": {"type": ["null", "string"]},
    "attributes_emails_0": {"type": ["null", "string"]},
}


def write_fixture(tmp_path):
    (tmp_path / "schemas").mkdir()
    schema_file = tmp_path / "schemas" / "prospects.json"
    schema_file.write_text(json.dumps(SCHEMA))
    api = tmp_path / "api"
    for day, pages in {
        "2024-03-01": [
            [{"id": 1, "attributes": {"updatedAt": "2024-03-01T01:00:00",
                                      "name": "a", "emails": ["a@x"]}},
             {"id": 2, "attributes": {"updatedAt": "2024-03-01T02:00:00",
                                      "name": "b"}}],
            [{"id": 3, "attributes": {"updatedAt": "2024-03-01T03:00:00",
                                      "name": "c"}}],
        ],
        "2024-03-02": [
            [{"id": 4, "attributes": {"updatedAt": "2024-03-02T09:00:00",
                                      "name": "d"}}],
        ],
    }.items():
        d = api / "prospects" / day
        d.mkdir(parents=True)
        for i, page in enumerate(pages):
            (d / f"page{i}.json").write_text(json.dumps({"data": page}))
    return str(schema_file), str(api)


def test_restapi_source_reads_all_partitions(spark, tmp_path):
    schema_file, api_dir = write_fixture(tmp_path)
    register(spark)
    df = (
        spark.read.format("restapi")
        .option("endpoint", "prospects")
        .option("schema_file", schema_file)
        .option("start", "2024-03-01")
        .option("end", "2024-03-03")
        .option("dir_url", api_dir)
        .load()
    )
    assert df.columns == ["id", "attributes_updatedAt", "attributes_name",
                          "attributes_emails_0"]
    # one spark partition per day window
    assert df.rdd.getNumPartitions() == 2
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"1", "2", "3", "4"}
    assert rows["1"]["attributes_emails_0"] == "a@x"
    assert rows["2"]["attributes_emails_0"] is None

    typed = coerce_types(df, {k: v["type"][1] for k, v in SCHEMA.items()})
    got = {r["id"]: r for r in typed.collect()}
    assert got[3]["attributes_updatedAt"].hour == 3


def test_restapi_source_empty_window(spark, tmp_path):
    schema_file, api_dir = write_fixture(tmp_path)
    register(spark)
    df = (
        spark.read.format("restapi")
        .option("endpoint", "prospects")
        .option("schema_file", schema_file)
        .option("start", "2024-06-01")
        .option("end", "2024-06-04")
        .option("dir_url", api_dir)
        .load()
    )
    assert df.count() == 0


def test_restapi_source_filters_by_window(spark, tmp_path):
    schema_file, api_dir = write_fixture(tmp_path)
    register(spark)
    df = (
        spark.read.format("restapi")
        .option("endpoint", "prospects")
        .option("schema_file", schema_file)
        .option("start", "2024-03-02")
        .option("end", "2024-03-03")
        .option("dir_url", api_dir)
        .load()
    )
    assert [r["id"] for r in df.collect()] == ["4"]


def test_restapi_stream_tails_day_windows(spark, tmp_path):
    """Streaming form: availableNow drains one micro-batch per day
    window up to the exclusive `end` bound, with day offsets in the
    checkpoint (replayable)."""
    schema_file, api_dir = write_fixture(tmp_path)
    register(spark)
    stream = (
        spark.readStream.format("restapi")
        .option("endpoint", "prospects")
        .option("schema_file", schema_file)
        .option("start", "2024-03-01")
        .option("end", "2024-03-03")
        .option("dir_url", api_dir)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("rest_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {r["id"]: r for r in spark.sql("SELECT * FROM rest_tail").collect()}
    assert set(rows) == {"1", "2", "3", "4"}
    assert rows["4"]["attributes_name"] == "d"


# ---------------------------------------------- file sources + quarantine
def test_jsonl_corrupt_records_quarantined(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join([
        '{"doc_id": 1, "source": "web", "lang": "en", "text": "good one"}',
        '{"doc_id": 2, "source": "web", "lang": "en", "text": "truncat',   # bad
        'not json at all',                                                  # bad
        '{"doc_id": 4, "source": "book", "lang": "de", "text": "noch gut"}',
    ]))
    from outreach_etl_tool_spark.sources import (
        corrupt_stats,
        read_documents_jsonl,
        split_corrupt,
    )

    df = read_documents_jsonl(spark, str(p))
    clean, quarantine = split_corrupt(df)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 4]
    assert "_corrupt_record" not in clean.columns
    bad = quarantine.collect()
    assert len(bad) == 2
    assert all(r["raw_record"] and r["source_file"].endswith("docs.jsonl")
               for r in bad)
    stats = corrupt_stats(df).collect()
    assert len(stats) == 1
    assert (stats[0]["n_rows"], stats[0]["n_corrupt"]) == (4, 2)
    assert stats[0]["corrupt_share"] == pytest.approx(0.5)


def test_csv_corrupt_records_quarantined(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text("\n".join([
        "doc_id,source,lang,text",
        '1,web,en,"fine row"',
        'oops,web,en,"doc_id not a number"',       # type-corrupt
        '3,book,de,"auch gut"',
    ]))
    from outreach_etl_tool_spark.sources import read_documents_csv, split_corrupt

    df = read_documents_csv(spark, str(p))
    clean, quarantine = split_corrupt(df)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3]
    assert quarantine.count() == 1
    assert "oops" in quarantine.collect()[0]["raw_record"]


def test_jsonl_blank_lines_neither_clean_nor_corrupt(spark, tmp_path):
    """Blank/whitespace lines are padding, not documents: they must
    not surface as all-null CLEAN rows (from_json('') yields a null
    struct, not a corrupt record — the pre-fix mode injected null
    documents into the corpus) and must not inflate corrupt_stats."""
    from outreach_etl_tool_spark.sources import (
        read_documents_jsonl,
        split_corrupt,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}\n'
        "\n"
        "   \n"
        '{"doc_id": 2, "text": "ok2", "lang": "en", "source": "s"}\n'
        "\n"
    )
    clean, quarantine = split_corrupt(read_documents_jsonl(spark, str(p)))
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    assert quarantine.count() == 0


def test_csv_quoted_header_is_skipped(spark, tmp_path):
    from outreach_etl_tool_spark.sources import read_documents_csv, split_corrupt

    p = tmp_path / "docs.csv"
    p.write_text(
        '"doc_id","source","lang","text"\n'
        "1,s,en,hello\n"
    )
    clean, quarantine = split_corrupt(read_documents_csv(spark, str(p)))
    assert [r["doc_id"] for r in clean.collect()] == [1]
    assert quarantine.count() == 0


def test_stream_tail_midbatch_failure_never_advances_offset(tmp_path):
    """Streaming-tail failure contract (no Spark needed — the
    SimpleDataSourceStreamReader is driven directly): when the
    transport dies mid-batch (day 2 of a 2-day catch-up), read(start)
    must PROPAGATE the failure without yielding a partial offset —
    Spark then retries the batch from the same offset, and the retry
    returns the complete row set with the advanced offset. A reader
    that swallowed the error or advanced next_day past the failed day
    would silently drop a day of data."""
    from pyspark.sql.types import StringType, StructField, StructType

    from outreach_etl_tool_spark.sources.restapi import (
        DayWindow,
        _StreamReader,
    )

    schema_file, api_dir = write_fixture(tmp_path)
    schema = StructType([StructField(n, StringType(), True) for n in SCHEMA])
    reader = _StreamReader(
        schema,
        {
            "endpoint": "prospects",
            "schema_file": schema_file,
            "dir_url": api_dir,
            "start": "2024-03-01",
            "end": "2024-03-03",
        },
    )
    inner_read = reader.inner.read
    fails = {"n": 0}

    def flaky(window: DayWindow):
        if window.lo == "2024-03-02" and fails["n"] == 0:
            fails["n"] += 1
            raise RuntimeError("GET …: retries exhausted")
        yield from inner_read(window)

    reader.inner.read = flaky
    start = reader.initialOffset()
    assert start == {"next_day": "2024-03-01"}
    # read() materializes eagerly (list, not generator) — the failure
    # surfaces from read() itself, before any offset is produced
    with pytest.raises(RuntimeError, match="retries exhausted"):
        reader.read(start)
    # retry from the SAME offset: full batch, offset advanced to end
    rows, nxt = reader.read(start)
    ids = sorted(r[0] for r in rows)
    assert ids == ["1", "2", "3", "4"]  # both days, nothing dropped
    assert nxt == {"next_day": "2024-03-03"}
    # caught up: offset stays put, no rows
    rows2, same = reader.read(nxt)
    assert list(rows2) == [] and same == nxt


class _CallCap(BaseException):
    """Stops a reader that would page forever. A BaseException, so no
    ``except Exception`` in the reader can swallow it and the test
    fails instead of hanging."""


def _reader(**transport):
    """A one-day ``prospects`` batch reader over ``base_url`` or ``dir_url``."""
    from pyspark.sql.types import StringType, StructField, StructType

    from outreach_etl_tool_spark.sources.restapi import _Reader

    schema = StructType([StructField(n, StringType(), True) for n in SCHEMA])
    options = {"endpoint": "prospects", "start": "2024-03-01", "end": "2024-03-02"}
    return _Reader(schema, {**options, **transport})


def test_restapi_repeated_next_link_raises_fetch_error(monkeypatch):
    """An API that keeps returning the same ``links.next`` must make
    the HTTP transport fail loudly with ``FetchError`` naming the
    endpoint and the repeated link, not page forever (the ingest
    path's ``fetch_window`` contract, held by the DataSource too)."""
    import urllib.request

    from outreach_etl_tool_spark.ingest.rest import FetchError
    from outreach_etl_tool_spark.sources.restapi import DayWindow

    loop = "http://api.test/prospects?page%5Bnext%5D=c1"
    calls = {"n": 0}

    def same_next(req, timeout=None):
        calls["n"] += 1
        if calls["n"] > 20:
            raise _CallCap(f"{calls['n']} GETs")
        return io.BytesIO(json.dumps({
            "data": [{"id": calls["n"], "attributes": {"name": "x"}}],
            "links": {"next": loop},
        }).encode())

    monkeypatch.setattr(urllib.request, "urlopen", same_next)
    reader = _reader(base_url="http://api.test")
    with pytest.raises(FetchError, match="prospects.*repeated") as err:
        list(reader.read(DayWindow("2024-03-01", "2024-03-02")))
    assert loop in str(err.value)
    assert calls["n"] == 2  # the first page, then the link once


def test_restapi_http_get_exhausted_retries_raise_fetch_error(monkeypatch):
    """Exhausted retries surface as ``FetchError`` (the ingest path's
    error type), with the transport's last failure as the cause."""
    import urllib.request

    from outreach_etl_tool_spark.ingest.rest import FetchError
    from outreach_etl_tool_spark.sources.restapi import DayWindow

    def refuse(req, timeout=None):
        raise ConnectionRefusedError("refused")

    monkeypatch.setattr(urllib.request, "urlopen", refuse)
    reader = _reader(base_url="http://api.test")
    with pytest.raises(FetchError, match="3 attempts failed") as err:
        list(reader.read(DayWindow("2024-03-01", "2024-03-02")))
    assert isinstance(err.value.__cause__, ConnectionRefusedError)


@pytest.mark.parametrize(
    "code, gets", [(400, 1), (403, 1), (404, 1), (408, 3), (429, 3), (503, 3)]
)
def test_restapi_http_permanent_errors_fail_at_once(monkeypatch, code, gets):
    """A 4xx other than 408/429 is permanent: one GET, then
    ``FetchError``. 408, 429 and 5xx are transient and use the whole
    retry budget (3) before ``FetchError``. Either way the
    ``HTTPError`` is the cause."""
    import urllib.error
    import urllib.request

    from outreach_etl_tool_spark.ingest.rest import FetchError
    from outreach_etl_tool_spark.sources.restapi import DayWindow

    urls = []

    def fail(req, timeout=None):
        urls.append(req.full_url)
        raise urllib.error.HTTPError(req.full_url, code, "status", {}, None)

    monkeypatch.setattr(urllib.request, "urlopen", fail)
    reader = _reader(base_url="http://api.test")
    with pytest.raises(FetchError, match="prospects") as err:
        list(reader.read(DayWindow("2024-03-01", "2024-03-02")))
    assert len(urls) == gets
    assert isinstance(err.value.__cause__, urllib.error.HTTPError)
    assert err.value.__cause__.code == code


def test_restapi_dir_transport_reads_pages_in_numeric_order(tmp_path):
    """The ``dir_url`` replay transport reads ``page0`` … ``page11`` of
    a day in numeric order (``page10`` after ``page9``, not after
    ``page1``), every record exactly once."""
    from outreach_etl_tool_spark.sources.restapi import DayWindow

    day = tmp_path / "api" / "prospects" / "2024-03-01"
    day.mkdir(parents=True)
    for n in range(12):
        page = [{"id": 10 * n + i, "attributes": {"name": f"p{n}"}} for i in range(3)]
        (day / f"page{n}.json").write_text(json.dumps({"data": page}))
    reader = _reader(dir_url=str(tmp_path / "api"))
    rows = list(reader.read(DayWindow("2024-03-01", "2024-03-02")))
    assert [r[0] for r in rows] == [str(10 * n + i) for n in range(12) for i in range(3)]
    assert [r[2] for r in rows] == [f"p{n}" for n in range(12) for _ in range(3)]
