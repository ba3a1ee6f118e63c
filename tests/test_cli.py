"""End-to-end CLI replication test: config in → partitioned parquet
out, reference semantics (drop heavy columns, strip prefix, table
naming, upsert) across all three endpoints with a fake API."""

from __future__ import annotations

import datetime as dt
import io
import json

from outreach_etl_tool_spark.cli import run_replication
from outreach_etl_tool_spark.ingest.rest import Page


def fake_api(rows_by_endpoint):
    def fetcher(endpoint: str, params: dict) -> Page:
        lo, hi = params["filter[updatedAt]"].split("..")
        sel = [
            r for r in rows_by_endpoint.get(endpoint, [])
            # real server semantics: date..date is inclusive..inclusive
            if lo <= r["attributes"]["updatedAt"][:10] <= hi
        ]
        off = int(params.get("page[next]", 0))
        chunk = sel[off: off + 2]
        nxt = off + 2 if off + 2 < len(sel) else None
        return Page(chunk, None if nxt is None else str(nxt), len(sel))

    return fetcher


def resource(endpoint: str, rid: int, day: str, **attrs) -> dict:
    return {
        "id": rid,
        "type": endpoint[:-1],
        "attributes": {"updatedAt": f"{day}T08:00:{rid % 60:02d}", **attrs},
    }


class CaptureNotifier:
    def __init__(self):
        self.messages = []

    def notify(self, subject, body):
        self.messages.append((subject, body))


def test_run_replication_end_to_end(spark, tmp_path):
    rows = {
        "prospects": [
            resource("prospects", i, "2024-03-01", firstName=f"p{i}",
                     emails=[f"a{i}@x.com"]) for i in range(5)
        ] + [
            # re-pulled prospect 0 with a newer update — upsert keeps it
            resource("prospects", 0, "2024-03-02", firstName="p0-new"),
        ],
        "sequences": [
            resource("sequences", i, "2024-03-01", name=f"s{i}", openCount=i)
            for i in range(3)
        ],
        "mailings": [
            resource("mailings", i, "2024-03-01", subject=f"m{i}",
                     bodyHtml="<b>HEAVY</b>", bodyText="HEAVY")
            for i in range(4)
        ],
        "accounts": [
            resource("accounts", i, "2024-03-01", name=f"co{i}",
                     domain=f"co{i}.com", numberOfEmployees=i * 10)
            for i in range(2)
        ],
        "opportunities": [
            resource("opportunities", i, "2024-03-02", name=f"deal{i}",
                     amount=1000.5 * (i + 1)) for i in range(3)
        ],
    }
    config = {
        "replication_type": "full",
        "start_date": "2024-03-01",
        "table": "acme",
    }
    notifier = CaptureNotifier()
    out_dir = str(tmp_path / "out")
    results = run_replication(
        spark, config, out_dir, fetcher=fake_api(rows), notifier=notifier,
        today=dt.date(2024, 3, 3),
    )
    assert results == {"acme_prospects": 5, "acme_sequences": 3,
                       "acme_mailings": 4, "acme_accounts": 2,
                       "acme_opportunities": 3}

    prospects = spark.read.parquet(f"{out_dir}/acme_prospects")
    # prefix stripped (reference :216) and upsert kept the newer version
    assert "firstName" in prospects.columns
    row0 = prospects.filter(prospects.id == 0).collect()[0]
    assert row0["firstName"] == "p0-new"
    # day-partitioned output
    assert "sync_day" in prospects.columns

    mailings = spark.read.parquet(f"{out_dir}/acme_mailings")
    # heavy body columns never materialize (reference :105-107)
    assert "bodyHtml" not in mailings.columns
    assert "bodyText" not in mailings.columns
    assert "subject" in mailings.columns

    # the two reference-routed endpoints without reference schema files
    # sync through the same path on condensed repo-local contracts
    accounts = spark.read.parquet(f"{out_dir}/acme_accounts")
    assert {"name", "domain", "numberOfEmployees"} <= set(accounts.columns)
    opps = spark.read.parquet(f"{out_dir}/acme_opportunities")
    got_amounts = sorted(r["amount"] for r in opps.collect())
    assert got_amounts == [1000.5, 2001.0, 3001.5]

    assert notifier.messages and "acme" in notifier.messages[0][0]


def test_cli_previous_day_window(spark, tmp_path):
    rows = {
        "prospects": [
            resource("prospects", 1, "2024-03-01", firstName="old"),
            resource("prospects", 2, "2024-03-02", firstName="yesterday"),
        ],
        "sequences": [], "mailings": [], "accounts": [], "opportunities": [],
    }
    config = {"replication_type": "previous_day",
              "start_date": "2024-01-01", "table": "t"}
    results = run_replication(
        spark, config, str(tmp_path / "o"), fetcher=fake_api(rows),
        notifier=CaptureNotifier(), today=dt.date(2024, 3, 3),
    )
    # only the 03-02 row is in [today-1, today)
    assert results["t_prospects"] == 1


def test_http_fetcher_follows_absolute_next_link(monkeypatch):
    """The CLI's OAuth fetcher pages a real JSON-API window: page 1 is
    the endpoint URL with the window querystring, and page 2 is the
    absolute ``links.next`` GET byte for byte (not re-encoded as a
    ``page[next]`` param on the base URL, which the API would answer
    with page 1's link again). Token POST and page GETs are faked."""
    import urllib.request

    import requests

    from outreach_etl_tool_spark import cli
    from outreach_etl_tool_spark.ingest import rest

    link = f"{cli.API_BASE}/prospects?page%5Bsize%5D=2&page%5Bafter%5D=eyJpZCI6Mn0%3D"
    bodies = [
        {"data": [resource("prospects", 1, "2024-03-01"),
                  resource("prospects", 2, "2024-03-01")],
         "links": {"next": link}, "meta": {"count": 3}},
        {"data": [resource("prospects", 3, "2024-03-01")], "links": {}},
    ]
    gets = []

    def urlopen(req, timeout=None):
        gets.append((req.full_url, req.get_header("Authorization")))
        if len(gets) > len(bodies):
            raise AssertionError(f"unexpected GET {req.full_url}")
        return io.BytesIO(json.dumps(bodies[len(gets) - 1]).encode())

    class TokenResponse:
        def raise_for_status(self):
            pass

        def json(self):
            return {"access_token": "tok-1", "expires_in": 7200}

    def no_requests_get(*args, **kwargs):
        raise AssertionError("page GETs must go through the urllib transport")

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    monkeypatch.setattr(requests, "post", lambda *a, **k: TokenResponse())
    monkeypatch.setattr(requests, "get", no_requests_get)
    config = {"client_id": "c", "client_secret": "s",
              "refresh_token": "r", "redirect_uri": "u"}
    recs = rest.fetch_window(
        cli.make_http_fetcher(config), "prospects",
        dt.date(2024, 3, 1), dt.date(2024, 3, 2), page_size=2,
    )
    assert [r["id"] for r in recs] == [1, 2, 3]
    assert len(gets) == 2
    assert gets[0][0].startswith(f"{cli.API_BASE}/prospects?")
    assert "filter%5BupdatedAt%5D=2024-03-01..2024-03-01" in gets[0][0]
    assert gets[1][0] == link
    assert {auth for _, auth in gets} == {"Bearer tok-1"}


def test_cli_list_and_query_subcommands(spark, capsys):
    from outreach_etl_tool_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "funnel" in out and "sql-oracle" in out

    assert main(["query", "agg_count", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert '"n_rows"' in out

    assert main(["query", "no_such_query"]) == 2

    assert main(["explain", "top_k_orders", "--sf-dir",
                 "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "TakeOrderedAndProject" in out


def test_cli_sql_subcommand(spark, tmp_path, capsys):
    from outreach_etl_tool_spark.cli import main

    stmt = ("SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo "
            "FROM orders JOIN customer ON o_custkey = c_custkey")
    assert main(["sql", stmt, "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert '"n"' in out and '"lo"' in out

    # named parameters bind as literals (parameterized SQL, no splicing)
    assert main(["sql",
                 "SELECT COUNT(*) AS n FROM orders "
                 "WHERE o_orderpriority = :prio",
                 "--param", "prio=1-URGENT",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert '"n"' in out

    # @file form + --explain prints a plan, not rows
    f = tmp_path / "q.sql"
    f.write_text("SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1")
    assert main(["sql", f"@{f}", "--sf-dir", "/root/testdata/sf0.001",
                 "--explain"]) == 0
    out = capsys.readouterr().out
    assert "HashAggregate" in out


def test_cli_compact_subcommand(spark, tmp_path, capsys):
    import glob
    import json as _json

    from outreach_etl_tool_spark.cli import main

    frag = str(tmp_path / "frag")
    spark.range(0, 50_000).repartition(16).write.parquet(frag)
    dest = str(tmp_path / "out")
    assert main(["compact", frag, dest, "--target-mb", "1"]) == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["files"] == len(glob.glob(f"{dest}/*.parquet"))
    assert spark.read.parquet(dest).count() == 50_000
