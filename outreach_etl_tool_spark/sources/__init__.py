"""Custom sources (SURVEY.md §2.1 S1 scale path, §4 "custom work").

`RestApiDataSource` is the PySpark Python Data Source form of the
reference's paginated REST extract: `spark.read.format("restapi")`
with one input partition per day-window, so a year's backfill fans out
across the cluster — the distributed analog of outreach_etl.py:157-188's
sequential per-day loop. Each partition runs `ingest.rest.fetch_window`,
the engine's one REST extract (the sync driver and the CLI page through
it too), over `ingest.rest.HttpFetcher` (`base_url`) or a directory
replay (`dir_url`).
"""

from .files import (
    corrupt_stats,
    read_documents_csv,
    read_documents_jsonl,
    split_corrupt,
)
from .restapi import RestApiDataSource, register

__all__ = [
    "RestApiDataSource",
    "register",
    "read_documents_jsonl",
    "read_documents_csv",
    "split_corrupt",
    "corrupt_stats",
]
