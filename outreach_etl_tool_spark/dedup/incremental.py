"""Incremental exact dedup: a new batch against an existing corpus
(SURVEY.md §2.10 L1, the production shape of T6-style incremental
loads).

A 100 TB corpus is not re-deduplicated per ingest day. The steady
state is a persisted SIGNATURE STORE — one sha-256 per retained
document, bucketed/partitioned by hash prefix — and each new batch is
checked against it:

1. hash the new docs (narrow projection, codegen'd `sha2`);
2. LEFT ANTI join against the store (new docs whose content already
   exists anywhere in history are dropped; the join shuffles hashes,
   never document payloads, and at rest the store's bucketing makes it
   a co-located join);
3. keep-first within the batch (min id per hash — a batch can contain
   its own duplicates);
4. append the survivors' hashes to the store.

`history_hashes` derives the store from a document table for tests and
first loads; production appends `text_sha` from each batch's output.

Reference anchor: the reference re-pulls and replaces whole days
(outreach_etl.py:227-229) — correct only because its corpus re-fetches
entirely; this operator is the same "newer data wins, nothing
duplicates" contract without reprocessing history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def history_hashes(
    history: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct content hashes of an existing corpus — the signature
    store, derivable once and appended to thereafter."""
    return history.select(
        F.sha2(F.col(text_col), 256).alias("text_sha")
    ).distinct()


def incremental_exact(
    new_batch: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """New-batch documents that survive exact dedup against ``store``
    (a `text_sha` table from :func:`history_hashes` or prior outputs)
    and within the batch itself (keep-first by ascending id).

    Returns ``(id_col, text_sha)`` — append ``text_sha`` to the store
    after materializing the batch.
    """
    hashed = new_batch.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha")
    )
    fresh = hashed.join(store, "text_sha", "left_anti")
    w = Window.partitionBy("text_sha").orderBy(F.asc(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(id_col, "text_sha")
    )

