"""Exact text deduplication (SURVEY.md §2.10 L1).

Scale design: group by a 256-bit content hash, not the text itself —
the shuffle then moves 32-byte keys instead of multi-KB documents, and
the aggregation is a plain hash agg with map-side partials. Collision
probability at 100 TB (~10^11 docs) against 2^256 is negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: the kept (minimum) id and the
    duplicate count."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("__h"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .drop("__h")
    )

