"""Banded near-dup over 64-bit fingerprints, the shared candidate
stage of the multimodal dedup ops (SURVEY.md §2.10 L5): image
perceptual hashes (``multimodal/phash.py``) and audio chroma hashes
(``multimodal/afp.py``).

The 64 bits split into 4×16-bit bands (pigeonhole: Hamming ≤ 3 pairs
agree on ≥ 1 band); ids sharing a (band, chunk) bucket become
candidates and an exact popcount on the XOR verifies them. The band
explode carries two small integers per item×band; fingerprints
re-attach only to the candidate set. Linear in corpus size, one
bucket shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_MAX_BUCKET = 1024


def bucket_pairs(banded: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ``id``s sharing a bucket.

    One shuffle: groupBy bucket key → per-bucket id list → in-bucket
    pair expansion. This replaces a banded self-join, which evaluates
    the upstream pipeline once PER SIDE unless the ×B corpus-sized band
    table is cached — not an option at 10^11 items. Pair expansion is
    quadratic in bucket size by definition (those pairs ARE the
    output); ``_MAX_BUCKET`` caps degenerate buckets (hash collisions /
    blank-image floods) — buckets past the cap are truncated after an
    ascending sort so the kept subset is deterministic.
    """
    ids_sorted = F.array_sort(F.collect_list("id"))
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(ids_sorted.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.slice("ids", 1, _MAX_BUCKET).alias("ids"))
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            for ids in pdf["ids"]:
                arr = np.asarray(ids, dtype=np.int64)
                iu, ju = np.triu_indices(len(arr), k=1)
                out_a.append(arr[iu])
                out_b.append(arr[ju])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    return buckets.mapInPandas(expand, "id_a long, id_b long").dropDuplicates(
        ["id_a", "id_b"]
    )


def fingerprint_pairs(
    fp: DataFrame,
    id_col: str = "id",
    hash_col: str = "fp",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming) with Hamming(hash64) ≤ max_hamming.

    Recall guarantee covers Hamming ≤ 3 (4 bands); larger thresholds
    still verify exactly but recall becomes probabilistic.
    """
    base = fp.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__fp"))
    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("__fp", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.chunk")
    # localCheckpoint, not persist: both multi-consumer frames are tiny
    # (candidate pairs / candidate-only fingerprints) but a persist()
    # entry outlives the call in the session CacheManager; checkpointed
    # blocks are freed with the frame reference.
    cand = bucket_pairs(banded, ["band", "chunk"]).localCheckpoint()
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    fp_small = base.join(cand_ids, "id", "left_semi").localCheckpoint()
    verified = (
        cand.join(
            fp_small.select(F.col("id").alias("id_a"), F.col("__fp").alias("h_a")),
            "id_a",
        ).join(
            fp_small.select(F.col("id").alias("id_b"), F.col("__fp").alias("h_b")),
            "id_b",
        )
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        verified.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
