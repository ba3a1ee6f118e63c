"""Banded near-dup over 64-bit fingerprints, the shared candidate
stage of the multimodal dedup ops (SURVEY.md §2.10 L5): image
perceptual hashes (``multimodal/phash.py``) and audio chroma hashes
(``multimodal/afp.py``).

The 64 bits split into 4×16-bit bands (pigeonhole: Hamming ≤ 3 pairs
agree on ≥ 1 band). One pass, one bucket shuffle: each item's
``(id, fp)`` struct rides the (band, chunk) shuffle, pairs expand
inside each bucket in the JVM and an exact popcount on the XOR
verifies them there. Nothing re-joins fingerprints to candidates, so
the upstream fingerprint kernel (a media decode) runs once per item,
and building the frame starts no Spark job. Linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_MAX_BUCKET = 1024


def fingerprint_pairs(
    fp: DataFrame,
    id_col: str = "id",
    hash_col: str = "fp",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming) with Hamming(hash64) ≤ max_hamming.

    Recall guarantee covers Hamming ≤ 3 (4 bands); larger thresholds
    still verify exactly but recall becomes probabilistic. Pair
    expansion is quadratic in bucket size by definition (those pairs
    ARE the output); ``_MAX_BUCKET`` caps degenerate buckets (hash
    collisions / blank-image floods) — a bucket past the cap keeps its
    first ids ascending, so the kept subset is deterministic.
    """
    item = F.struct(F.col(id_col).alias("id"), F.col(hash_col).alias("fp"))
    banded = fp.select(
        item.alias("m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(hash_col, b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    )
    # array_sort orders the structs by id first: the cap keeps the
    # lowest ids, and position order is id order, so pa < pb ⇒ id_a < id_b
    buckets = (
        banded.groupBy("bk.band", "bk.chunk")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.slice("ms", 1, _MAX_BUCKET).alias("ms"))
    )
    pairs = (
        buckets.select("ms", F.posexplode("ms").alias("pa", "a"))
        .select("pa", "a", F.posexplode("ms").alias("pb", "b"))
        .filter(F.col("pa") < F.col("pb"))
    )
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
