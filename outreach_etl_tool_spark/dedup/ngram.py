"""Exact n-gram Jaccard similarity via shingle posting lists
(SURVEY.md §2.10 L2).

The exact counterpart to MinHash: shingle each doc, group (part,
shingle) into a posting list of the docs containing it, emit every
ordered pair within each list, and count how many shingles each pair
shares; jaccard = |∩| / (|A| + |B| - |∩|). The posting-list shape
beats the textbook exploded self-join twice over: the expensive
shingle expression is evaluated ONCE (the self-join's two aliases plus
the doc-size branch re-ran the tokenizer up to three times per query),
and there are zero joins — doc shingle-counts ride along inside the
posting-list structs, so the plan is explode → groupBy shingle →
explode pairs → groupBy pair, exactly two shuffles whose payload is
(shingle, id) tuples, not duplicated left/right copies. Pair blow-up
on a low-entropy corpus (a shingle shared by n docs emits n²/2 rows)
is inherent to EXACT jaccard in any formulation — this is the
verification/small-partition tool; MinHash (parity.py) is the scale
path. A `partition_col` restricts pairs to the same partition (e.g.
`source`), which is also how a 100 TB run would shard it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.util import ensure_parallelism
from .minhash import shingles


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    partition_col: str | None = None,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """Pairs (id_a < id_b) with k-shingle Jaccard ≥ threshold.

    ``max_posting`` is a loud size guard, not a truncation: a shingle
    shared by n docs builds an n-element aggregation buffer and then
    emits ~n²/2 pairs from ONE row (single-row skew; at n=10⁶ that is
    5·10¹¹ pairs and a >2 GB record). Exact Jaccard forbids silently
    dropping members — LSH-style bucket capping would change the
    answer — so past the guard the query FAILS with the remediations
    spelled out (shard with partition_col, raise k, or use the MinHash
    scale path). None disables the guard.
    """
    df = ensure_parallelism(df)
    part = F.col(partition_col) if partition_col else F.lit(0)
    # No pre-explode emptiness filter: explode of an empty array emits
    # zero rows, so shingle-less docs drop out for free — and each
    # extra reference to `sh` is another full evaluation of the
    # shingle expression once Catalyst collapses the projections.
    base = df.select(
        F.col(id_col).alias("id"),
        part.alias("part"),
        shingles(text_col, k).alias("sh"),
    )

    # (part, shingle) → posting list of (id, doc shingle-count) structs;
    # singleton lists can't form a pair, so drop them before the n²
    # within-list expansion.
    posts = (
        base.select(
            "id",
            "part",
            F.size("sh").alias("n"),
            F.explode("sh").alias("shingle"),
        )
        .groupBy("part", "shingle")
        .agg(F.collect_list(F.struct("id", "n")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_posting is not None:
        posts = posts.withColumn(
            "docs",
            F.when(F.size("docs") <= max_posting, F.col("docs")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "jaccard_pairs: a shingle's posting list exceeds "
                            f"max_posting={max_posting} (n docs share it → "
                            "~n²/2 pairs from one row). Shard with "
                            "partition_col, raise k, raise max_posting, or "
                            "use MinHash-LSH for this corpus; shingle="
                        ),
                        F.col("shingle"),
                    )
                )
            ),
        )
    return (
        posts.select(F.explode("docs").alias("a"), "docs")
        .select("a", F.explode("docs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.n").alias("n_a"),
            F.first("b.n").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
