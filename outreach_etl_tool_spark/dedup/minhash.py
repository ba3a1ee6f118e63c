"""MinHash-LSH shared pieces (SURVEY.md §2.10 L2): k-token shingles
and the LSH candidate stage of the registry's MinHash.

The operator itself lives in ``parity.py`` (md5-prefix base hashes,
32 affine minhash maps, 8 bands of 4, a deterministic bucket cap and
an exact integer Jaccard verify — all reproducible in DuckDB). This
module holds what other operators share with it: ``shingles`` (also
the n-gram Jaccard, pipeline and span tiers' shingler) and
``candidate_pairs``, the unverified pairs the banding proposes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import bind_once
from ..functions.text import tokens
from ..operators.util import ensure_parallelism


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (array<string>), space-joined.

    Docs with fewer than k tokens yield one whole-doc shingle; docs
    with no tokens yield an empty array. (Note: sequence(1, hi) with
    hi < 1 would DESCEND through 0 and make slice() throw — the floor
    at 1 plus the n>0 guard covers both short and empty docs.)

    The token array is bound ONCE through ``bind_once``
    (functions/expr.py): referencing ``tokens(text)`` directly repeats
    the regex per reference — and worse, Catalyst's project collapsing
    then inlines the whole expression into every downstream consumer
    (a filter + size + explode chain re-tokenized every row 7× in the
    executed plan, measured)."""

    def _build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        return F.when(n > 0, F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(tokens(text), _build)


def candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct LSH candidate pairs (id_a < id_b) of the registry
    MinHash, BEFORE its exact-Jaccard verify: shingle → signature →
    band keys → capped buckets, the stage
    :func:`parity.minhash_pairs_parity` verifies. Verification only
    filters, so every verified pair is among these, and
    verified ÷ candidates is the banding's precision at τ."""
    from . import parity  # parity imports shingles from here

    return parity._mh_candidates(
        parity._mh_shingle_frame(ensure_parallelism(df), id_col, text_col)
    )
