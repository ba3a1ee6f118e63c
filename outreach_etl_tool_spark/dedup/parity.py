"""Oracle-parity near-dup detection: MinHash-LSH and SimHash whose
ENTIRE pipeline — base hash, signatures, banding, bucket cap, exact
verify — is reproducible in ANSI-ish SQL (DuckDB), so the driver's
hash-equality gate can certify the pair output instead of recording a
rows-only run (SURVEY.md §2.10 L2; reference parity: the pandas
reference has no near-dedup at all — this is EXT surface).

This is the engine's one MinHash, SimHash and SRP-embedding LSH
implementation; every registry dedup op and the streaming near-dup
sink run it. Design points:

* Base hash = integer prefix of md5 (``conv(substr(md5(x),1,n),16,10)``
  / ``('0x' || substr(md5(x),1,n))::BIGINT``) — bit-identical in Spark
  and DuckDB, and computed JVM-side AFTER an explode so it stays
  inside whole-stage codegen (no interpreted higher-order chain, no
  Arrow round-trip).
* Affine minhash maps use 30-bit constants on 28-bit base hashes:
  every intermediate fits comfortably in a signed 64-bit integer, so
  Spark BIGINT and DuckDB BIGINT arithmetic agree exactly — no mod-2^64
  wraparound semantics to reconcile.
* The signature is ONE groupBy with ``num_hashes`` MIN aggregates —
  map-side combinable, so the exchange carries one signature-sized row
  per (doc × partition), not per token. That is the property that
  makes this formulation scale-legitimate rather than a test-only
  shim: at 10^11 docs the shuffle is signature-bytes, and the band
  self-join is keyed by 4-minhash band keys.
* The bucket cap (deterministic ascending-id truncation of degenerate
  buckets) is expressed as ``row_number() <= cap`` over (band, key) —
  the same kept-subset as ``list_slice(list_sort(ids), 1, cap)`` —
  and mirrored verbatim in the oracle.

Recall notes: SimHash banding at max_hamming=3 over 60 bits with 4
15-bit bands is EXHAUSTIVE by pigeonhole (<=3 differing bits cannot
touch all 4 bands), so the output is exactly the Hamming-<=3 pair set
(modulo capped degenerate buckets, mirrored). MinHash banding is the
standard probabilistic recall curve; with pinned constants the
candidate set — hence the output — is a pure function of the corpus,
which is what the oracle certifies.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.text import tokens
from ..operators.util import ensure_parallelism
from .minhash import shingles

# ---------------------------------------------------------------- constants
_MH_SEED = 2024
_MH_NUM, _MH_BANDS, _MH_K = 32, 8, 3
_MH_ROWS = _MH_NUM // _MH_BANDS  # 4 minhashes per band key
_MH_MASK = (1 << 30) - 1
_CAP = 1024  # deterministic degenerate-bucket truncation


def _mh_constants() -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(_MH_SEED)
    a = (rng.randint(1, 2**29, size=_MH_NUM) * 2 + 1).tolist()
    b = rng.randint(0, 2**30, size=_MH_NUM).tolist()
    return a, b


_MH_A, _MH_B = _mh_constants()

# Wide expression lists as SQL text, shared by the Spark builds (each
# expression parsed JVM-side in one py4j call, not one call per Column
# node — the functions/vectors.py discipline) and the DuckDB oracles.
_MH_MIN_SQL = [
    f"MIN(({_MH_A[i]} * h + {_MH_B[i]}) & {_MH_MASK}) AS s{i}"
    for i in range(_MH_NUM)
]
_MH_KEY_SQL = [
    "CONCAT_WS(',', "
    + ", ".join(f"s{b * _MH_ROWS + r}" for r in range(_MH_ROWS))
    + ")"
    for b in range(_MH_BANDS)
]

# 60-bit fingerprint (15 md5 hex chars): close to a 64-bit simhash's
# tightness — Hamming<=3 of 60 is a near-dup gate, of 32 it
# would be a loose similarity gate (measured 725 vs ~17 pairs at
# sf0.01) — while still fitting signed-64 arithmetic in both engines
_SH_BITS = 60
_SH_BANDS, _SH_BAND_BITS = 4, 15
_SH_MAXHAM = 3  # < _SH_BANDS -> pigeonhole-exhaustive banding


def _sh_sql(shift: str) -> tuple[list[str], str, list[str]]:
    """SimHash SQL text: the 60 vote SUMs, the fingerprint sum and the
    4 band keys (without the VARCHAR/STRING cast). ``shift`` is the
    engine's right-shift call template (bit j of a non-negative
    60-bit hash is the same under either engine's shift)."""
    votes = [
        f"SUM(CASE WHEN {shift.format('h', j)} & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS v{j}"
        for j in range(_SH_BITS)
    ]
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_SH_BITS)
    )
    keys = [
        f"{shift.format('fp', b * _SH_BAND_BITS)}"
        f" & {(1 << _SH_BAND_BITS) - 1}"
        for b in range(_SH_BANDS)
    ]
    return votes, fp, keys


def _hex_long(col: Column, n: int) -> Column:
    """First n hex chars of md5 as BIGINT (n <= 15)."""
    return F.conv(F.substring(F.md5(col), 1, n), 16, 10).cast("long")


# ------------------------------------------------------------ MinHash-LSH
def _mh_shingle_frame(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), shingles(text_col, _MH_K).alias("sh")
    ).filter(F.size("sh") > 0)


def _mh_signature(sh: DataFrame) -> DataFrame:
    """(id, s0..s31) minhash signature from a (id, sh) shingle frame.
    Exploded shingles -> md5 prefix hash, all codegen; the groupBy's
    partial MIN collapses to one signature row per doc per partition."""
    hs = sh.select("id", F.explode("sh").alias("s")).select(
        "id", _hex_long(F.col("s"), 7).alias("h")
    )
    return hs.groupBy("id").agg(*[F.expr(m) for m in _MH_MIN_SQL])


def _mh_banded(sig: DataFrame) -> DataFrame:
    rows = ", ".join(
        f"named_struct('band', {b}, 'key', {key})"
        for b, key in enumerate(_MH_KEY_SQL)
    )
    return sig.selectExpr("id", f"inline(array({rows}))")


def _mh_candidates(sh: DataFrame) -> DataFrame:
    """Unverified (id_a < id_b) LSH candidates from a shingle frame."""
    return _banded_pairs(_mh_banded(_mh_signature(sh)))


def minhash_pairs_parity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold_num: int = 2, threshold_den: int = 5,
) -> DataFrame:
    """Exact-verified MinHash-LSH near-dup pairs, oracle-reproducible.

    Jaccard threshold τ = threshold_num/threshold_den (default 2/5 =
    0.4, matching dedup_ngram_jaccard); the verify compares integers
    (den·|∩| ≥ num·|∪|), floats appear only in the reported ratio.
    """
    df = ensure_parallelism(df)
    # localCheckpoint (round-14 optimization): the shingle frame feeds
    # THREE consumers — the signature derivation and both sides of the
    # exact-verify join — and Catalyst inlines the tokenizer + shingle
    # expression into each, so the corpus was re-tokenized three times
    # per run (the jaccard_pairs lesson, same fix as the graph module's
    # edge checkpoint). Blocks are executor-resident and released with
    # the reference; at scale this trades one disk-backed materialized
    # pass for two full recomputes of the most expensive expression in
    # the pipeline.
    sh = _mh_shingle_frame(df, id_col, text_col).localCheckpoint()
    cands = _mh_candidates(sh)
    va = cands.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")), "id_a"
    ).join(
        sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")), "id_b"
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    union = (F.size("sa") + F.size("sb")).cast("bigint") - inter
    return (
        va.select(
            "id_a", "id_b", inter.alias("n_inter"), union.alias("n_union")
        )
        .filter(
            F.lit(threshold_den) * F.col("n_inter")
            >= F.lit(threshold_num) * F.col("n_union")
        )
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


def _capped_buckets(banded: DataFrame) -> DataFrame:
    """The deterministic degenerate-bucket cap: only the first _CAP
    ids (ascending) of each (band, key) bucket participate —
    `row_number() <= cap` ≡ ``list_slice(list_sort(ids), 1, cap)``
    per bucket, and the exact shape the oracle mirrors.
    localCheckpoint: the relation feeds both sides of the bucket join
    (setsim discipline — one evaluation, not two)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "key").orderBy("id")
    return (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CAP)
        .select("band", "key", "id")
        .localCheckpoint()
    )


def _banded_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) sharing a (band, key) bucket, after the
    deterministic cap."""
    capped = _capped_buckets(banded)
    return (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_pairs_parity_sql(
    threshold_num: int = 2, threshold_den: int = 5
) -> str:
    mins = ",\n           ".join(_MH_MIN_SQL)
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT id, {b} AS band, {key} AS key FROM sig"
        for b, key in enumerate(_MH_KEY_SQL)
    )
    return f"""
WITH sh AS (
    SELECT doc_id AS id,
           CASE WHEN LEN(arr) < {_MH_K} THEN [array_to_string(arr, ' ')]
                ELSE list_distinct(list_transform(
                       generate_series(1, LEN(arr) - {_MH_K - 1}),
                       i -> array_to_string(
                                list_slice(arr, i, i + {_MH_K - 1}), ' ')))
           END AS sh
    FROM (SELECT doc_id,
                 regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
          FROM documents)
    WHERE LEN(arr) > 0
), hs AS (
    SELECT id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h
    FROM sh, unnest(sh) AS t(s)
), sig AS (
    SELECT id,
           {mins}
    FROM hs GROUP BY id
), banded AS (
{band_rows}
), capped AS (
    SELECT band, key, id FROM (
        SELECT band, key, id,
               ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY id) AS rn
        FROM banded
    ) WHERE rn <= {_CAP}
), cands AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.key = b.key AND a.id < b.id
), verified AS (
    SELECT c.id_a, c.id_b,
           CAST(LEN(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
           CAST(LEN(sa.sh) + LEN(sb.sh)
                - LEN(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_union
    FROM cands c
    JOIN sh sa ON sa.id = c.id_a
    JOIN sh sb ON sb.id = c.id_b
)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / n_union AS jaccard
FROM verified
WHERE {threshold_den} * n_inter >= {threshold_num} * n_union
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------- SimHash
def simhash_pairs_parity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pairs (id_a < id_b) with Hamming(simhash60) <= 3 — EXHAUSTIVE
    by pigeonhole over the 4x15-bit bands (modulo the mirrored bucket
    cap), so the output is exactly the Hamming-ball pair set and the
    oracle is a full replica, not a containment check.

    Token-frequency-weighted bit votes (ties -> 0 bit), 60-bit md5
    prefix per token; the vote accumulation is one groupBy with 60
    conditional SUMs — map-side combinable, fingerprint-sized
    exchange, zero Python."""
    df = ensure_parallelism(df)
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    )
    th = tok.select(
        "id", _hex_long(F.col("t"), _SH_BITS // 4).alias("h")
    )
    votes_sql, fp_sql, keys_sql = _sh_sql("shiftrightunsigned({}, {})")
    votes = th.groupBy("id").agg(*[F.expr(v) for v in votes_sql])
    fp = votes.selectExpr("id", f"CAST({fp_sql} AS BIGINT) AS fp")
    rows = ", ".join(
        f"named_struct('band', {b}, 'key', CAST({key} AS STRING))"
        for b, key in enumerate(keys_sql)
    )
    banded = fp.selectExpr("id", f"inline(array({rows}))")
    cands = _banded_pairs(banded)
    va = cands.join(
        fp.select(F.col("id").alias("id_a"), F.col("fp").alias("fa")), "id_a"
    ).join(
        fp.select(F.col("id").alias("id_b"), F.col("fp").alias("fb")), "id_b"
    )
    return (
        va.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _SH_MAXHAM)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------ incremental MinHash
def incremental_minhash_parity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    agree_min: int = 16,
) -> DataFrame:
    """Incremental near-dedup probe, oracle-reproducible: the even-id
    half plays the persisted (id, signature) store, the odd-id half is
    the arriving batch; new band keys probe the store's band keys and
    candidate matches are scored by SIGNATURE AGREEMENT (the unbiased
    Jaccard estimator — historical text is never re-read, which is the
    operator's point), reported at agreement >= agree_min/32 = 0.5.
    Estimation, not exact verify, is the contract here — and with the
    parity signature it IS the oracle's arithmetic, so the estimate
    matches bit-for-bit (an integer count divided by 32)."""
    docs = ensure_parallelism(docs)
    sh = _mh_shingle_frame(docs, id_col, text_col)
    sig = _mh_signature(sh).localCheckpoint()  # feeds 4 legs below
    hist_sig = sig.filter(F.col("id") % 2 == 0)
    new_sig = sig.filter(F.col("id") % 2 == 1)
    cand = (
        _mh_banded(new_sig)
        .alias("n")
        .join(
            _mh_banded(hist_sig).alias("h"),
            (F.col("n.band") == F.col("h.band"))
            & (F.col("n.key") == F.col("h.key")),
        )
        .select(
            F.col("n.id").alias("id_new"), F.col("h.id").alias("id_hist")
        )
        .distinct()
    )
    va = cand.join(
        new_sig.select(
            F.col("id").alias("id_new"),
            *[F.col(f"s{i}").alias(f"a{i}") for i in range(_MH_NUM)],
        ),
        "id_new",
    ).join(
        hist_sig.select(
            F.col("id").alias("id_hist"),
            *[F.col(f"s{i}").alias(f"b{i}") for i in range(_MH_NUM)],
        ),
        "id_hist",
    )
    agree = None
    for i in range(_MH_NUM):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return (
        va.select(
            "id_new", "id_hist", agree.cast("long").alias("n_agree")
        )
        .filter(F.col("n_agree") >= agree_min)
        .select(
            "id_new",
            "id_hist",
            "n_agree",
            (F.col("n_agree") / F.lit(float(_MH_NUM))).alias("est_jaccard"),
        )
        .orderBy("id_new", "id_hist")
    )


def minhash_pair_ctes(
    cand_where: str = "n.id % 2 = 1 AND h.id % 2 = 0",
    cand_join: str = "",
) -> str:
    """The shared shingle→minhash→band→candidate→agreement CTE chain
    (sh/hs/sig/banded/cand/scored — `scored` carries (id_new, id_hist,
    n_agree)). ``cand_where`` picks the new-vs-history split (the
    parity query's odd/even default; the streaming ingest oracle's
    batch-thirds membership); ``cand_join`` injects extra relations
    the predicate needs (round-13 refactor — one generator, two
    oracles)."""
    mins = ",\n           ".join(_MH_MIN_SQL)
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT id, {b} AS band, {key} AS key FROM sig"
        for b, key in enumerate(_MH_KEY_SQL)
    )
    agree = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
        for i in range(_MH_NUM)
    )
    return f"""sh AS (
    SELECT doc_id AS id,
           CASE WHEN LEN(arr) < {_MH_K} THEN [array_to_string(arr, ' ')]
                ELSE list_distinct(list_transform(
                       generate_series(1, LEN(arr) - {_MH_K - 1}),
                       i -> array_to_string(
                                list_slice(arr, i, i + {_MH_K - 1}), ' ')))
           END AS sh
    FROM (SELECT doc_id,
                 regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
          FROM documents)
    WHERE LEN(arr) > 0
), hs AS (
    SELECT id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h
    FROM sh, unnest(sh) AS t(s)
), sig AS (
    SELECT id,
           {mins}
    FROM hs GROUP BY id
), banded AS (
{band_rows}
), cand AS (
    SELECT DISTINCT n.id AS id_new, h.id AS id_hist
    FROM banded n JOIN banded h ON n.band = h.band AND n.key = h.key
    {cand_join}
    WHERE {cand_where}
), scored AS (
    SELECT c.id_new, c.id_hist,
           CAST({agree} AS BIGINT) AS n_agree
    FROM cand c
    JOIN sig a ON a.id = c.id_new
    JOIN sig b ON b.id = c.id_hist
)"""


def incremental_minhash_parity_sql(agree_min: int = 16) -> str:
    return f"""
WITH {minhash_pair_ctes()}
SELECT id_new, id_hist, n_agree,
       n_agree / {float(_MH_NUM)} AS est_jaccard
FROM scored
WHERE n_agree >= {agree_min}
ORDER BY id_new, id_hist
"""


# ------------------------------------------- embedding SRP near-dup
# Integer-quantized signed-random-projection LSH: embeddings are
# floor-quantized to 1e-6 resolution and the hyperplanes are integer
# vectors, so every sign decision AND the τ-gate are exact integer
# comparisons — float rounding can differ between numpy pairwise
# summation and SQL left-fold summation, and ONE flipped sign on a
# near-zero dot product would silently change buckets; integers
# cannot flip. The reported cosine is a single sqrt+divide over
# exact integers — the identical IEEE op sequence in both engines.
_EMB_SEED = 7
_EMB_PLANES, _EMB_BANDS = 32, 8
_EMB_BAND_BITS = _EMB_PLANES // _EMB_BANDS
_EMB_SCALE = 1_000_000  # quantization: floor(x * 1e6)


@F.pandas_udf(LongType())
def _int_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Exact int64 dot product of two equal-length array columns —
    numpy int64 wraps identically to nothing here (|terms| < 2^63 by
    the 1e6-quantization bound), so it equals BIGINT SQL bit-for-bit."""
    a = np.stack(va.to_numpy()).astype(np.int64)
    b = np.stack(vb.to_numpy()).astype(np.int64)
    return pd.Series((a * b).sum(axis=1))


def _tau_ok_exact(
    dq: np.ndarray, na: np.ndarray, nb: np.ndarray, num: int, den: int
) -> np.ndarray:
    """EXACT integer τ gate over int64 vectors: dq > 0 AND
    den²·dq² >= num²·na·nb. dq² can reach ~4e27 (92 bits), far past
    int64 AND past float64's 53-bit mantissa, so the comparison runs
    on arbitrary-precision Python ints (object-dtype numpy) — the
    bit-exact mirror of the JVM decimal(38) / DuckDB HUGEINT gate.
    Only dq > 0 rows pay the object math (the gate short-circuits the
    rest), and the per-pair cost is three big-int mults — noise next
    to the matmul that produced dq."""
    out = dq > 0
    if out.any():
        d = dq[out].astype(object)
        x = na[out].astype(object)
        y = nb[out].astype(object)
        out[out] = (den * den) * d * d >= (num * num) * x * y
    return out


def _grouped_tau_pairs(
    members: DataFrame,
    group_cols: list[str],
    threshold_num: int = 2,
    threshold_den: int = 5,
    cross_col: str | None = None,
) -> DataFrame:
    """τ-gated cosine pairs WITHIN each group of ``members(group_cols…,
    id, qa, nq)`` — the shared pair-scoring kernel of every embedding
    tier (round-15 optimization, guide §2.3/§4.2).

    The previous shape joined the bucket/cell relation to itself and
    then attached both quantized arrays PER PAIR: a ~1 MB bucket
    relation exploded into pair-sized rows each carrying two 64-long
    arrays (~1 KB/pair — measured ~800 MB of intermediate for 811k
    candidates at sf0.1) that crawled through a per-pair Arrow dot
    kernel on the 1-5 tasks AQE's coalescing left after the tiny
    pre-join exchange. This kernel ships MEMBER-sized rows instead and
    does the quadratic part as one numpy matmul per group:

      * one (n_grp × dim) @ (dim × n_grp) exact int64 matmul gives
        every pairwise dot of the group (same int64-exactness argument
        as ``_int_dot``: |q| ≤ ~1e6-scaled, dim 64 ⇒ |dot| ≤ ~6.4e13);
      * the τ gate runs exactly on Python big-ints (``_tau_ok_exact``);
      * the reported cosine is the identical IEEE expression —
        double(dq) / sqrt(double(na) · double(nb)), every operand
        < 2^53 so the casts are exact and the three roundings match
        the JVM/DuckDB ops bit-for-bit (the driver hash gate certifies
        this end-to-end).

    Scale shape: shuffle bytes are member-count-sized (the bucket cap
    bounds every group at ``_CAP`` rows), the per-group quadratic is
    the LSH candidate set itself — the same work as before, minus the
    pair-sized materialization.

    ``cross_col``: name of a boolean side column — emit only pairs
    crossing the split as (id_train=False-side, id_eval=True-side,
    cosine) instead of within-group (id_a < id_b) pairs.
    """
    num, den = threshold_num, threshold_den

    if cross_col is None:
        schema = "id_a long, id_b long, cosine double"

        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id")
            n = len(pdf)
            if n < 2:
                return pd.DataFrame(
                    {"id_a": pd.Series(dtype="int64"),
                     "id_b": pd.Series(dtype="int64"),
                     "cosine": pd.Series(dtype="float64")}
                )
            ids = pdf["id"].to_numpy()
            m = np.stack(pdf["qa"].to_numpy()).astype(np.int64)
            nq = pdf["nq"].to_numpy().astype(np.int64)
            iu, ju = np.triu_indices(n, k=1)
            dq = (m @ m.T)[iu, ju]
            na, nb = nq[iu], nq[ju]
            ok = _tau_ok_exact(dq, na, nb, num, den)
            cos = dq[ok] / np.sqrt(
                na[ok].astype(np.float64) * nb[ok].astype(np.float64)
            )
            return pd.DataFrame(
                {"id_a": ids[iu[ok]], "id_b": ids[ju[ok]], "cosine": cos}
            )

    else:
        schema = "id_train long, id_eval long, cosine double"

        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            ev = pdf[pdf[cross_col].astype(bool)]
            tr = pdf[~pdf[cross_col].astype(bool)]
            if len(ev) == 0 or len(tr) == 0:
                return pd.DataFrame(
                    {"id_train": pd.Series(dtype="int64"),
                     "id_eval": pd.Series(dtype="int64"),
                     "cosine": pd.Series(dtype="float64")}
                )
            me = np.stack(ev["qa"].to_numpy()).astype(np.int64)
            mt = np.stack(tr["qa"].to_numpy()).astype(np.int64)
            dq = (mt @ me.T).ravel()  # (n_tr × n_ev), train-major
            na = np.repeat(tr["nq"].to_numpy().astype(np.int64), len(ev))
            nb = np.tile(ev["nq"].to_numpy().astype(np.int64), len(tr))
            ok = _tau_ok_exact(dq, na, nb, num, den)
            cos = dq[ok] / np.sqrt(
                na[ok].astype(np.float64) * nb[ok].astype(np.float64)
            )
            tid = np.repeat(tr["id"].to_numpy(), len(ev))[ok]
            eid = np.tile(ev["id"].to_numpy(), len(tr))[ok]
            return pd.DataFrame(
                {"id_train": tid, "id_eval": eid, "cosine": cos}
            )

    return members.groupBy(*group_cols).applyInPandas(score, schema)


def _emb_planes(dim: int) -> list[list[int]]:
    rng = np.random.RandomState(_EMB_SEED)
    return (
        np.round(rng.standard_normal((_EMB_PLANES, dim)) * 1000)
        .astype(np.int64)
        .tolist()
    )


def _emb_qn_fp(base: DataFrame, dim: int) -> DataFrame:
    """(id, qa, nq, fp) from ``base(id, v)``: the 1e-6-quantized
    integer array, its squared norm, and the packed SRP fingerprint.

    Round-14 (optimization, guide §2.4/§4.2): fingerprints come from
    ONE vectorized Arrow kernel over the quantized arrays — a
    (batch × dim) @ (dim × planes) int64 matmul per batch, sign bits
    packed in numpy. The previous formulation posexploded every vector
    (dim rows each) through an EXCHANGE into a 32-SUM hash aggregate:
    correct, but it shuffled dim× the corpus row count and paid 32
    element_at lookups per exploded row to compute what one matmul
    does in-place. The kernel is exact: quantized values are
    |q| ≤ ~1e6-scaled ints and plane weights |w| ≤ ~5e3, so every dot
    term and sum stays far inside int64 — numpy int64 == BIGINT SQL
    bit-for-bit, the same argument as ``_int_dot``. Plan effect:
    Exchange + HashAggregate removed; fingerprints now ride the scan
    stage with zero shuffle (the oracle's per-plane SUM CTEs are
    unchanged — the driver hash gate certifies equality)."""
    planes_mat = np.asarray(_emb_planes(dim), dtype=np.int64)  # (P, dim)
    shifts = np.arange(_EMB_PLANES, dtype=np.int64)

    @F.pandas_udf(LongType())
    def _srp_fp(qa: pd.Series) -> pd.Series:
        if len(qa) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        m = np.stack(qa.to_numpy()).astype(np.int64)  # (n, dim)
        d = m @ planes_mat.T  # exact int64 dots, (n, P)
        bits = (d > 0).astype(np.int64) << shifts
        return pd.Series(bits.sum(axis=1))

    zero = F.lit(0).cast("long")
    qn = base.select(
        "id",
        F.transform(
            "v",
            lambda x: F.floor(
                x.cast("double") * F.lit(float(_EMB_SCALE))
            ).cast("long"),
        ).alias("qa"),
    ).select(
        "id",
        "qa",
        F.aggregate(
            F.transform("qa", lambda a: a * a), zero, lambda acc, x: acc + x
        ).alias("nq"),
    )
    return qn.select("id", "qa", "nq", _srp_fp("qa").alias("fp"))


def _emb_band_expr() -> Column:
    """The per-vector (band, key) explode over the packed fingerprint."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned("fp", b * _EMB_BAND_BITS)
                    .bitwiseAND(F.lit((1 << _EMB_BAND_BITS) - 1))
                    .cast("string")
                    .alias("key"),
                )
                for b in range(_EMB_BANDS)
            ]
        )
    )


def _emb_banded_qn(
    base: DataFrame, dim: int
) -> tuple[DataFrame, DataFrame]:
    """(banded, qn) from ``base(id, v)``: the SRP band keys and the
    quantized array + squared norm per vector (see _emb_qn_fp).

    per-VECTOR quantized array + norm, computed once (the HOF fold
    runs over n vectors); per-PAIR work goes through the vectorized
    matmul kernels — the candidate set is where LSH is least selective
    on near-uniform synthetic vectors, and an interpreted 64-element
    fold per pair measured ~10x the whole fingerprint stage. int64
    numpy == BIGINT SQL exactly (max |dot| term ~6e14 < 2^63)."""
    qf = _emb_qn_fp(base, dim)
    banded = qf.select("id", _emb_band_expr().alias("bk")).select(
        "id", "bk.band", "bk.key"
    )
    return banded, qf.select("id", "qa", "nq")


def _emb_capped_members(
    base: DataFrame, dim: int, cross_mod: int | None = None
) -> DataFrame:
    """Capped bucket MEMBERS with the quantized arrays carried through
    the banding: (band, key, id, qa, nq[, is_ev]) — the input frame of
    the grouped pair-scoring kernel (round-15 optimization).

    Why carry the arrays instead of joining them back per candidate:
    the kernel consumes whole buckets, so array bytes cross the wire
    once per (vector × band) — bounded by _EMB_BANDS × corpus — while
    the old shape attached TWO arrays per candidate PAIR (pairs ≫
    members whenever buckets are dense, ~25× at sf0.1). The cap window
    partitions by exactly the kernel's grouping key, so the banding,
    the cap, and the pair scoring all share ONE exchange.

    ``cross_mod``: the decontamination split — eval rows
    (id % cross_mod == 0) bypass the cap (round-10 ADVICE: capping the
    combined set let a saturated bucket evict a high-id EVAL probe);
    train rows are ranked among train rows only. Expressed as a
    running conditional count over (is_ev ASC, id ASC) so the window
    key stays (band, key) — the train-rank of a train row equals its
    row_number among train rows because train (false) sorts first and
    ids are unique."""
    from pyspark.sql.window import Window

    m = _emb_qn_fp(base, dim).select(
        "id", "qa", "nq", _emb_band_expr().alias("bk")
    ).select("bk.band", "bk.key", "id", "qa", "nq")
    if cross_mod is None:
        w = Window.partitionBy("band", "key").orderBy("id")
        return (
            m.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _CAP)
            .drop("rn")
        )
    is_ev = (F.col("id") % cross_mod == 0).alias("is_ev")
    w = (
        Window.partitionBy("band", "key")
        .orderBy("is_ev", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        m.select("band", "key", "id", "qa", "nq", is_ev)
        .withColumn(
            "trn_rank",
            F.sum(F.when(~F.col("is_ev"), 1).otherwise(0)).over(w),
        )
        .filter(F.col("is_ev") | (F.col("trn_rank") <= _CAP))
        .drop("trn_rank")
    )


def emb_pairs_parity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold_num: int = 2,
    threshold_den: int = 5,
    ordered: bool = True,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine(quantized) >= num/den, via SRP
    banding + exact integer verify (25·dot² >= 4·|a|²·|b|² in
    decimal(38) / HUGEINT — overflow-free for 1e6-scaled unit-ish
    vectors)."""
    df = ensure_parallelism(df).filter(F.size(vec_col) == dim)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Round-15 (optimization, guide §2.3/§4.2): score pairs per
    # (band, key) bucket with the grouped matmul kernel instead of the
    # bucket self-join + per-pair array attach + per-pair Arrow dot.
    # The scoring is a pure function of the pair, so bucket-local
    # scoring followed by DISTINCT over the (bit-identical) gated rows
    # equals the old distinct-candidates-then-score set exactly; the
    # cross-band duplication factor is ~1.27× at sf0.1 — one matmul
    # row against ~800 MB of avoided pair-sized intermediate. The cap
    # window, the banding, and the kernel's groupBy share ONE exchange
    # (and the capped relation has a single consumer now — the
    # both-join-sides localCheckpoint is gone with the join).
    members = _emb_capped_members(base, dim)
    out = _grouped_tau_pairs(
        members, ["band", "key"], threshold_num, threshold_den
    ).distinct()
    # ordered=False for composition consumers (e.g. the semdedup
    # component stage) that immediately re-shuffle — the global sort
    # is presentation-only
    return out.orderBy("id_a", "id_b") if ordered else out


def _emb_prefix_ctes(dim: int) -> str:
    """The shared SRP prefix (no WITH): ``base`` → quantize → plane
    dots → fingerprint → ``banded`` → ``capped`` bucket rows, plus
    ``qarr(id, qa)``, the per-vector quantized integer arrays. Both
    the self-pair (emb_parity_ctes) and the cross-set decon
    (emb_cross_decon_sql) oracles append their own candidate CTEs."""
    planes = _emb_planes(dim)

    def arr(ws: list[int]) -> str:
        return "[" + ", ".join(str(w) for w in ws) + "]"

    dots = ",\n           ".join(
        f"SUM(q * ({arr(planes[j])})[i]) AS d{j}"
        for j in range(_EMB_PLANES)
    )
    fp = " + ".join(
        f"(CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_EMB_PLANES)
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT id, {b} AS band, "
        f"CAST((fp >> {b * _EMB_BAND_BITS}) & "
        f"{(1 << _EMB_BAND_BITS) - 1} AS VARCHAR) AS key FROM fp"
        for b in range(_EMB_BANDS)
    )
    return f"""base AS (
    SELECT vec_id AS id, embedding AS v FROM embeddings
    WHERE LEN(embedding) = {dim}
), q AS (
    SELECT id, i,
           CAST(FLOOR(CAST(v[i] AS DOUBLE) * {_EMB_SCALE}) AS BIGINT) AS q
    FROM base, unnest(generate_series(1, {dim})) AS s(i)
), dots AS (
    SELECT id,
           {dots}
    FROM q GROUP BY id
), fp AS (
    SELECT id, CAST({fp} AS BIGINT) AS fp FROM dots
), banded AS (
{band_rows}
), capped AS (
    SELECT band, key, id FROM (
        SELECT band, key, id,
               ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY id) AS rn
        FROM banded
    ) WHERE rn <= {_CAP}
), qarr AS (
    SELECT id,
           list_transform(v, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * {_EMB_SCALE}) AS BIGINT)) AS qa
    FROM base
)"""


def emb_parity_ctes(
    dim: int = 64, threshold_num: int = 2, threshold_den: int = 5
) -> str:
    """CTE body (no WITH keyword, no final SELECT) ending in
    ``emb_pairs(id_a, id_b, dq, na, nb)`` — the τ-gated verified pair
    set — plus ``base(id, v)``, the dim-filtered node universe.
    Composable: ``emb_pairs_parity_sql`` wraps it with the cosine
    projection; the semdedup oracle appends a recursive
    connected-components CTE over the same pairs."""
    return f"""{_emb_prefix_ctes(dim)}, cands AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.key = b.key AND a.id < b.id
), scored AS (
    SELECT c.id_a, c.id_b,
           list_sum(list_transform(generate_series(1, {dim}),
                    i -> a.qa[i] * b.qa[i])) AS dq,
           list_sum(list_transform(a.qa, x -> x * x)) AS na,
           list_sum(list_transform(b.qa, x -> x * x)) AS nb
    FROM cands c
    JOIN qarr a ON a.id = c.id_a
    JOIN qarr b ON b.id = c.id_b
), emb_pairs AS (
    SELECT id_a, id_b, dq, na, nb
    FROM scored
    WHERE dq > 0
      AND {threshold_den * threshold_den} * dq::HUGEINT * dq::HUGEINT
          >= {threshold_num * threshold_num} * na::HUGEINT * nb::HUGEINT
)"""


# ------------------------------------------ semantic decontamination
# Eval split: vec_id % 7 == 0 plays the held-out benchmark set, the
# remaining 6/7 the training corpus — the same density convention as
# the n-gram tier (queries/llm.py decontaminate_extents). Denser than
# a real eval set so the toy corpora yield a non-trivial flag set.
_DECON_EVAL_MOD = 7


def emb_cross_decon_parity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold_num: int = 2,
    threshold_den: int = 5,
) -> DataFrame:
    """Semantic (embedding-level) decontamination, oracle-reproducible:
    each TRAIN vector whose cosine to some eval vector clears τ =
    num/den is returned annotated with its CLOSEST eval neighbor.

    The SRP fingerprint/band/cap pipeline is the one emb_pairs_parity
    certifies; the only new stage is the candidate shape — eval bucket
    rows probe train bucket rows ACROSS the split (no within-set
    pairs), then the identical exact-integer τ-gate. The closest-eval
    choice ranks by the reported cosine (one IEEE sqrt+divide over
    exact integers — bit-identical in both engines) descending, eval
    id ascending, so the argmax is deterministic and the oracle is a
    full replica. Scale shape: one fingerprint pass over the union
    corpus, the banded join is keyed and capped exactly like the
    self-pair form, and the final argmax is one row_number window over
    the gated pairs."""
    from pyspark.sql.window import Window

    df = ensure_parallelism(df).filter(F.size(vec_col) == dim)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Round-10 ADVICE fix (now inside _emb_capped_members): the bucket
    # cap is per SIDE, and only the TRAIN side is capped — capping the
    # combined set let a saturated (band, key) bucket silently evict a
    # high-id EVAL probe, leaving all of its train paraphrases
    # unflagged (a recall hole the shared oracle shape could never
    # surface). Train rows are ranked among train rows only; eval rows
    # pass unconditionally. Oracle mirrors the kept set verbatim.
    #
    # Round-15 (optimization, guide §2.3/§4.2): the eval×train bucket
    # join + per-pair array attach + per-pair Arrow dot is replaced by
    # the grouped matmul kernel (one cross matmul per bucket, exact
    # big-int τ gate, identical IEEE cosine — see _grouped_tau_pairs).
    # Bucket-local scoring then DISTINCT over the bit-identical gated
    # rows equals the old distinct-candidates-then-score set exactly.
    members = _emb_capped_members(base, dim, cross_mod=_DECON_EVAL_MOD)
    gated = _grouped_tau_pairs(
        members,
        ["band", "key"],
        threshold_num,
        threshold_den,
        cross_col="is_ev",
    ).distinct()
    w = Window.partitionBy("id_train").orderBy(
        F.desc("cosine"), F.asc("id_eval")
    )
    return (
        gated.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("id_train").alias("vec_id"),
            F.col("id_eval").alias("closest_eval_id"),
            "cosine",
        )
        .orderBy("vec_id")
    )


def emb_cross_decon_sql(
    dim: int = 64, threshold_num: int = 2, threshold_den: int = 5
) -> str:
    return f"""
WITH {_emb_prefix_ctes(dim)}, side_capped AS (
    -- per-SIDE cap (train only): eval probes are never evicted by a
    -- saturated bucket (round-10 fix, mirrors the Spark window)
    SELECT band, key, id, is_ev FROM (
        SELECT band, key, id, id % {_DECON_EVAL_MOD} = 0 AS is_ev,
               ROW_NUMBER() OVER (
                   PARTITION BY band, key, id % {_DECON_EVAL_MOD} = 0
                   ORDER BY id) AS rn
        FROM banded
    ) WHERE is_ev OR rn <= {_CAP}
), cands AS (
    SELECT DISTINCT t.id AS id_train, e.id AS id_eval
    FROM side_capped e JOIN side_capped t
      ON e.band = t.band AND e.key = t.key
    WHERE e.is_ev AND NOT t.is_ev
), scored AS (
    SELECT c.id_train, c.id_eval,
           list_sum(list_transform(generate_series(1, {dim}),
                    i -> a.qa[i] * b.qa[i])) AS dq,
           list_sum(list_transform(a.qa, x -> x * x)) AS na,
           list_sum(list_transform(b.qa, x -> x * x)) AS nb
    FROM cands c
    JOIN qarr a ON a.id = c.id_train
    JOIN qarr b ON b.id = c.id_eval
), gated AS (
    SELECT id_train, id_eval,
           dq / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
    FROM scored
    WHERE dq > 0
      AND {threshold_den * threshold_den} * dq::HUGEINT * dq::HUGEINT
          >= {threshold_num * threshold_num} * na::HUGEINT * nb::HUGEINT
)
SELECT id_train AS vec_id, id_eval AS closest_eval_id, cosine
FROM (
    SELECT id_train, id_eval, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY id_train
               ORDER BY cosine DESC, id_eval ASC) AS rk
    FROM gated
)
WHERE rk = 1
ORDER BY vec_id
"""


def emb_pairs_parity_sql(
    dim: int = 64, threshold_num: int = 2, threshold_den: int = 5
) -> str:
    return f"""
WITH {emb_parity_ctes(dim, threshold_num, threshold_den)}
SELECT id_a, id_b,
       dq / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
FROM emb_pairs
ORDER BY id_a, id_b
"""


def simhash_pairs_parity_sql() -> str:
    votes_sql, fp, keys_sql = _sh_sql("({} >> {})")
    votes = ",\n           ".join(votes_sql)
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT id, {b} AS band, CAST({key} AS VARCHAR) AS key FROM fp"
        for b, key in enumerate(keys_sql)
    )
    return f"""
WITH tok AS (
    SELECT doc_id AS id, t
    FROM (SELECT doc_id,
                 regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
          FROM documents), unnest(arr) AS u(t)
), th AS (
    SELECT id, ('0x' || substr(md5(t), 1, {_SH_BITS // 4}))::BIGINT AS h
    FROM tok
), votes AS (
    SELECT id,
           {votes}
    FROM th GROUP BY id
), fp AS (
    SELECT id, CAST({fp} AS BIGINT) AS fp FROM votes
), banded AS (
{band_rows}
), capped AS (
    SELECT band, key, id FROM (
        SELECT band, key, id,
               ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY id) AS rn
        FROM banded
    ) WHERE rn <= {_CAP}
), cands AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.fp, fb.fp)) AS INTEGER) AS hamming
FROM cands c
JOIN fp fa ON fa.id = c.id_a
JOIN fp fb ON fb.id = c.id_b
WHERE bit_count(xor(fa.fp, fb.fp)) <= {_SH_MAXHAM}
ORDER BY id_a, id_b
"""
