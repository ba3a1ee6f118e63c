"""LLM-training-data pipeline queries (SURVEY.md §2.10 L1-L5): dedup
family, similarity search, text analysis, multimodal metadata.

Oracle-able queries carry exact DuckDB SQL — the MinHash/SimHash/SRP
near-dup ops too, through the md5-prefix formulation of
dedup/parity.py; their recall is tested against exact baselines in
tests/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.expr import bind_once
from ..dedup import exact as exact_dedup
from ..dedup import ngram
from ..functions import text as TXT
from ..functions.scalars import avg_sql, exact_avg
from ..functions.vectors import cosine, dot
from ..operators.util import ensure_parallelism
from ..similarity import ann
from . import QuerySpec


# L1 — exact text dedup: group by content hash (32-byte shuffle keys, not
# documents — dedup/exact.py). Oracle groups by the text itself; identical
# output barring a SHA-256 collision.
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return exact_dedup.dedup_groups(docs, "text", "doc_id")


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
"""


# L1b — INCREMENTAL exact dedup: a "new batch" (odd doc_ids) checked
# against the signature store of the already-retained corpus (even
# doc_ids) without reprocessing history — dedup/incremental.py. The
# anti-join shuffles 32-byte hashes only; keep-first resolves
# batch-internal dups. Oracle: double NOT EXISTS (history + earlier
# in batch) over sha256.
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import incremental

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    history = docs.filter(F.col("doc_id") % 2 == 0)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    store = incremental.history_hashes(history)
    return incremental.incremental_exact(new_batch, store)


DEDUP_INCREMENTAL_SQL = """
WITH new_batch AS (
    SELECT doc_id, sha256(text) AS text_sha FROM documents WHERE doc_id % 2 = 1
), hist AS (
    SELECT DISTINCT sha256(text) AS text_sha FROM documents WHERE doc_id % 2 = 0
)
SELECT n.doc_id, n.text_sha
FROM new_batch n
WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.text_sha = n.text_sha)
  AND NOT EXISTS (SELECT 1 FROM new_batch p
                  WHERE p.text_sha = n.text_sha AND p.doc_id < n.doc_id)
"""


# L4 — text statistics: token count, punctuation ratio, quality flags.
# Same regexp dialect (RE2-compatible classes) in both engines.
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        TXT.token_count("text").alias("n_tokens"),
        TXT.punct_ratio("text").alias("punct_ratio"),
        (F.length("text") >= 100).alias("len_ok"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
       CAST(LENGTH(text) AS INTEGER) AS n_chars_actual,
       CAST(LEN(regexp_extract_all(LOWER(text), '[a-zA-Z]+')) AS INTEGER) AS n_tokens,
       CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         / LENGTH(text) AS punct_ratio,
       LENGTH(text) >= 100 AS len_ok
FROM documents
"""


# L4e — token-count estimators: whitespace split and the BPE-ish
# pre-tokenizer regex (budget accounting before real tokenization).
# One RE2-compatible pattern, verified to count identically in both
# engines.
def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TXT.ws_token_count("text").alias("n_ws_tokens"),
        TXT.bpe_token_count("text").alias("n_bpe_tokens"),
    )


_BPE_SQL_LIT = TXT.BPE_RE.replace("'", "''")
TEXT_TOKENS_BPE_SQL = f"""
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\S+')) AS INTEGER) AS n_ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_SQL_LIT}')) AS INTEGER)
         AS n_bpe_tokens
FROM documents
"""


# L4b — language filter + per-source rollup (the lang column is ground
# truth; the heuristic lang_id is benchmarked against it separately).
def lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


LANG_FILTER_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
WHERE lang = 'en'
GROUP BY source
"""


# L2e — INCREMENTAL near-dedup. The history leg of production
# near-dedup: new-batch band keys probe the historical (id, sig)
# store — historical TEXT is never read; matches are scored by
# signature agreement (the Jaccard estimator), not exact verify.
# Round 8: oracle-parity formulation (dedup/parity.py) — with the
# md5-prefix signature the estimator IS the oracle's arithmetic, so
# the previously "no SQL mirror" estimation is now a full replica
# (an integer agreement count / 32).
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    docs = load_table(spark, sf_dir, "documents")
    return parity.incremental_minhash_parity(docs, "doc_id", "text")


# L4e — compression-ratio quality signal (rows-only: zlib has no SQL
# mirror; the monotonicity contract is unit-tested). The
# RefinedWeb/Gopher-style boilerplate detector: highly repetitive or
# templated documents compress far below natural prose. Zero-shuffle
# mapInPandas; zlib level 6 is deterministic for a given input, so the
# signal is reproducible across runs and partitionings.
def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    schema = "doc_id long, raw_len long, zlib_len long, compression_ratio double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [str(t).encode("utf-8") for t in pdf["text"]]
            raw_len = [len(b) for b in raw]
            zl = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": pd.Series(raw_len, dtype="int64"),
                    "zlib_len": pd.Series(zl, dtype="int64"),
                    "compression_ratio": [
                        (z / r) if r else None for z, r in zip(zl, raw_len)
                    ],
                }
            )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "text").mapInPandas(kernel, schema)


# L4c — language-ID heuristic distribution. Oracled: the argmax-over-
# scores form (functions/text.py lang_id) mirrors into DuckDB as
# list_filter counts + list_position-of-max, with the stopword lists
# generated from the SAME python dict so the two can't drift.
def lang_id_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("lang", TXT.lang_id("text").alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count("*").alias("n"))
    )


def _lang_id_guess_sql() -> str:
    codes = sorted(TXT.STOPWORDS)
    def sql_list(words): return "[" + ", ".join(f"'{w}'" for w in words) + "]"
    scores = ",\n             ".join(
        f"LEN(list_filter(arr, x -> list_contains({sql_list(TXT.STOPWORDS[c])}, x)))"
        for c in codes
    )
    langs = sql_list(codes)
    return f"""
WITH t AS (
    SELECT lang, regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
), s AS (
    SELECT lang,
           [{scores}] AS scores
    FROM t
)
SELECT lang,
       CASE WHEN list_aggregate(scores, 'max') > 0
            THEN {langs}[list_position(scores, list_aggregate(scores, 'max'))]
            ELSE 'und' END AS guessed,
       CAST(COUNT(*) AS BIGINT) AS n
FROM s
GROUP BY lang, guessed
"""


LANG_ID_GUESS_SQL = _lang_id_guess_sql()


# L4d — rolling-hash document fingerprint (xxhash64 chain; rows-only —
# xxhash64 is Spark-specific).
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", TXT.fingerprint("text").alias("fp"), TXT.quality_score("text").alias("quality")
    )


# L4d (oracled tier) — PORTABLE rolling fingerprint: Horner fold
# acc = (acc*B + h(token)) mod M over the token stream, with
# M = 2^31 - 1 (so acc*B stays far inside signed-64 range), B = 1000003
# and h = 28-bit md5-prefix token hash (the parity.py idiom, bit-equal
# in both engines). Same op family as doc_fingerprint (order-sensitive
# hash chaining for shard-level bookkeeping); that one stays on
# xxhash64 — the fastest JVM-native path — while this tier trades a
# few cycles for a fingerprint ANY engine can recompute and verify
# (DuckDB replays the identical fold via list_reduce). Zero shuffle
# beyond the presentation sort.
_FP_B, _FP_M = 1000003, (1 << 31) - 1


def doc_fingerprint_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    def build(toks: Column) -> Column:
        hs = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long"),
        )
        fp = F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * F.lit(_FP_B).cast("long") + x)
            % F.lit(_FP_M).cast("long"),
        )
        return F.struct(
            fp.alias("fp"), F.size(toks).cast("long").alias("n_tokens")
        )

    return docs.select(
        "doc_id", F.inline(F.array(bind_once(TXT.tokens("text"), build)))
    ).orderBy("doc_id")


DOC_FINGERPRINT_POLY_SQL = f"""
WITH arrs AS (
    SELECT doc_id, regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
)
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(arr,
                   t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)),
           (acc, x) -> (acc * {_FP_B} + x) % {_FP_M}) AS fp,
       CAST(LEN(arr) AS BIGINT) AS n_tokens
FROM arrs
ORDER BY doc_id
"""


# L4e — tokenizer fertility by source/lang: BPE pieces per whitespace
# word, the budget number a pipeline checks before committing to a
# tokenizer (fertility >> 1 flags scripts/domains the vocab serves
# badly). Per-doc counts are the text_tokens_bpe projections; the
# rollup sums exact integers, so the final ratio is one double
# division — engine-identical. One small shuffle (source x lang).
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    per = docs.select(
        "source",
        "lang",
        TXT.ws_token_count("text").cast("long").alias("n_ws"),
        TXT.bpe_token_count("text").cast("long").alias("n_bpe"),
    )
    return (
        per.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.when(
                F.col("n_words") > 0,
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("source", "lang")
    )


TOKENIZER_FERTILITY_SQL = f"""
WITH per AS (
    SELECT source, lang,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\S+')) AS BIGINT) AS n_ws,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_SQL_LIT}')) AS BIGINT)
             AS n_bpe
    FROM documents
), agg AS (
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
    FROM per GROUP BY source, lang
)
SELECT source, lang, n_docs, n_words, n_bpe_tokens,
       CASE WHEN n_words > 0
            THEN CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS fertility
FROM agg
ORDER BY source, lang
"""


# L2 — MinHash-LSH near-dedup. Round 8: the registry entry runs the
# ORACLE-PARITY formulation (dedup/parity.py — md5-prefix base hashes,
# 30-bit affine minhash maps, row_number-mirrored bucket cap) so the
# driver's hash-equality gate certifies the full pair output instead
# of a rows-only run. Same operator contract as rounds 2-7 (k=3
# shingles, 32 hashes, 8 bands, exact-verified Jaccard >= 0.4); only
# the seeded hash family changed — which pairs get LSH candidates may
# shift at the recall margin.
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    docs = load_table(spark, sf_dir, "documents")
    return parity.minhash_pairs_parity(docs, "doc_id", "text")


# L2m — SPLIT-LEAKAGE AUDIT (round-13): near-duplicate pairs that
# STRADDLE a train/val/test split — the duplicate-driven benchmark
# contamination a held-out split silently inherits when dedup runs
# per-split (or not at all): a val/test doc whose near-twin sits in
# train is memorization, not generalization, when evaluated. Splits
# are the standard hash-derandomized 80/10/10 (md5 bucket % 100, the
# engine's split convention); the pair universe is EXACTLY the
# oracled dedup_minhash pair set (minhash_pairs_parity — banded LSH
# candidates, exact-integer Jaccard ≥ 2/5 verify), so the audit adds
# only two split-label joins to already-certified machinery. Pair
# rows carry both split labels and the leaky flag — the rollup is
# the reader's one groupBy; pair-level output keeps the whole audit
# in the driver's value hash. Scale shape: pairs are output-bound
# (the dedup_minhash contract); the split labels join by id.
def _split_labels(docs: DataFrame) -> DataFrame:
    """Hash-derandomized 80/10/10 train/val/test labels (md5 bucket
    % 100 — the engine's split convention) as (id, split); shared by
    the leakage audit and its repair operator."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split#"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return docs.select(
        F.col("doc_id").alias("id"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pairs = parity.minhash_pairs_parity(docs, "doc_id", "text")
    splits = _split_labels(docs)
    return (
        pairs.join(
            splits.select(
                F.col("id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaky"),
            "jaccard",
        )
        .orderBy("id_a", "id_b")
    )


# L2r — SPLIT-LEAKAGE REPAIR (round-14 — VERDICT r13 #5): the action
# the audit's output demands. Each near-dup CLUSTER (connected
# components over the oracled dedup_minhash pair set — the same
# min-label machinery as dedup_cluster/semdedup_prune, bounded
# driver union-find fast path + distributed propagation beyond it)
# is assigned to ONE split: the cluster's min-id member's split —
# the keeper convention, so the repair composes with every keeper-
# based dedup (the kept canonical never moves). Output is one row
# per CLUSTERED doc (untouched docs keep their split by definition
# and are not re-emitted): (doc_id, cluster_id, split_orig,
# split_repaired, changed). Zero-leak is BY CONSTRUCTION — both
# endpoints of every pair map to the same cluster root, hence the
# same repaired split — and pytest-pinned by recomputing the pair
# set against the repaired labels. Scale shape: pairs are
# output-bound, components are the scale-graded cluster machinery,
# and the label joins are by id; nothing is corpus-quadratic.
def dedup_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import cluster, parity

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # checkpoint: connected_components symmetrizes the edge list
    # (pairs UNION swapped pairs) — the banded-LSH pair derivation
    # must run once, not once per union leg (the semdedup discipline)
    pairs = (
        parity.minhash_pairs_parity(docs, "doc_id", "text")
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    touched = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comps = cluster.connected_components(
        pairs, touched, id_col="doc_id"
    )
    splits = _split_labels(docs)
    return (
        comps.join(
            splits.select(
                F.col("id").alias("doc_id"),
                F.col("split").alias("split_orig"),
            ),
            "doc_id",
        )
        .join(
            splits.select(
                F.col("id").alias("cluster_id"),
                F.col("split").alias("split_repaired"),
            ),
            "cluster_id",
        )
        .select(
            "doc_id",
            "cluster_id",
            "split_orig",
            "split_repaired",
            (F.col("split_orig") != F.col("split_repaired")).alias(
                "changed"
            ),
        )
        .orderBy("doc_id")
    )


# L2b — SimHash near-dedup. Round 8: oracle-parity formulation
# (32-bit md5-prefix token hashes, frequency-weighted bit votes, 4x8
# bands). Banding at max_hamming=3 < 4 bands is pigeonhole-EXHAUSTIVE,
# so the output is exactly the Hamming<=3 pair set and the oracle is a
# full replica.
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    docs = load_table(spark, sf_dir, "documents")
    return parity.simhash_pairs_parity(docs, "doc_id", "text")


from ..dedup.parity import (  # noqa: E402
    emb_cross_decon_sql,
    emb_pairs_parity_sql,
    incremental_minhash_parity_sql,
    minhash_pairs_parity_sql,
    simhash_pairs_parity_sql,
)

_DEDUP_MINHASH_SQL = minhash_pairs_parity_sql()
_DEDUP_SPLIT_LEAKAGE_SQL = f"""
WITH pairs AS ({minhash_pairs_parity_sql()}),
sp AS (
    SELECT doc_id AS id,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)),
                                 1, 8))::BIGINT % 100 AS b
          FROM documents)
)
SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b,
       a.split <> b.split AS leaky, p.jaccard
FROM pairs p
JOIN sp a ON p.id_a = a.id
JOIN sp b ON p.id_b = b.id
ORDER BY id_a, id_b
"""
_DEDUP_SPLIT_REPAIR_SQL = f"""
WITH RECURSIVE pairs AS ({minhash_pairs_parity_sql()}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM pairs
), touched AS (
    SELECT DISTINCT a AS id FROM edges
), reach(a, b) AS (
    SELECT id, id FROM touched
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
), sp AS (
    SELECT doc_id AS id,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)),
                                 1, 8))::BIGINT % 100 AS b
          FROM documents)
)
SELECT c.doc_id, c.cluster_id, s.split AS split_orig,
       k.split AS split_repaired, s.split <> k.split AS changed
FROM comp c
JOIN sp s ON c.doc_id = s.id
JOIN sp k ON c.cluster_id = k.id
ORDER BY doc_id
"""
_DEDUP_SIMHASH_SQL = simhash_pairs_parity_sql()
_EMB_NEAR_DUP_SQL = emb_pairs_parity_sql(dim=64)
_DEDUP_INC_MINHASH_SQL = incremental_minhash_parity_sql()
_DECONTAMINATE_SEMANTIC_SQL = emb_cross_decon_sql(dim=64)


# L2c — exact n-gram Jaccard within source partitions (rows-only: the
# shingle self-join oracle is impractical in one SQL statement).
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram.jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.4, partition_col="source"
    )


# DuckDB mirror of the exact pair semantics (same shingle CASE as the
# dedup_cluster oracle: <3 tokens → one whole-doc shingle, no tokens →
# empty). jaccard divides two exact integers, so the double is
# engine-identical and the pair set hash-matches.
DEDUP_NGRAM_JACCARD_SQL = """
WITH sh AS (
    SELECT doc_id, source,
           CASE WHEN LEN(arr) = 0 THEN CAST([] AS VARCHAR[])
                WHEN LEN(arr) < 3 THEN [array_to_string(arr, ' ')]
                ELSE list_distinct(list_transform(
                       generate_series(1, LEN(arr) - 2),
                       i -> array_to_string(list_slice(arr, i, i + 2), ' ')))
           END AS sh
    FROM (SELECT doc_id, source,
                 regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
          FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)))
           AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
  AND CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= 0.4
"""


# L2d — embedding-cosine near-dup via hyperplane LSH (rows-only).
#
# Threshold is calibrated to the synthetic corpus: the testdata
# embeddings are near-uniform (max pairwise cosine ≈ 0.51 at sf0.01),
# so a 0.95 "near-duplicate" gate is provably empty there. 0.40 yields
# ~60 true pairs at every driver sf, making the operator's output
# non-trivially non-empty; 32 planes / 8 bands give ~75% detection at
# the threshold boundary (rising fast above it) with a fixed seed, so
# the row count is deterministic run-to-run. Production corpora with
# real duplicates run the same operator at 0.9+ — the planted-pair
# recall test (tests/test_dedup.py) covers that regime.
# Round 8: oracle-parity formulation (dedup/parity.py) — embeddings
# floor-quantized to 1e-6, integer hyperplanes, exact-integer τ-gate —
# so sign decisions cannot diverge between numpy and SQL float
# summation orders and the driver's hash gate certifies the pairs.
def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    embs = load_table(spark, sf_dir, "embeddings")
    return parity.emb_pairs_parity(embs, "vec_id", "embedding", dim=64)


# L2 — SEMANTIC DECONTAMINATION: the embedding tier of the decon
# family. The n-gram tier (decontaminate_extents/_excise) catches
# verbatim leakage and the lexical tier (bm25_decontaminate) catches
# shared-vocabulary leakage; neither sees a PARAPHRASE whose surface
# form differs but whose embedding sits on top of an eval item. This
# completes the family: eval vectors (vec_id % 7 == 0) probe train
# vectors through the SAME oracle-parity SRP pipeline emb_near_dup
# certifies — band keys joined ACROSS the split only, exact-integer
# τ-gate, then each contaminated train vector annotated with its
# closest eval neighbor (cosine-desc, eval-id-asc argmax). In a real
# pipeline the output joins back to documents as the drop/audit list.
# Full-replica oracle (dedup/parity.py emb_cross_decon_sql); the
# planted-paraphrase recall contract is pytest-pinned
# (tests/test_dedup.py).
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    embs = load_table(spark, sf_dir, "embeddings")
    return parity.emb_cross_decon_parity(embs, "vec_id", "embedding", dim=64)


# L2/L3 — SemDeDup-style semantic prune (Abbas et al. 2023 shape): the
# embedding near-dup pair set (SRP bands + exact-integer cosine gate,
# emb_near_dup above) is only HALF the operator — semantic dedup keeps
# ONE representative per group of mutually-similar vectors, and
# similarity is transitive in practice (A~B, B~C → same meaning), so
# the keeper decision needs connected components, exactly like text
# dedup_cluster. Composition: parity pairs → min-label components
# (dedup/cluster.py — bounded driver union-find fast path, distributed
# propagation beyond it) → keep the minimum vec_id per component.
# Every stage is banded/bounded (no all-pairs; degenerate SRP buckets
# are capped at 1024 ids, mirrored in the oracle), and the oracle is a
# FULL replica: the same parity CTE body emb_near_dup certifies,
# extended with a recursive-CTE transitive closure. Tiering at scale:
# 4-bit SRP bands have a 16-key space, so bucket occupancy grows with
# n (SCALING.md documents the resulting 10×→17.8× point) — past the
# small-corpus tier, candidate generation swaps to IVF-cell blocking
# (similarity/kmeans.py) with the same exact-integer verify and the
# same component/keeper stages.
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import cluster, parity

    embs = load_table(spark, sf_dir, "embeddings")
    # connected_components symmetrizes the edge list (pairs UNION
    # swapped pairs) — checkpoint so the banded-LSH pair derivation
    # runs once, not once per union leg (setsim discipline; the
    # relation is pair-sized).
    pairs = (
        parity.emb_pairs_parity(embs, "vec_id", "embedding", dim=64, ordered=False)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    nodes = embs.filter(F.size("embedding") == 64).select("vec_id")
    comps = cluster.connected_components(pairs, nodes, id_col="vec_id")
    return comps.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.col("cluster_id")).alias("is_keep"),
    )


def _semdedup_prune_sql() -> str:
    from ..dedup.parity import emb_parity_ctes

    return f"""
WITH RECURSIVE {emb_parity_ctes(dim=64)},
edges AS (
    SELECT id_a AS a, id_b AS b FROM emb_pairs
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM emb_pairs
), reach(a, b) AS (
    SELECT id, id FROM base
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS vec_id, MIN(b) AS cluster_id, a = MIN(b) AS is_keep
FROM reach GROUP BY a
"""


_SEMDEDUP_PRUNE_SQL = _semdedup_prune_sql()


# The scale tier of semantic dedup (the IVF handoff SCALING.md's
# semdedup note promises): candidate pairs come from k-means cell
# co-membership (SemDeDup's actual formulation — Abbas et al. 2023
# compare within k-means clusters), not SRP buckets, so candidate
# volume is Σ_cells C(|cell|,2) with k chosen ~n/target_cell_size —
# bucket saturation never happens because the quantizer's resolution
# GROWS with the corpus, unlike a fixed band-key space. k comes from
# the parquet footer (catalog.table_rows — a driver-side KB read, no
# count() job) at one cell per _IVF_CELL_TARGET vectors, so the
# expected per-cell occupancy — hence Σ C(|cell|,2) / n, the
# candidate-pair rate per vector — is constant as the corpus grows:
# the measured SCALING.md 10× point is the committed evidence.
# Verify reuses the parity tier's exact-integer cosine gate
# (identical τ semantics), then the same component/keeper stages.
# Rows-only by nature: Lloyd iterations are float-iterative (no SQL
# mirror); the gate, component, and keeper logic are each oracled
# elsewhere (emb_near_dup, semdedup_prune), and the
# planted-duplicate recall contract is pytest-pinned (exact
# duplicates share an argmax cell by construction, so exact-dup
# recall is 1.0).
_IVF_CELL_TARGET = 125  # vectors per coarse cell (k = n / this)


def _ivf_k(sf_dir: str, raw_embs: DataFrame) -> int:
    """k for the IVF coarse quantizer, ONE convention for every entry
    path (round-9 ADVICE): n is the RAW embeddings row count — the
    parquet footer when the table is on disk (a driver-side KB read,
    no job), `raw_embs.count()` on the same unfiltered frame when it
    is not (in-memory/synthetic frames in the planted-recall tests).
    The footer count is the intended approximation: the handful of
    non-dim-64 rows it includes shift k by <1 cell, and reproducibility
    across entry paths matters more than that correction."""
    from ..catalog import table_rows

    try:
        n = table_rows(sf_dir, "embeddings")
    except (FileNotFoundError, OSError):
        n = raw_embs.count()
    return max(16, n // _IVF_CELL_TARGET)


def _ivf_qn(embs: DataFrame, cents) -> DataFrame:
    """(id, cell, qa, nq) — argmax-cell assignment plus the
    1e-6-quantized integer array and squared norm per vector, local-
    checkpointed (every consumer joins it against itself or probes it
    twice). Shared by both IVF tiers and their certificates."""
    from ..dedup.parity import _EMB_SCALE
    from ..similarity import ann

    zero = F.lit(0).cast("long")
    return (
        ann.assign_cells(embs, cents)
        .select(
            F.col("vec_id").alias("id"),
            "cell",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * F.lit(float(_EMB_SCALE))
                ).cast("long"),
            ).alias("qa"),
        )
        .select(
            "id",
            "cell",
            "qa",
            F.aggregate(
                F.transform("qa", lambda a: a * a),
                zero,
                lambda acc, x: acc + x,
            ).alias("nq"),
        )
        .localCheckpoint()
    )


def _tau_gate(dq: str = "dq", na: str = "na", nb: str = "nb"):
    """The exact-integer τ = 2/5 cosine gate every embedding tier
    shares: dq > 0 AND 25·dq² >= 4·na·nb in decimal(38)."""
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    return (F.col(dq) > 0) & (
        F.lit(25) * dec(dq) * dec(dq) >= F.lit(4) * dec(na) * dec(nb)
    )


def _semdedup_ivf_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pairs, comps) of the IVF dedup tier — the τ-gated cell-
    co-membership pair set and its connected components. Split out so
    the certificate query (semdedup_ivf_check) can audit the emitted
    PAIRS, not just the component rollup."""
    from ..dedup import cluster
    from ..dedup.parity import _grouped_tau_pairs
    from ..similarity import kmeans

    raw = load_table(spark, sf_dir, "embeddings")
    embs = raw.filter(F.size("embedding") == 64)
    k = _ivf_k(sf_dir, raw)
    cents = kmeans.kmeans_centroids(embs, k=k, iters=3)
    qn = _ivf_qn(embs, cents)
    # Round-15 (optimization, guide §2.3/§4.2): cells partition the id
    # space, so within-cell pairs come from the grouped matmul kernel
    # (one exact int64 matmul + big-int τ gate per cell) instead of the
    # cell self-join that materialized both quantized arrays per pair —
    # the measured 5.1 s single-task stage at sf0.1. Same τ = 2/5 gate,
    # same pair set (each pair lives in exactly one cell — no distinct
    # needed, exactly like the join it replaces).
    pairs = (
        _grouped_tau_pairs(qn.select("cell", "id", "qa", "nq"), ["cell"])
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    comps = cluster.connected_components(
        pairs, qn.select(F.col("id").alias("vec_id")), id_col="vec_id"
    )
    return pairs, comps


def semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, comps = _semdedup_ivf_parts(spark, sf_dir)
    return comps.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.col("cluster_id")).alias("is_keep"),
    )


# The scale tier of SEMANTIC DECONTAMINATION — the cross-set form of
# the semdedup_ivf handoff (same reasoning: decontaminate_semantic's
# SRP band space is fixed, SCALING.md measures its 10× saturation, so
# past ~10^5 vectors candidate generation swaps to k-means cell
# co-membership whose quantizer resolution grows with the corpus).
# Cells are trained on the TRAIN side (the corpus being protected);
# eval vectors probe their argmax cell (nprobe=1, like the dedup
# tier — the planted-paraphrase test pins recall: a near-duplicate
# shares its original's argmax cell by a large margin). Verify and
# the closest-eval argmax are IDENTICAL to the oracle-parity tier
# (exact-integer τ-gate, cosine-desc / eval-id-asc), so the two tiers
# agree wherever their candidate sets overlap. Rows-only (Lloyd is
# float-iterative); SCALING.md carries the 10× contrast.
def decontaminate_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..dedup.parity import _DECON_EVAL_MOD, _grouped_tau_pairs
    from ..similarity import kmeans

    raw = load_table(spark, sf_dir, "embeddings")
    embs = raw.filter(F.size("embedding") == 64)
    k = _ivf_k(sf_dir, raw)
    is_eval = F.col("vec_id") % _DECON_EVAL_MOD == 0
    cents = kmeans.kmeans_centroids(embs.filter(~is_eval), k=k, iters=3)
    qn = _ivf_qn(embs, cents)
    # Round-15 (optimization, guide §2.3/§4.2): eval×train scoring per
    # cell via the grouped matmul kernel — same exact-integer τ gate
    # and IEEE cosine as the join + per-pair-array shape it replaces
    # (each (train, eval) pair lives in exactly one cell — no distinct,
    # exactly like the join).
    members = qn.select(
        "cell", "id", "qa", "nq",
        (F.col("id") % _DECON_EVAL_MOD == 0).alias("is_ev"),
    )
    gated = _grouped_tau_pairs(members, ["cell"], cross_col="is_ev")
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


# ---------------------------------------------------------------------------
# IVF SOUNDNESS CERTIFICATES — oracled checks for the rows-only tiers
# ---------------------------------------------------------------------------
# The graph_kcore_check pattern applied to the two IVF tiers: Lloyd is
# float-iterative (rows-only by design), but every INVARIANT of the
# tiers' outputs is pure SQL over raw embeddings, so the certificate
# queries below are fully oracled and hash-certified by the driver.
# What each reports:
#   * the brute-force exact τ-pair universe size, recomputed from a
#     FRESH scan (all-pairs — the one place the repo runs O(n²) in a
#     registry query, and deliberately so: it is the certificate tier,
#     corpus-bounded exactly like the documented exact-kNN tier; the
#     scale tiers it certifies never run it);
#   * τ-violations among the tier's EMITTED pairs/flags — re-verified
#     against the fresh scan, must be 0 (soundness: emitted ⊆ exact);
#   * cross-tier agreement on overlapping candidates — an emitted pair
#     that is also an SRP band candidate must appear in the SRP tier's
#     output (both tiers share one gate), disagreements must be 0;
#   * an output-structure invariant (every pruned vector has a τ-sound
#     cluster mate / every flagged cosine matches the exact one).
# The oracle derives the universe size from data and pins the
# violation legs at their specified value (0) — fail-loud: any unsound
# emission hash-mismatches the driver gate. Non-vacuity (the tiers
# actually emit on the driver corpus) is pytest-pinned separately.
def _tau_qarr(embs: DataFrame) -> DataFrame:
    """(id, qa, nq) fresh quantized scan — the certificate families'
    shared reference representation (same _EMB_SCALE integers as every
    embedding tier, so recomputed cosines are bit-identical)."""
    from ..dedup.parity import _EMB_SCALE

    return embs.select(
        F.col("vec_id").alias("id"),
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * F.lit(float(_EMB_SCALE))
            ).cast("long"),
        ).alias("qa"),
    ).select(
        "id",
        "qa",
        F.aggregate(
            F.transform("qa", lambda a: a * a),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nq"),
    )


def _exact_tau_pairs(
    embs: DataFrame, sample_mod: int | None = None, nblocks: int = 16
) -> DataFrame:
    """Brute-force τ-pair universe (id_a < id_b, cosine) from a fresh
    quantized scan — the certificate reference set. ``sample_mod=S``
    restricts BOTH sides to the deterministic id-sample id % S == 0,
    cutting the cost to (n/S)² for the sampled certificate mode.

    Round-15 (optimization, guide §2.3/§4.2): the broadcast nested
    loop materialized both quantized arrays PER PAIR (~1 KB × n²/2
    pairs — the measured 2.5 s single-task anchor stage of the sampled
    certificate at sf0.1) before a per-pair Arrow dot. Now the probe
    side is split into ``nblocks`` deterministic id-blocks
    (pmod(id, nblocks)), the build side is replicated per block
    (member-sized × nblocks — the broadcast it replaces shipped the
    same bytes to every task), and one cogroup kernel per block does
    the (n_blk × dim) @ (dim × n) exact int64 matmul, the big-int τ
    gate, and the identical IEEE cosine. Each unordered pair is
    emitted exactly once, from its lower id's block (the b.id > a.id
    mask). Same O(n²) certificate-tier work as before — minus the
    pair-sized materialization, and parallel across blocks instead of
    one task."""
    import numpy as np
    import pandas as pd

    from ..dedup.parity import _tau_ok_exact

    qarr = _tau_qarr(embs)
    if sample_mod is not None:
        qarr = qarr.filter(F.col("id") % sample_mod == 0)
    left = qarr.withColumn("blk", F.pmod("id", F.lit(nblocks)))
    # the replicated side gets DISTINCT column names: both cogroup
    # sides share one lineage, and Spark's self-join attribute
    # deduplication silently prunes the right side's columns when the
    # expression ids collide (observed: the right pdf arrived with
    # only `blk`)
    right = qarr.select(
        F.col("id").alias("rid"),
        F.col("qa").alias("rqa"),
        F.col("nq").alias("rnq"),
    ).withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(nblocks)]))
    )
    schema = "id_a long, id_b long, cosine double"

    def score(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        ida = a["id"].to_numpy()
        idb = b["rid"].to_numpy()
        ma = np.stack(a["qa"].to_numpy()).astype(np.int64)
        mb = np.stack(b["rqa"].to_numpy()).astype(np.int64)
        mask = (idb[None, :] > ida[:, None]).ravel()
        dq = (ma @ mb.T).ravel()[mask]
        na = np.repeat(a["nq"].to_numpy().astype(np.int64), len(b))[mask]
        nb = np.tile(b["rnq"].to_numpy().astype(np.int64), len(a))[mask]
        ok = _tau_ok_exact(dq, na, nb, 2, 5)
        cos = dq[ok] / np.sqrt(
            na[ok].astype(np.float64) * nb[ok].astype(np.float64)
        )
        return pd.DataFrame(
            {
                "id_a": np.repeat(ida, len(b))[mask][ok],
                "id_b": np.tile(idb, len(a))[mask][ok],
                "cosine": cos,
            }
        )

    return (
        left.groupby("blk")
        .cogroup(right.groupby("blk"))
        .applyInPandas(score, schema)
    )


def semdedup_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    pairs, comps = _semdedup_ivf_parts(spark, sf_dir)
    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    # three consumers of the reference set: checkpoint once
    exact = _exact_tau_pairs(embs).select("id_a", "id_b").localCheckpoint()
    n_exact = exact.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_tau_pairs")
    )
    unsound = pairs.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_emitted_unsound")
    )
    base = embs.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    banded, _ = parity._emb_banded_qn(base, 64)
    srp_cands = parity._banded_pairs(banded)
    srp_out = parity.emb_pairs_parity(embs, ordered=False).select(
        "id_a", "id_b"
    )
    disagree = (
        pairs.join(srp_cands, ["id_a", "id_b"], "left_semi")
        .join(srp_out, ["id_a", "id_b"], "left_anti")
        .agg(
            F.count(F.lit(1))
            .cast("bigint")
            .alias("n_srp_overlap_disagree")
        )
    )
    comps = comps.localCheckpoint()  # feeds nonkeep and the mate join
    nonkeep = comps.filter(F.col("vec_id") != F.col("cluster_id"))
    members = comps.select("cluster_id", F.col("vec_id").alias("mate"))
    mate_pairs = (
        nonkeep.join(members, "cluster_id")
        .filter(F.col("vec_id") != F.col("mate"))
        .select(
            "vec_id",
            F.least("vec_id", "mate").alias("id_a"),
            F.greatest("vec_id", "mate").alias("id_b"),
        )
    )
    with_mate = (
        mate_pairs.join(exact, ["id_a", "id_b"], "left_semi")
        .select("vec_id")
        .distinct()
    )
    no_mate = nonkeep.join(with_mate, "vec_id", "left_anti").agg(
        F.count(F.lit(1))
        .cast("bigint")
        .alias("n_pruned_without_tau_mate")
    )
    return (
        n_exact.crossJoin(unsound).crossJoin(disagree).crossJoin(no_mate)
    )


def _exact_tau_sql_ctes(sample_mod: int | str | None = None) -> str:
    """DuckDB CTE body ending in ``exact(id_a, id_b, cosine)`` — the
    brute-force τ universe the certificates' oracles derive from.
    ``sample_mod=S`` restricts both sides to id % S == 0 (the sampled
    certificate mode's (n/S)² sub-universe)."""
    from ..dedup.parity import _EMB_SCALE

    samp = f" AND vec_id % ({sample_mod}) = 0" if sample_mod else ""
    return f"""qarr AS (
    SELECT vec_id AS id,
           list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * {_EMB_SCALE}) AS BIGINT)) AS qa
    FROM embeddings WHERE LEN(embedding) = 64{samp}
), scored AS (
    SELECT a.id AS id_a, b.id AS id_b,
           list_sum(list_transform(generate_series(1, 64),
                    i -> a.qa[i] * b.qa[i])) AS dq,
           list_sum(list_transform(a.qa, x -> x * x)) AS na,
           list_sum(list_transform(b.qa, x -> x * x)) AS nb
    FROM qarr a JOIN qarr b ON a.id < b.id
), exact AS (
    SELECT id_a, id_b,
           dq / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
    FROM scored
    WHERE dq > 0
      AND 25 * dq::HUGEINT * dq::HUGEINT >= 4 * na::HUGEINT * nb::HUGEINT
)"""


def _semdedup_ivf_check_sql() -> str:
    return f"""
WITH {_exact_tau_sql_ctes()}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact_tau_pairs,
       CAST(0 AS BIGINT) AS n_emitted_unsound,
       CAST(0 AS BIGINT) AS n_srp_overlap_disagree,
       CAST(0 AS BIGINT) AS n_pruned_without_tau_mate
"""


SEMDEDUP_IVF_CHECK_SQL = _semdedup_ivf_check_sql()


def decontaminate_semantic_ivf_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..dedup import parity
    from ..dedup.parity import _DECON_EVAL_MOD

    flagged = decontaminate_semantic_ivf(spark, sf_dir).localCheckpoint()
    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    # cross-set τ universe: (id_train, id_eval) legs of the ordered
    # brute-force pair set where exactly one side is an eval id
    ex = _exact_tau_pairs(embs).localCheckpoint()
    a_ev = F.col("id_a") % _DECON_EVAL_MOD == 0
    b_ev = F.col("id_b") % _DECON_EVAL_MOD == 0
    cross = (
        ex.filter(a_ev != b_ev)
        .select(
            F.when(a_ev, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "id_train"
            ),
            F.when(a_ev, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "id_eval"
            ),
            "cosine",
        )
        .localCheckpoint()  # feeds the count + both verification joins
    )
    n_exact = cross.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_cross_pairs")
    )
    n_srp = parity.emb_cross_decon_parity(embs).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_srp_flagged")
    )
    fl = flagged.select(
        F.col("vec_id").alias("id_train"),
        F.col("closest_eval_id").alias("id_eval"),
        F.col("cosine").alias("rep_cosine"),
    )
    unsound = fl.join(cross, ["id_train", "id_eval"], "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_flagged_unsound")
    )
    # the reported cosine must be bit-identical to the one recomputed
    # from the fresh scan (same integers, same IEEE ops)
    mismatch = (
        fl.join(cross, ["id_train", "id_eval"])
        .filter(F.col("rep_cosine") != F.col("cosine"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cosine_mismatch"))
    )
    return n_exact.crossJoin(n_srp).crossJoin(unsound).crossJoin(mismatch)


def _decon_ivf_check_sql() -> str:
    from ..dedup.parity import _DECON_EVAL_MOD, emb_cross_decon_sql

    return f"""
WITH {_exact_tau_sql_ctes()}, cross_exact AS (
    SELECT CASE WHEN id_a % {_DECON_EVAL_MOD} = 0 THEN id_b ELSE id_a END
               AS id_train,
           CASE WHEN id_a % {_DECON_EVAL_MOD} = 0 THEN id_a ELSE id_b END
               AS id_eval
    FROM exact
    WHERE (id_a % {_DECON_EVAL_MOD} = 0) <> (id_b % {_DECON_EVAL_MOD} = 0)
), srp AS ({emb_cross_decon_sql(dim=64)})
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cross_exact)
           AS n_exact_cross_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM srp) AS n_srp_flagged,
       CAST(0 AS BIGINT) AS n_flagged_unsound,
       CAST(0 AS BIGINT) AS n_cosine_mismatch
"""


DECONTAMINATE_SEMANTIC_IVF_CHECK_SQL = _decon_ivf_check_sql()


# ---------------------------------------------------------------------------
# SAMPLED CERTIFICATE MODE — the scale story for the certificate tier
# ---------------------------------------------------------------------------
# The full-universe checks above recompute the entire O(n²) τ universe
# — deliberate at driver scale, but the soundness story itself must
# not stop at the corpus size where brute force fits. The sampled
# mode splits the certificate into its two different-cost halves:
#
#   * VIOLATION DETECTORS stay exhaustive and become O(emitted): every
#     emitted pair / flagged vector / mate pair is re-verified by
#     joining its TWO ids back to a fresh quantized scan and
#     recomputing the exact-integer τ gate and IEEE cosine directly —
#     no universe materialization at all. Soundness is NOT sampled:
#     a single unsound emission anywhere in the output still
#     hash-mismatches the driver gate.
#   * the UNIVERSE ANCHOR (the data-derived magnitude that proves the
#     check ran against real geometry, not an empty set) runs on the
#     deterministic id-sample id % S == 0, BOTH sides, so its cost is
#     (n/S)². S is DERIVED FROM THE CORPUS the same way the IVF tier
#     derives k (the _ivf_k convention): S = max(4, n // 500), so the
#     sampled side stays ~500 vectors and the anchor's cost is
#     CONSTANT at any corpus size — at the driver scales (n = 500 /
#     2000) this resolves to S = 4, keeping the anchors non-vacuous
#     where the driver gate runs, and at 10× embeddings (n = 20000,
#     S = 40) the anchor is 1/100th of the full universe.
#
# Sampling soundness argument: the anchor is an unbiased-by-
# construction sub-universe COUNT (every pair with both ids ≡ 0 mod S
# — a deterministic, content-independent slice), not a violation
# detector, so sampling it cannot hide an unsound emission; those are
# caught by the exhaustive per-pair recompute legs. What the sample
# gives up is completeness-of-the-anchor only — and the full-universe
# forms above remain the sf0.01 driver gate, so the two modes
# cross-check each other where both run.
_CERT_SAMPLE_MOD_MIN = 4
_CERT_SAMPLE_TARGET = 500  # sampled side held at ~this many vectors


def _cert_sample_mod(embs: DataFrame) -> int:
    """S = max(4, n // 500) over the dim-filtered embeddings — the
    same count the oracle's GREATEST(4, COUNT(*) // 500) subquery
    derives, so both engines sample the identical id set."""
    n = embs.count()
    return max(_CERT_SAMPLE_MOD_MIN, n // _CERT_SAMPLE_TARGET)


_CERT_SAMPLE_SQL = (
    "GREATEST(4, (SELECT COUNT(*) FROM embeddings"
    " WHERE LEN(embedding) = 64) // 500)"
)


def _pair_tau_recompute(
    pairs: DataFrame, qarr: DataFrame, xcol: str, ycol: str
) -> DataFrame:
    """Exact per-pair re-verification — O(emitted): joins each pair's
    two ids to the fresh quantized scan and recomputes (tau_ok,
    cosine) with the same integers/IEEE ops as every tier.

    Missing-id soundness: a pair referencing an id ABSENT from the
    dim-filtered scan (fabricated id, or a vector the dim filter
    dropped) must trip the gate exactly like the full-universe forms'
    left_anti legs do — so such pairs are emitted with tau_ok=false /
    cosine NULL rather than silently dropped by an inner join. The
    known/unknown split (left_semi + the complement) keeps the Arrow
    _int_dot kernel on non-null equal-length arrays only."""
    from ..dedup.parity import _int_dot

    qa = qarr.select(
        F.col("id").alias(xcol), F.col("qa").alias("va"), F.col("nq").alias("na")
    )
    qb = qarr.select(
        F.col("id").alias(ycol), F.col("qa").alias("vb"), F.col("nq").alias("nb")
    )
    ids_a = qarr.select(F.col("id").alias(xcol))
    ids_b = qarr.select(F.col("id").alias(ycol))
    scored = (
        pairs.join(qa, xcol)
        .join(qb, ycol)
        .withColumn("dq", _int_dot("va", "vb"))
    )
    known = scored.select(
        xcol,
        ycol,
        _tau_gate().alias("tau_ok"),
        (
            F.col("dq")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("cosine"),
    )
    unknown = (
        pairs.select(xcol, ycol)
        .join(
            pairs.select(xcol, ycol)
            .join(ids_a, xcol, "left_semi")
            .join(ids_b, ycol, "left_semi"),
            [xcol, ycol],
            "left_anti",
        )
        .select(
            xcol,
            ycol,
            F.lit(False).alias("tau_ok"),
            F.lit(None).cast("double").alias("cosine"),
        )
    )
    return known.unionByName(unknown)


def semdedup_ivf_check_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-mode certificate for the IVF dedup tier: exhaustive
    O(emitted) per-pair soundness + mate recompute, (n/S)² sampled
    universe anchor (see the block comment above for the sampling
    soundness argument)."""
    from concurrent.futures import ThreadPoolExecutor

    from ..dedup import parity

    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    # Round-15 (optimization, guide §2.6): the tier build (k-means +
    # pairs/components checkpoints), the fresh-scan qarr checkpoint,
    # and the S-modulus count are independent eager jobs — overlap
    # them from a thread pool instead of paying their driver latencies
    # back-to-back. One count job, two consumers (round-14: the anchor
    # and the SRP sample legs derived S independently).
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_parts = pool.submit(_semdedup_ivf_parts, spark, sf_dir)
        f_qarr = pool.submit(
            lambda: _tau_qarr(embs).localCheckpoint()
        )  # feeds every recompute leg
        f_smod = pool.submit(_cert_sample_mod, embs)
        pairs, comps = f_parts.result()
        qarr = f_qarr.result()
        smod = f_smod.result()
    n_anchor = (
        _exact_tau_pairs(embs, sample_mod=smod)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact_tau_pairs_sampled"))
    )
    unsound = (
        _pair_tau_recompute(pairs, qarr, "id_a", "id_b")
        .filter(~F.col("tau_ok"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_emitted_unsound"))
    )
    # SRP cross-tier agreement, SAMPLED: the fixed SRP band space
    # saturates quadratically in bucket occupancy at 10× — exactly the
    # behavior the IVF tier exists to escape — so the agreement audit
    # must not reintroduce it. Both SRP candidacy and the SRP output
    # decision are PAIRWISE (same-bucket membership + the per-pair
    # exact gate), hence subset-invariant: running the band pipeline
    # over the id%S sample and auditing the sampled emitted pairs
    # checks the identical per-pair agreement at 1/S² of the cost.
    # (Soundness is NOT affected — it is the exhaustive recompute leg
    # above; this leg is the cross-tier agreement audit, exhaustive in
    # the full-universe form that remains the sf0.01 driver gate.)
    embs_s = embs.filter(F.col("vec_id") % smod == 0)
    base_s = embs_s.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    banded_s, _ = parity._emb_banded_qn(base_s, 64)
    srp_cands = parity._banded_pairs(banded_s)
    srp_out = parity.emb_pairs_parity(embs_s, ordered=False).select(
        "id_a", "id_b"
    )
    pairs_s = pairs.filter(
        (F.col("id_a") % smod == 0) & (F.col("id_b") % smod == 0)
    )
    disagree = (
        pairs_s.join(srp_cands, ["id_a", "id_b"], "left_semi")
        .join(srp_out, ["id_a", "id_b"], "left_anti")
        .agg(
            F.count(F.lit(1))
            .cast("bigint")
            .alias("n_srp_overlap_disagree_sampled")
        )
    )
    # mate leg — O(output × cluster size), recomputed per mate pair
    comps = comps.localCheckpoint()
    nonkeep = comps.filter(F.col("vec_id") != F.col("cluster_id"))
    members = comps.select("cluster_id", F.col("vec_id").alias("mate"))
    mate_pairs = (
        nonkeep.join(members, "cluster_id")
        .filter(F.col("vec_id") != F.col("mate"))
        .select(
            "vec_id",
            F.least("vec_id", "mate").alias("id_a"),
            F.greatest("vec_id", "mate").alias("id_b"),
        )
    )
    sound_mates = (
        _pair_tau_recompute(
            mate_pairs.select("vec_id", "id_a", "id_b"), qarr, "id_a", "id_b"
        )
        .filter(F.col("tau_ok"))
        .select("id_a", "id_b")
    )
    with_mate = (
        mate_pairs.join(sound_mates, ["id_a", "id_b"], "left_semi")
        .select("vec_id")
        .distinct()
    )
    no_mate = nonkeep.join(with_mate, "vec_id", "left_anti").agg(
        F.count(F.lit(1))
        .cast("bigint")
        .alias("n_pruned_without_tau_mate")
    )
    return n_anchor.crossJoin(unsound).crossJoin(disagree).crossJoin(no_mate)


SEMDEDUP_IVF_CHECK_SAMPLED_SQL = f"""
WITH {_exact_tau_sql_ctes(sample_mod=_CERT_SAMPLE_SQL)}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact)
           AS n_exact_tau_pairs_sampled,
       CAST(0 AS BIGINT) AS n_emitted_unsound,
       CAST(0 AS BIGINT) AS n_srp_overlap_disagree_sampled,
       CAST(0 AS BIGINT) AS n_pruned_without_tau_mate
"""


def decontaminate_semantic_ivf_check_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale-mode certificate for the IVF decon tier: every flagged
    (train, eval) pair exactly re-verified (τ gate + bit-identical
    cosine) in O(flagged); the cross-set universe anchor runs on the
    id % S sample."""
    from ..dedup.parity import _DECON_EVAL_MOD

    flagged = decontaminate_semantic_ivf(spark, sf_dir).localCheckpoint()
    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    qarr = _tau_qarr(embs).localCheckpoint()
    a_ev = F.col("id_a") % _DECON_EVAL_MOD == 0
    b_ev = F.col("id_b") % _DECON_EVAL_MOD == 0
    n_anchor = (
        _exact_tau_pairs(embs, sample_mod=_cert_sample_mod(embs))
        .filter(a_ev != b_ev)
        .agg(
            F.count(F.lit(1))
            .cast("bigint")
            .alias("n_exact_cross_pairs_sampled")
        )
    )
    fl = flagged.select(
        F.col("vec_id").alias("id_train"),
        F.col("closest_eval_id").alias("id_eval"),
        F.col("cosine").alias("rep_cosine"),
    )
    rec = _pair_tau_recompute(fl, qarr, "id_train", "id_eval").localCheckpoint()
    unsound = rec.filter(~F.col("tau_ok")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_flagged_unsound")
    )
    mismatch = (
        fl.join(rec.filter(F.col("tau_ok")), ["id_train", "id_eval"])
        .filter(F.col("rep_cosine") != F.col("cosine"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cosine_mismatch"))
    )
    return n_anchor.crossJoin(unsound).crossJoin(mismatch)


def _decon_ivf_check_sampled_sql() -> str:
    from ..dedup.parity import _DECON_EVAL_MOD

    return f"""
WITH {_exact_tau_sql_ctes(sample_mod=_CERT_SAMPLE_SQL)}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact
        WHERE (id_a % {_DECON_EVAL_MOD} = 0) <> (id_b % {_DECON_EVAL_MOD} = 0))
           AS n_exact_cross_pairs_sampled,
       CAST(0 AS BIGINT) AS n_flagged_unsound,
       CAST(0 AS BIGINT) AS n_cosine_mismatch
"""


DECONTAMINATE_SEMANTIC_IVF_CHECK_SAMPLED_SQL = _decon_ivf_check_sampled_sql()


# L3 — brute-force cosine top-k against a query vector (the baseline ANN
# tier). The query vector is a plan-time literal (vec_id 0's embedding);
# oracle mirrors the exact arithmetic: double-cast elements, left-fold
# dot product, same cosine expression shape.
_TOPK = 25

# Query-vector fetch: a single-row key lookup done driver-side with a
# pyarrow predicate-pushdown read, cached per (sf_dir, vec_id). The
# previous embs.filter(...).head() launched a full Spark job per
# invocation just to fetch 64 doubles (measured +49% on sim_topk at
# sf0.1). In production the query vector arrives from the caller; a
# point lookup is not a distributed scan.
_QVEC_CACHE: dict[tuple[str, int], list[float]] = {}


def _query_vector(sf_dir: str, vec_id: int) -> list[float]:
    key = (sf_dir, vec_id)
    if key not in _QVEC_CACHE:
        import pyarrow.dataset as ds

        tbl = ds.dataset(f"{sf_dir}/embeddings.parquet").to_table(
            columns=["embedding"], filter=ds.field("vec_id") == vec_id
        )
        _QVEC_CACHE[key] = [float(v) for v in tbl.column("embedding")[0].as_py()]
    return _QVEC_CACHE[key]


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    query = _query_vector(sf_dir, 0)
    return ann.topk_bruteforce(embs, query, k=_TOPK, id_col="vec_id", vec_col="embedding")


SIM_TOPK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * SQRT(list_dot_product(qv, qv))) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {_TOPK}
"""


# L3g — RANGE SEARCH (radius retrieval): for a small query set, ALL
# corpus vectors with cosine >= τ — the "give me everything similar
# enough" retrieval next to top-k's "give me the k best". Scale shape:
# the query side is tiny (an eval set, a probe batch), so it
# BROADCASTS — the 100 TB corpus is scanned once with no shuffle
# except the result sort; per (vector, query) work is one Arrow int64
# dot product. Correctness shape: embeddings are 1e-6 floor-quantized
# (the dedup/parity.py discipline) and the τ-gate is the exact integer
# cross-multiplication den²·dq² >= num²·|a|²·|b|² with dq > 0, so both
# engines admit exactly the same pair set; the reported cosine is one
# float expression over identical integers. For corpus-x-corpus range
# search use the banded-LSH tier (emb_near_dup); for big query sets,
# IVF (sim_ann_ivf).
_RANGE_NUM, _RANGE_DEN = 1, 10
_RANGE_QUERY_MOD = 101
_RANGE_SCALE = 1_000_000


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup.parity import _int_dot

    embs = ensure_parallelism(load_table(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == 64
    )
    zero = F.lit(0).cast("long")
    qn = embs.select(
        F.col("vec_id").alias("id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(_RANGE_SCALE))).cast(
                "long"
            ),
        ).alias("qa"),
    ).select(
        "id",
        "qa",
        F.aggregate(
            F.transform("qa", lambda a: a * a), zero, lambda acc, x: acc + x
        ).alias("nq"),
    )
    qry = qn.filter(F.col("id") % _RANGE_QUERY_MOD == 0).select(
        F.col("id").alias("query_id"),
        F.col("qa").alias("qb"),
        F.col("nq").alias("nb"),
    )
    pairs = qn.join(F.broadcast(qry), F.col("id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("id").alias("vec_id"),
        _int_dot("qa", "qb").alias("dq"),
        F.col("nq").alias("na"),
        "nb",
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    gate = (F.col("dq") > 0) & (
        F.lit(_RANGE_DEN * _RANGE_DEN) * dec("dq") * dec("dq")
        >= F.lit(_RANGE_NUM * _RANGE_NUM) * dec("na") * dec("nb")
    )
    return (
        scored.filter(gate)
        .select(
            "query_id",
            "vec_id",
            (
                F.col("dq")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cosine"),
        )
        .orderBy("query_id", F.desc("cosine"), "vec_id")
    )


SIM_RANGE_SEARCH_SQL = f"""
WITH qarr AS (
    SELECT vec_id AS id,
           list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * {_RANGE_SCALE}) AS BIGINT)) AS qa
    FROM embeddings WHERE LEN(embedding) = 64
), n AS (
    SELECT id, qa, list_sum(list_transform(qa, x -> x * x)) AS nq FROM qarr
), qry AS (
    SELECT id AS query_id, qa AS qb, nq AS nb FROM n
    WHERE id % {_RANGE_QUERY_MOD} = 0
), scored AS (
    SELECT qry.query_id, c.id AS vec_id,
           list_sum(list_transform(generate_series(1, 64),
                    i -> c.qa[i] * qry.qb[i])) AS dq,
           c.nq AS na, qry.nb AS nb
    FROM n c JOIN qry ON c.id <> qry.query_id
)
SELECT query_id, vec_id,
       CAST(dq AS DOUBLE)
           / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
FROM scored
WHERE dq > 0
  AND {_RANGE_DEN * _RANGE_DEN} * dq::HUGEINT * dq::HUGEINT
      >= {_RANGE_NUM * _RANGE_NUM} * na::HUGEINT * nb::HUGEINT
ORDER BY query_id, cosine DESC, vec_id
"""


# L3i — HARD-NEGATIVE MINING (round-12; round-13 scale seam + IVF
# tier per VERDICT r12 #1): the training-data prep an embedding-model
# pipeline runs between dedup and contrastive training
# (sentence-transformers / DPR convention): for each anchor, the
# single best POSITIVE (nearest neighbor passing the exact-integer
# τ = 2/5 gate every embedding tier shares) and the top-3 HARD
# negatives — the highest-cosine vectors that FAIL the gate, i.e. the
# confusable non-matches a contrastive loss learns the most from
# (random negatives are trivially separable).
#
# TWO TIERS, the semdedup/decon handoff pattern:
#
# - hard_negative_mining_frame — exact brute force against a
#   caller-supplied anchor frame under the BOUNDED-ANCHOR CONTRACT:
#   the anchors must fit a broadcast (an eval/probe batch, ≲10^5
#   rows), because the plan is anchors-broadcast × one corpus scan —
#   O(n·|anchors|) dots. The registry query instantiates it with the
#   id % 53 demo anchors, which are CORPUS-PROPORTIONAL — fine at
#   certificate scale (it is the DuckDB-oracled certificate of the
#   IVF tier), quadratic if taken to the full corpus. That is exactly
#   why it is not the scale path.
# - hard_negative_mining_ivf — the scale tier: anchors and corpus are
#   assigned k-means cells (the _ivf_qn machinery, k = n/125 by the
#   _ivf_k footer convention), and each anchor mines positives + hard
#   negatives from its OWN cell (nprobe=1, like semdedup_ivf /
#   decontaminate_semantic_ivf). Per-cell occupancy is constant by
#   construction, so total pair work is O(n·125/53) — LINEAR in the
#   corpus, no broadcast of anything corpus-proportional, one shuffle
#   equi-join on cell. Rows-only (Lloyd is float-iterative; no SQL
#   mirror); the oracled brute-force tier is its certificate wherever
#   candidate sets overlap (identical τ gate, identical ranking
#   expression), and planted-duplicate recall is pytest-pinned (an
#   exact duplicate shares its anchor's argmax cell by construction).
#
# Correctness shape (both tiers): the pos/neg split is the exact
# integer τ gate (25·dq² ≥ 4·na·nb, dq > 0) on 1e-6-quantized
# vectors; the ranking float is one IEEE expression over identical
# integers, so both engines order identically (the sim_knn_join
# precedent). A positive always out-ranks every negative of its
# anchor by construction (cos ≥ 2/5 > cos of any gate-failing vector)
# — pinned in the pytest.
_HNM_ANCHOR_MOD = 53
_HNM_NEGATIVES = 3


def _hnm_rank(scored: DataFrame) -> DataFrame:
    """Shared role-split + per-anchor ranking over a (query_id,
    vec_id, dq, na, nb) pair stream: τ-gate → pos/neg, rank by cosine
    desc / vec_id asc within (anchor, role), keep the best positive
    and the top-_HNM_NEGATIVES negatives."""
    from pyspark.sql.window import Window

    role = F.when(_tau_gate(), F.lit("pos")).otherwise(F.lit("neg"))
    cosine = F.col("dq") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    w = Window.partitionBy("query_id", "role").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.select(
            "query_id", "vec_id", role.alias("role"), cosine.alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(
            (F.col("rank") <= F.lit(1))
            | ((F.col("role") == "neg") & (F.col("rank") <= _HNM_NEGATIVES))
        )
        .select("query_id", "role", "rank", "vec_id", "cosine")
        .orderBy("query_id", "role", "rank")
    )


def hard_negative_mining_frame(
    embs: DataFrame, anchors: DataFrame
) -> DataFrame:
    """Exact hard-negative mining against a caller-supplied anchor
    id frame (one ``id`` column — the train_docs seam convention).

    BOUNDED-ANCHOR CONTRACT: ``anchors`` is broadcast twice (anchor
    selection + the pair stream), so it must be an eval/probe batch
    (≲10^5 rows), NOT a corpus-proportional set — the pair stream is
    O(n·|anchors|) exact dots with a per-anchor ranking window. For
    anchor sets that grow with the corpus use
    :func:`hard_negative_mining_ivf`, whose per-anchor candidate set
    is its k-means cell (constant occupancy ⇒ linear total work)."""
    from ..dedup.parity import _int_dot

    qn = _tau_qarr(embs).withColumnRenamed("nq", "n2")
    qry = qn.join(
        F.broadcast(anchors.select("id")), "id", "left_semi"
    ).select(
        F.col("id").alias("query_id"),
        F.col("qa").alias("qb"),
        F.col("n2").alias("nb"),
    )
    pairs = qn.join(F.broadcast(qry), F.col("id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("id").alias("vec_id"),
        _int_dot("qa", "qb").alias("dq"),
        F.col("n2").alias("na"),
        "nb",
    )
    return _hnm_rank(scored)


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certificate tier: the exact brute-force miner on the id % 53
    demo anchors (corpus-proportional — certificate scale only; the
    scale path is hard_negative_mining_ivf)."""
    embs = ensure_parallelism(load_table(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == 64
    )
    anchors = embs.select(F.col("vec_id").alias("id")).filter(
        F.col("id") % _HNM_ANCHOR_MOD == 0
    )
    return hard_negative_mining_frame(embs, anchors)


def hard_negative_mining_ivf_frame(
    embs: DataFrame, anchors: DataFrame, k: int
) -> DataFrame:
    """IVF-celled hard-negative mining: anchors mine positives + hard
    negatives from their argmax k-means cell (nprobe=1). ``anchors``
    is an id frame; ``k`` the coarse-quantizer size (callers derive it
    via _ivf_k). One shuffle equi-join on cell — nothing
    corpus-proportional is broadcast or crossed."""
    from ..dedup.parity import _int_dot
    from ..similarity import kmeans

    cents = kmeans.kmeans_centroids(embs, k=k, iters=3)
    qn = _ivf_qn(embs, cents)
    # no broadcast hint: the anchor set MAY be corpus-proportional in
    # this tier — AQE size-decides the semi join (the lm_target_score
    # lesson)
    qry = qn.join(anchors.select("id"), "id", "left_semi").select(
        F.col("id").alias("query_id"),
        F.col("cell").alias("qcell"),
        F.col("qa").alias("qb"),
        F.col("nq").alias("nb"),
    )
    cands = qn.join(
        qry,
        (F.col("cell") == F.col("qcell")) & (F.col("id") != F.col("query_id")),
    )
    scored = cands.select(
        "query_id",
        F.col("id").alias("vec_id"),
        _int_dot("qa", "qb").alias("dq"),
        F.col("nq").alias("na"),
        "nb",
    )
    return _hnm_rank(scored)


def hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale tier on the demo anchors (rows-only — Lloyd has no SQL
    mirror; hard_negative_mining is the oracled certificate)."""
    raw = load_table(spark, sf_dir, "embeddings")
    embs = ensure_parallelism(raw).filter(F.size("embedding") == 64)
    anchors = embs.select(F.col("vec_id").alias("id")).filter(
        F.col("id") % _HNM_ANCHOR_MOD == 0
    )
    return hard_negative_mining_ivf_frame(embs, anchors, _ivf_k(sf_dir, raw))


HARD_NEGATIVE_MINING_SQL = f"""
WITH qarr AS (
    SELECT vec_id AS id,
           list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qa
    FROM embeddings WHERE LEN(embedding) = 64
), n AS (
    SELECT id, qa, list_sum(list_transform(qa, x -> x * x)) AS n2 FROM qarr
), qry AS (
    SELECT id AS query_id, qa AS qb, n2 AS nb FROM n
    WHERE id % {_HNM_ANCHOR_MOD} = 0
), scored AS (
    SELECT qry.query_id, c.id AS vec_id,
           list_sum(list_transform(generate_series(1, 64),
                    i -> c.qa[i] * qry.qb[i])) AS dq,
           c.n2 AS na, qry.nb AS nb
    FROM n c JOIN qry ON c.id <> qry.query_id
), typed AS (
    SELECT query_id, vec_id,
           CASE WHEN dq > 0
                 AND 25 * dq::HUGEINT * dq::HUGEINT
                     >= 4 * na::HUGEINT * nb::HUGEINT
                THEN 'pos' ELSE 'neg' END AS role,
           CAST(dq AS DOUBLE)
               / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
    FROM scored
), ranked AS (
    SELECT query_id, role, vec_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id, role
                                   ORDER BY cosine DESC, vec_id)
                AS INTEGER) AS rank
    FROM typed
)
SELECT query_id, role, rank, vec_id, cosine
FROM ranked
WHERE rank <= 1 OR (role = 'neg' AND rank <= {_HNM_NEGATIVES})
ORDER BY query_id, role, rank
"""


# L3c — all-pairs kNN join: every vector's top-k neighbors. Distributed
# block nested-loop (hash-blocked index, replicated probes, cogroup
# local top-k, window merge — similarity/ann.py knn_join_blocked): EXACT
# with no driver materialization, unlike the broadcast small-index tier.
# Oracle: O(n²) self-join + QUALIFY row_number, same tie-break.
_KNN_K = 5


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    return ann.knn_join_blocked(embs, k=_KNN_K, n_blocks=8)


SIM_KNN_JOIN_SQL = f"""
SELECT vec_id, neighbor_id, cos_sim FROM (
    SELECT a.vec_id,
           b.vec_id AS neighbor_id,
           list_dot_product(CAST(a.embedding AS DOUBLE[]),
                            CAST(b.embedding AS DOUBLE[]))
             / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))))
             AS cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                        / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                                 CAST(a.embedding AS DOUBLE[])))
                           * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                                   CAST(b.embedding AS DOUBLE[]))))
                        DESC, b.vec_id ASC) AS rn
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rn <= {_KNN_K}
"""


# L3b — IVF-style ANN: probe the nearest cells only (rows-only; recall vs
# brute force is unit-tested). The coarse quantizer is Lloyd-refined
# (similarity/kmeans.py) from the deterministic first-k init — better
# cell balance, higher recall at the same nprobe.
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity import kmeans

    embs = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans.kmeans_centroids(embs, k=8, iters=3)
    query = _query_vector(sf_dir, 1)
    cells = ann.assign_cells(embs, centroids)
    return ann.topk_ivf(cells, centroids, query, k=_TOPK, nprobe=3)


# L3e CERTIFICATE — the rows-only IVF ANN tier certified (check
# pattern): Lloyd's centroids have no SQL mirror, but the tier's
# output contracts do — it must return exactly k rows, every returned
# cosine must bit-match a fresh recomputation of the same expression
# from raw embeddings (the scoring can never invent similarity), and
# its best hit is bounded by the TRUE best cosine over the full
# corpus, which IS derivable: the oracle computes the global
# max-cosine anchor with the exact arithmetic sim_topk's hash-green
# oracle already certifies cross-engine (double casts, left-fold
# dots, pre-folded query norm).
def sim_ann_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..functions.vectors import cosine_vs_lit_sql

    ann_res = sim_ann_ivf(spark, sf_dir).localCheckpoint()
    embs = load_table(spark, sf_dir, "embeddings")
    query = _query_vector(sf_dir, 1)
    exact = ann.topk_bruteforce(embs, query, k=_TOPK, id_col="vec_id",
                                vec_col="embedding")
    n_ret = ann_res.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned")
    )
    eb = exact.agg(F.max("cos_sim").alias("exact_best_cosine"))
    qd = [float(v) for v in query]
    qnorm = 0.0
    for v in qd:
        qnorm += v * v
    qnorm = math.sqrt(qnorm)
    fresh = embs.select(
        "vec_id",
        F.expr(cosine_vs_lit_sql("embedding", qd, qnorm)).alias("fresh_cos"),
    )
    mism = (
        ann_res.join(fresh, "vec_id")
        .filter(F.col("cos_sim") != F.col("fresh_cos"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cosine_mismatch"))
    )
    bounded = (
        ann_res.agg(F.max("cos_sim").alias("ab"))
        .crossJoin(exact.agg(F.max("cos_sim").alias("xb")))
        .select((F.col("ab") <= F.col("xb")).alias("ann_best_bounded"))
    )
    return n_ret.crossJoin(eb).crossJoin(mism).crossJoin(bounded)


SIM_ANN_IVF_CHECK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 1)
SELECT CAST({_TOPK} AS BIGINT) AS n_returned,
       MAX(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
           / (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])))
              * SQRT(list_dot_product(qv, qv)))) AS exact_best_cosine,
       CAST(0 AS BIGINT) AS n_cosine_mismatch,
       TRUE AS ann_best_bounded
FROM embeddings, q
"""


# L3d — product-quantized ANN (rows-only: per-subspace Lloyd + ADC are
# iterative float pipelines with no SQL mirror; recall + compression
# pinned by tests/test_recall.py::test_pq_adc_recall_and_compression).
# The memory tier of the ANN story: 64 floats → 8 nibble codes per
# vector, query scoring via one m×k lookup table (similarity/pq.py).
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..similarity import pq

    embs = load_table(spark, sf_dir, "embeddings")
    books = pq.train_pq(embs, dim=64, m=8, k=16, iters=2)
    codes = pq.encode_pq(embs, books)
    query = _query_vector(sf_dir, 1)
    return pq.topk_pq(codes, query, books, k=_TOPK)


# L5/F6 — per-label embedding centroids via posexplode (the columnar way
# to aggregate vectors: one shuffle of (label, pos) cells, exact decimal
# sums for oracle equality).
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    cells = embs.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    # scale 6: high enough for a centroid, low enough that DuckDB's
    # double→decimal cast (a double multiply by 10^s) never lands on a
    # rounding boundary for float-valued inputs.
    dec = F.col("val").cast("double").cast("decimal(23,6)")
    return cells.groupBy("label", "pos").agg(
        (F.sum(dec).cast("double") / F.count("val")).alias("mean_val"),
        F.count("*").alias("n_vecs"),
    )


EMB_CENTROIDS_SQL = """
SELECT label, CAST(i - 1 AS INTEGER) AS pos,
       CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(23,6))) AS DOUBLE)
         / COUNT(embedding[i]) AS mean_val,
       COUNT(*) AS n_vecs
FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS t(i)
GROUP BY label, i
"""


# L3h — EMBEDDING DRIFT MONITOR: per label, the cosine between the
# centroid of the REFERENCE cohort (vec_id even — yesterday's batch
# stand-in) and the CURRENT cohort (odd) — the dashboard number that
# catches an upstream encoder swap or feature rot before retrieval
# quality dies. Correctness shape: centroid means come from exact
# decimal(23,6) sums (the emb_centroids discipline), are floor-
# quantized to 1e-6 integers, and the dot/norms are then ORDER-FREE
# BIGINT sums over (label, pos) rows — no array folds whose float
# summation order could differ between engines; the cosine is one
# float expression over identical integers. Fully relational: explode
# → (label, cohort, pos) rollup → pos-equi self-join → label rollup.
def emb_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    cells = embs.select(
        "label",
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    dec = F.col("val").cast("double").cast("decimal(23,6)")
    cent = cells.groupBy("label", "cohort", "pos").agg(
        F.floor(
            (F.sum(dec).cast("double") / F.count("val")) * F.lit(1000000.0)
        )
        .cast("long")
        .alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    ref = cent.filter(F.col("cohort") == 0).select(
        "label", "pos", F.col("q").alias("qr"), F.col("n").alias("nr")
    )
    cur = cent.filter(F.col("cohort") == 1).select(
        "label", "pos", F.col("q").alias("qc"), F.col("n").alias("nc")
    )
    j = ref.join(cur, ["label", "pos"])
    agg = j.groupBy("label").agg(
        F.max("nr").alias("n_ref"),
        F.max("nc").alias("n_cur"),
        F.sum(F.col("qr") * F.col("qc")).alias("dq"),
        F.sum(F.col("qr") * F.col("qr")).alias("na"),
        F.sum(F.col("qc") * F.col("qc")).alias("nb"),
    )
    return agg.select(
        "label",
        "n_ref",
        "n_cur",
        (
            F.col("dq")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("centroid_cosine"),
    ).orderBy("label")


EMB_DRIFT_MONITOR_SQL = """
WITH cells AS (
    SELECT label, vec_id % 2 AS cohort, i - 1 AS pos,
           CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(23,6)) AS dec
    FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS t(i)
), cent AS (
    SELECT label, cohort, pos,
           CAST(FLOOR((CAST(SUM(dec) AS DOUBLE) / COUNT(dec)) * 1000000.0)
                AS BIGINT) AS q,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cells GROUP BY label, cohort, pos
), j AS (
    SELECT r.label, r.q AS qr, c.q AS qc, r.n AS nr, c.n AS nc
    FROM cent r JOIN cent c
      ON r.label = c.label AND r.pos = c.pos
     AND r.cohort = 0 AND c.cohort = 1
)
SELECT label,
       CAST(MAX(nr) AS BIGINT) AS n_ref,
       CAST(MAX(nc) AS BIGINT) AS n_cur,
       CAST(SUM(qr * qc) AS DOUBLE)
           / SQRT(CAST(SUM(qr * qr) AS DOUBLE) * CAST(SUM(qc * qc) AS DOUBLE))
           AS centroid_cosine
FROM j
GROUP BY label
ORDER BY label
"""


# L5 — multimodal metadata plumbing: opaque binary payload + typed
# metadata. Text stands in for the decoded-bytes column (the container
# has no image/audio libs — multimodal/ holds the stubbed decoders); the
# Spark-side schema/ops (binary length, content digest) are real.
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        "source",
        F.length(payload).alias("n_bytes"),
        F.sha2("text", 256).alias("digest"),  # hashes the utf-8 bytes
    )


MULTIMODAL_META_SQL = """
SELECT doc_id, source,
       CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes,
       SHA256(text) AS digest
FROM documents
"""


# L3e — incremental ANN index maintenance (rows-only: IVF recall is
# approximate; the exact invariant lives in tests/test_recall.py).
# The production lifecycle a nightly embedding pipeline needs: the
# coarse quantizer trains ONCE on the base corpus, the index persists
# partitioned by cell, and each new batch is assigned against the
# FROZEN centroids and appended — no retrain, no base re-read. The
# fixture builds the base index from the first ~80% of vec_ids and
# appends the rest through the append path; the query probes the
# merged store, and because `cell` is a partition column the read
# prunes to nprobe directories (pinned in tests/test_plans.py).
def _ivf_index_fixture(spark: SparkSession, sf_dir: str) -> str:
    from pathlib import Path

    from ..similarity import kmeans
    from .fixtures import atomic_fixture, sink_fixture_dest

    dest = sink_fixture_dest("ivf_index", sf_dir)

    def build(root: Path) -> None:
        embs = load_table(spark, sf_dir, "embeddings")
        cut = int(embs.agg(F.max("vec_id")).first()[0] * 0.8)
        base = embs.filter(F.col("vec_id") <= cut)
        delta = embs.filter(F.col("vec_id") > cut)
        cents = kmeans.kmeans_centroids(base, k=8, iters=3)
        ann.write_ivf_index(base, cents, str(root))
        ann.append_to_ivf_index(delta, str(root))

    return str(atomic_fixture(dest, build))


# L4e — BPE tokenizer training (rows-only: the iterative merge loop
# has no SQL mirror; the trainer is pinned against the literature's
# worked example in tests/test_functions.py and is deterministic by
# tie-break, which the determinism harness re-verifies per round).
# Scale shape per functions/bpe.py: ONE corpus aggregation into the
# vocabulary-sized word table, then training cost independent of
# corpus size — only the word table (bounded, like sketch/centroid
# collects) and the merge rules (the model) touch the driver.
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import bpe

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return bpe.bpe_train_merges(spark, docs, n_merges=40)


# L4f — BPE apply at scale (rows-only, same reasoning as bpe_train):
# train once (word table → rules), then ONE Arrow pass over the corpus
# counting encoded tokens per doc with a distinct-word memo; rollup to
# the per-source compression report a tokenizer change ships with.
# All output columns are exact integers, so the determinism harness
# pins run-to-run stability.
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import bpe

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    rules = [
        (r["rank"], r["left"], r["right"], r["pair_freq"])
        for r in bpe.bpe_train_merges(spark, docs, n_merges=40).collect()
    ]
    per_doc = bpe.encode_corpus_tokens(docs, rules)
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        )
        .orderBy("source")
    )


# L4e-u — unigram-LM tokenizer training (Kudo 2018, the SentencePiece
# model; rows-only like bpe_train: EM + pruning have no SQL mirror;
# determinism/pruning/coverage are property-pinned in
# tests/test_functions.py). Same scale shape as BPE: ONE bounded word
# aggregation, driver-side training, the pieces table back as the
# model artifact.
def unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import unigram

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return unigram.unigram_train_pieces(spark, docs, vocab_size=300)


# L4x CERTIFICATE — the rows-only unigram trainer certified by the
# check pattern: the trainer's EM is float-iterative (no SQL mirror),
# but its OUTPUT CONTRACTS are pure data properties — every distinct
# character of the lowercased whitespace-tokenized corpus must be
# present as a single-char piece (the coverage invariant the encoder
# relies on), every trained piece must occur as a substring of some
# corpus word (seeding/pruning never invent text), and the vocabulary
# respects its size bound (exceedable only to keep singles). The
# oracle derives the non-trivial anchor (distinct corpus characters)
# from data and pins the violation legs at their specified values.
def unigram_train_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = unigram_train(spark, sf_dir).localCheckpoint()
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower("text"), r"\s+", ""), ""
                )
            ).alias("ch")
        )
        .filter(F.length("ch") > 0)
        .distinct()
        .localCheckpoint()  # anchor count + the coverage anti-join
    )
    n_chars = chars.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars")
    )
    singles = pieces.filter(F.length("piece") == 1).select(
        F.col("piece").alias("ch")
    )
    missing = chars.join(singles, "ch", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_missing_singles")
    )
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .filter(F.length("w") > 0)
        .distinct()
    )
    found = (
        F.broadcast(pieces.select("piece"))
        .join(words, F.expr("instr(w, piece) > 0"), "left_semi")
    )
    not_sub = pieces.join(found, "piece", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pieces_not_substring")
    )
    n_singles = singles.count()
    bound_ok = pieces.agg(
        (F.count(F.lit(1)) <= F.lit(max(300, n_singles))).alias(
            "vocab_within_bound"
        )
    )
    return (
        n_chars.crossJoin(missing).crossJoin(not_sub).crossJoin(bound_ok)
    )


UNIGRAM_TRAIN_CHECK_SQL = r"""
SELECT (SELECT CAST(COUNT(DISTINCT ch) AS BIGINT)
        FROM (SELECT unnest(string_split(
                  regexp_replace(lower(text), '\s+', '', 'g'), '')) AS ch
              FROM documents)
        WHERE ch <> '') AS n_distinct_chars,
       CAST(0 AS BIGINT) AS n_missing_singles,
       CAST(0 AS BIGINT) AS n_pieces_not_substring,
       TRUE AS vocab_within_bound
"""


# L4g CERTIFICATE — the rows-only BPE trainer certified the same way:
# Sennrich training is greedy-iterative (no SQL mirror), but (a) the
# FIRST merge is definitionally the corpus's max-frequency adjacent
# symbol pair — fully derivable in SQL over the same lowercase
# ASCII-whitespace word table with the trainer's `</w>` end symbol
# and its (freq desc, pair asc) tie-break — and (b) the max pair
# frequency is NON-INCREASING across merges (every new pair's count
# is bounded by the merged pair's count; old pairs only lose
# occurrences), so rank-order frequency inversions are a pinned-zero
# violation leg. Anchors: first_left/first_right/first_pair_freq all
# come from data in both engines.
def bpe_train_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = bpe_train(spark, sf_dir)  # driver-trained, tiny local frame
    first = rules.filter(F.col("rank") == 0).select(
        F.col("left").alias("first_left"),
        F.col("right").alias("first_right"),
        F.col("pair_freq").cast("bigint").alias("first_pair_freq"),
    )
    a, b = rules.alias("a"), rules.alias("b")
    viol = (
        a.join(b, F.col("b.rank") == F.col("a.rank") + 1)
        .filter(F.col("b.pair_freq") > F.col("a.pair_freq"))
        .agg(
            F.count(F.lit(1))
            .cast("bigint")
            .alias("n_freq_order_violations")
        )
    )
    bound = rules.agg(
        (F.count(F.lit(1)) <= F.lit(40)).alias("n_rules_within_bound")
    )
    return first.crossJoin(viol).crossJoin(bound)


BPE_TRAIN_CHECK_SQL = r"""
WITH words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
          FROM documents) t
    WHERE w <> '' GROUP BY w
), pairs AS (
    SELECT substr(w, i, 1) AS l,
           CASE WHEN i = LEN(w) THEN '</w>'
                ELSE substr(w, i + 1, 1) END AS r,
           n
    FROM words, unnest(generate_series(1, LEN(w))) AS s(i)
), agg AS (
    SELECT l, r, CAST(SUM(n) AS BIGINT) AS f FROM pairs GROUP BY l, r
)
SELECT l AS first_left, r AS first_right, f AS first_pair_freq,
       CAST(0 AS BIGINT) AS n_freq_order_violations,
       TRUE AS n_rules_within_bound
FROM agg
ORDER BY f DESC, l ASC, r ASC
LIMIT 1
"""


# L4f/L4x CERTIFICATE — corpus accounting of BOTH Arrow encoders: the
# encode kernels are rows-only (trained float artifacts ride the task
# closure), but their WORD accounting is a pure data contract — the
# per-doc n_words both kernels emit uses the shared lowercase
# ASCII-whitespace tokenization, so the corpus-wide word totals are
# derivable in SQL and hash-compared as DATA (not merely pinned).
# The fertility legs (a word can never encode to zero tokens: BPE
# emits >= 1 symbol per word, unigram >= 1 piece or one unk per
# uncoverable run) are the pinned-zero violations.
def tokenizer_encode_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import bpe, unigram

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    rules = [
        (r["rank"], r["left"], r["right"], r["pair_freq"])
        for r in bpe.bpe_train_merges(spark, docs, n_merges=40).collect()
    ]
    pieces = [
        (r["piece"], r["log_prob"])
        for r in unigram.unigram_train_pieces(
            spark, docs, vocab_size=300
        ).collect()
    ]
    b = bpe.encode_corpus_tokens(docs, rules)
    u = unigram.encode_corpus_tokens_unigram(docs, pieces)
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    b_tot = b.agg(
        F.sum("n_words").cast("bigint").alias("total_words_bpe"),
        F.sum(
            ((F.col("n_words") > 0) & (F.col("n_bpe_tokens") < F.col("n_words")))
            .cast("long")
        ).cast("bigint").alias("n_fertility_violations_bpe"),
    )
    u_tot = u.agg(
        F.sum("n_words").cast("bigint").alias("total_words_unigram"),
        F.sum(
            (
                (F.col("n_words") > 0)
                & (F.col("n_unigram_tokens") < F.col("n_words"))
            ).cast("long")
        ).cast("bigint").alias("n_fertility_violations_unigram"),
    )
    return n_docs.crossJoin(b_tot).crossJoin(u_tot).select(
        "n_docs",
        "total_words_bpe",
        "total_words_unigram",
        "n_fertility_violations_bpe",
        "n_fertility_violations_unigram",
    )


TOKENIZER_ENCODE_CHECK_SQL = r"""
WITH wc AS (
    SELECT CAST(SUM(LEN(list_filter(
               regexp_split_to_array(lower(text), '\s+'),
               x -> x <> ''))) AS BIGINT) AS total_words
    FROM documents
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
       total_words AS total_words_bpe,
       total_words AS total_words_unigram,
       CAST(0 AS BIGINT) AS n_fertility_violations_bpe,
       CAST(0 AS BIGINT) AS n_fertility_violations_unigram
FROM wc
"""


# L4s-b — tokenizer fertility on BOTH trained vocabularies: the
# dataset-engineering comparison a tokenizer decision rests on —
# pieces per whitespace word by source x lang under the trained BPE
# rules AND the trained unigram pieces, side by side. Rows-only (two
# trained float/iterative artifacts drive the encodings); run-to-run
# determinism comes from both trainers' tie-break contracts and is
# re-verified by the determinism harness. Plan: two Arrow passes over
# the scan (one per tokenizer), a doc-keyed join, one rollup.
def tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import bpe, unigram

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    rules = [
        (r["rank"], r["left"], r["right"], r["pair_freq"])
        for r in bpe.bpe_train_merges(spark, docs, n_merges=40).collect()
    ]
    pieces = [
        (r["piece"], r["log_prob"])
        for r in unigram.unigram_train_pieces(
            spark, docs, vocab_size=300
        ).collect()
    ]
    b = bpe.encode_corpus_tokens(docs, rules)
    u = unigram.encode_corpus_tokens_unigram(docs, pieces).select(
        "doc_id", "n_unigram_tokens"
    )
    per = b.join(u, "doc_id").join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    )
    agg = per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        F.sum("n_unigram_tokens").alias("n_unigram_tokens"),
    )
    fert = lambda c: F.when(  # noqa: E731
        F.col("n_words") > 0,
        F.col(c).cast("double") / F.col("n_words").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_unigram_tokens",
        fert("n_bpe_tokens").alias("fertility_bpe"),
        fert("n_unigram_tokens").alias("fertility_unigram"),
    ).orderBy("source", "lang")


def sim_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ivf_index_fixture(spark, sf_dir)
    index = ann.read_ivf_index(spark, path)
    cents = ann.read_ivf_centroids(path)
    return ann.topk_ivf(index, cents, _query_vector(sf_dir, 1), k=_TOPK, nprobe=3)


# Composite corpus-cleaning pipeline — the realistic end-to-end shape a
# training-data run takes: language whitelist → quality gates (length
# band, punctuation ratio, token floor) → exact dedup keep-min-id →
# per-source yield stats. Every stage is a narrow filter or one hash
# shuffle; the full pipeline is oracle-checked.
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gated = docs.filter(
        F.col("lang").isin("en", "de", "fr")
        & F.length("text").between(20, 10000)
        & (TXT.punct_ratio("text") <= 0.2)
        & (TXT.token_count("text") >= 10)
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    kept = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TXT.token_count("text")).alias("total_tokens"),
            exact_avg("n_chars").alias("avg_chars"),
        )
        .orderBy("source")
    )


PIPELINE_CLEAN_CORPUS_SQL = f"""
WITH gated AS (
    SELECT * FROM documents
    WHERE lang IN ('en', 'de', 'fr')
      AND LENGTH(text) BETWEEN 20 AND 10000
      AND LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
          / LENGTH(text) <= 0.2
      AND LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-zA-Z]+')) >= 10
), kept AS (
    SELECT * FROM gated
    QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-zA-Z]+'))) AS BIGINT)
           AS total_tokens,
       {avg_sql('n_chars')} AS avg_chars
FROM kept
GROUP BY source
ORDER BY source
"""


# L4c — RAG/context-window chunking: split every document into
# overlapping fixed-width windows (the retrieval/training prep step
# that feeds embedding models). Pure lateral fan-out — sequence +
# explode is a JVM-side generator, so the plan is scan → generate →
# project with ZERO shuffles until the determinism sort; no Python, no
# per-row state, and at 100 TB the chunk stream inherits the scan's
# partitioning (each task fans out its own documents locally). Chunk
# starts stride every 90 chars with 120-char windows (30-char overlap);
# the trailing chunk is allowed short, matching the usual tokenizer-
# window semantics.
_CHUNK_W, _CHUNK_S = 120, 90


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    last = F.greatest(
        F.floor((F.length("text") - 1) / _CHUNK_S),
        F.lit(0).cast("bigint"),
    )
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * _CHUNK_S + 1
    chunk = F.col("text").substr(start.cast("int"), F.lit(_CHUNK_W))
    return chunks.select(
        "doc_id",
        "chunk_id",
        start.alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
    ).orderBy("doc_id", "chunk_id")


TEXT_CHUNK_WINDOWS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(GREATEST(FLOOR((LENGTH(text) - 1) / {_CHUNK_S}.0), 0)
                    AS BIGINT))) AS chunk_id
    FROM documents
)
SELECT doc_id, chunk_id,
       chunk_id * {_CHUNK_S} + 1 AS chunk_start,
       substr(text, CAST(chunk_id * {_CHUNK_S} + 1 AS INTEGER), {_CHUNK_W})
           AS chunk_text,
       LENGTH(substr(text, CAST(chunk_id * {_CHUNK_S} + 1 AS INTEGER),
                     {_CHUNK_W})) AS chunk_len
FROM fanout
ORDER BY doc_id, chunk_id
"""


# L2e — span-level exact substring dedup (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" shape):
# doc-level dedup misses boilerplate PARAGRAPHS repeated across
# otherwise-distinct documents, so slide a 64-char window at stride 16
# over every document and find windows that recur in ≥2 distinct docs.
# Scale shape: the shuffle key is the md5 of the span (32-byte-ish hex,
# never the span text — at 100 TB the fan-out is ~len/16 hashes per
# doc and the groupBy combines map-side), one exchange for the
# aggregate, one for the result sort. The window fan-out itself is a
# JVM-side sequence+explode, zero Python. Exact semantics: md5
# collisions would need ~2^64 spans; both engines hash identical bytes
# so the oracle compare is unaffected either way.
_SPAN_L, _SPAN_T = 64, 16


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    eligible = docs.filter(F.length("text") >= _SPAN_L)
    last = F.floor((F.length("text") - _SPAN_L) / _SPAN_T)
    fanout = eligible.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    )
    spans = fanout.select(
        "doc_id",
        F.md5(
            F.col("text").substr(
                (F.col("k") * _SPAN_T + 1).cast("int"), F.lit(_SPAN_L)
            )
        ).alias("span_hash"),
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("span_hash")
    )


DEDUP_SUBSTRING_SPANS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(FLOOR((LENGTH(text) - {_SPAN_L}) / {_SPAN_T}.0)
                    AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_SPAN_L}
), spans AS (
    SELECT doc_id,
           md5(substr(text, CAST(k * {_SPAN_T} + 1 AS INTEGER), {_SPAN_L}))
               AS span_hash
    FROM fanout
)
SELECT span_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occ,
       MIN(doc_id) AS first_doc
FROM spans
GROUP BY span_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY span_hash
"""


# L2f — MAXIMAL duplicated span runs per document: the actionable form
# of span-level dedup (dedup_substring_spans finds which 64-char
# windows recur; a cleaning pass needs the CHAR RANGES to excise).
# Every stride-16 window whose hash occurs ≥2 times corpus-wide
# (cross-doc or internal repetition — both are training-data bloat)
# is flagged, and per document the flagged positions chain into
# maximal runs via gaps-and-islands (consecutive = stride apart), so
# a duplicated paragraph reports as ONE (start, length) interval.
# Scale shape: the hash aggregate is the span-dedup one (md5 keys,
# map-side combine); the islands pass shuffles (doc_id, pos) pairs —
# two longs per window — once; no pair expansion anywhere. The oracle
# replays the identical islands on the identical flagged set.
def dedup_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    eligible = docs.filter(F.length("text") >= _SPAN_L)
    last = F.floor((F.length("text") - _SPAN_L) / _SPAN_T)
    fanout = eligible.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    )
    occ = fanout.select(
        "doc_id",
        (F.col("k") * _SPAN_T + 1).alias("pos"),
        # unhex: the hash is internal (never output), so ship the
        # shuffle 16 raw bytes instead of 32 hex chars — halves the
        # dominant exchange's key width; oracle equality is unaffected
        F.unhex(
            F.md5(
                F.col("text").substr(
                    (F.col("k") * _SPAN_T + 1).cast("int"), F.lit(_SPAN_L)
                )
            )
        ).alias("span_hash"),
    )
    dup_hashes = (
        occ.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("span_hash")
    )
    flagged = occ.join(dup_hashes, "span_hash").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn(
        "is_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) != _SPAN_T),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + _SPAN_L).alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
        .orderBy("doc_id", "span_start")
    )


DEDUP_SPAN_RUNS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(FLOOR((LENGTH(text) - {_SPAN_L}) / {_SPAN_T}.0)
                    AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_SPAN_L}
), occ AS (
    SELECT doc_id, k * {_SPAN_T} + 1 AS pos,
           md5(substr(text, CAST(k * {_SPAN_T} + 1 AS INTEGER), {_SPAN_L}))
               AS span_hash
    FROM fanout
), dup AS (
    SELECT span_hash FROM occ GROUP BY span_hash HAVING COUNT(*) >= 2
), flagged AS (
    SELECT doc_id, pos FROM occ JOIN dup USING (span_hash)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w != {_SPAN_T} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) - MIN(pos) + {_SPAN_L} AS span_len,
       COUNT(*) AS n_windows
FROM numbered
GROUP BY doc_id, run_id
ORDER BY doc_id, span_start
"""


# L2h — EXACT variable-length duplicated extents (Lee et al. 2022's
# actual formulation, not the stride-16 screen): report, per document,
# the maximal character ranges covered by ANY duplicated substring of
# length ≥ L. Single-node engines compute this with a suffix array;
# the distributed equivalence this query exploits is exact:
#
#   a character position lies inside some duplicated substring of
#   length ≥ L  ⟺  it is covered by some duplicated L-gram,
#
# because every length-≥L duplicate contains (and is covered by) its
# stride-1 L-windows, each itself duplicated, and conversely a
# duplicated L-gram IS a duplicated substring of length L. So
# stride-1 L-gram fingerprints + an interval union reproduce the
# suffix-array answer with one md5-keyed aggregate — no suffix
# sorting, no pair expansion, map-side combinable.
#
# Scale shape: the stride-1 fan-out is len(text) rows/doc, each row
# (16B hash, 8B doc, 8B pos) ≈ 32× corpus bytes through one exchange —
# the price of exactness — so it runs ONLY over documents flagged by
# the sound winnowing screen (_winnow_screen_ids: shuffle-free k-gram
# winnowing, ~6% fingerprint density, provably misses nothing ≥ L).
# On a mostly-clean corpus the 32× exchange touches only the dup-
# bearing tail; worst case (everything duplicated) degrades to the
# unscreened cost plus the screen's one small exchange.  Linear,
# skew-free (hash keys), zero Python.
# Because all intervals share length L, interval union degenerates to
# gaps-and-islands on start positions (new extent ⟺ gap > L) — end
# positions are monotone in starts, so no running-max pass is needed.
_LDS_L = 64

# Screen parameters for the stride-1 tier (see _winnow_screen_ids):
# k-gram size and winnowing window, chosen so the guarantee threshold
# t = K + W - 1 = 64 ≤ _LDS_L — every duplicated substring of length
# ≥ L is ≥ t, so the screen can never miss a document the exact pass
# would report.  K is deliberately LARGE (half of L): the screen's
# false-flag rate is the probability two docs share a selected
# K-char substring WITHOUT sharing an L-char one, and short grams
# (common phrases) make that near-certain on natural text — K=32
# keeps accidental flags rare while W=33 keeps the guarantee tight
# at exactly t = L.  Fingerprint density is ~2/(W+1) ≈ 6%.
_SCR_K, _SCR_W = 32, 33
assert _SCR_K + _SCR_W - 1 <= _LDS_L


def _winnow_fps(eligible: DataFrame) -> DataFrame:
    """(doc_id, h) winnowing fingerprints of every eligible document —
    the Arrow kernel shared by `_winnow_screen_ids` (within-corpus
    screen) and `decontaminate_extents` (cross-set screen). See the
    screen's docstring for the soundness proof and kernel notes."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            texts = [
                t for t in pdf["text"] if len(t) >= _SCR_K + _SCR_W - 1
            ]
            ids = np.asarray(
                [
                    d
                    for d, t in zip(pdf["doc_id"], pdf["text"])
                    if len(t) >= _SCR_K + _SCR_W - 1
                ],
                dtype=np.int64,
            )
            if not texts:
                continue
            # ONE vectorized pass over the whole batch: concatenate,
            # Horner-hash once, window-argmin once; per-doc work is
            # only view slicing (grams/windows crossing a doc
            # boundary are computed but never selected)
            c = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            lens = np.asarray([len(t) for t in texts], dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m = len(c) - _SCR_K + 1
            with np.errstate(over="ignore"):
                H = np.zeros(m, dtype=np.uint64)
                for t in range(_SCR_K):
                    H = H * np.uint64(1099511628211) + c[t : t + m]
            # rightmost-minimal per window: argmin of the REVERSED
            # window is leftmost-in-reversed = rightmost-minimal
            nw = m - _SCR_W + 1
            rel = np.lib.stride_tricks.sliding_window_view(H, _SCR_W)[
                :, ::-1
            ].argmin(axis=1)
            sel_all = np.arange(nw) + (_SCR_W - 1) - rel
            doc_ids: list[np.ndarray] = []
            hashes: list[np.ndarray] = []
            for d, s, ln in zip(ids, starts, lens):
                # windows fully inside this doc: starts s .. s+ln-K-W+1
                lo, hi = s, s + ln - _SCR_K - _SCR_W + 2
                sel = np.unique(sel_all[lo:hi])
                doc_ids.append(np.full(len(sel), d, dtype=np.int64))
                hashes.append(H[sel])
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(doc_ids),
                    "h": np.concatenate(hashes).view(np.int64),
                }
            )

    return eligible.select("doc_id", "text").mapInPandas(
        kernel, "doc_id long, h long"
    )


def _winnow_screen_ids(eligible: DataFrame) -> DataFrame:
    """Sound document screen for the exact (stride-1) span-dedup tier.

    Returns a DataFrame[doc_id] that is a SUPERSET of the documents
    containing any duplicated substring of length ≥ _LDS_L, computed
    WITHOUT the stride-1 fan-out exchange.  Soundness proof:

      * Winnowing guarantee (Schleimer–Wilkerson–Aiken 2003, thm 2):
        for any two matching substrings of length ≥ t = K + W − 1,
        at least one k-gram is fingerprinted in BOTH occurrences.
        With K=32, W=33, t = 64 ≤ L = 64, so every duplicated
        ≥L-substring pair shares a fingerprint hash VALUE.
      * The two occurrences start at different positions a ≠ b, and
        the shared fingerprint sits at the same relative offset o in
        both (ties inside a window are broken by position, and tied
        hashes have identical relative order in matching windows),
        so it yields two DISTINCT (doc_id, pos) fingerprint rows
        a+o ≠ b+o — within-doc and overlapping duplicates included.
      * Hence every doc the exact pass would flag contains a
        fingerprint hash with global occurrence count ≥ 2, and —
        conversely — every occurrence of a duplicated L-gram lives in
        a screened doc, so computing the exact pass's dup-hash set
        over screened docs ONLY is identical to computing it over the
        full corpus.  (Pinned by test_span_screen_* in
        tests/test_dedup.py: gated output ≡ ungated output.)

    The screen hashes with a polynomial rolling hash, not md5: a
    collision can only make two DIFFERENT grams look equal, i.e. ADD
    a flagged doc — never remove one — and matching regions have
    identical hash sequences under any content-determined hash, so
    the common-fingerprint argument above is hash-function-agnostic.

    Implementation note: this is the span family's one Arrow kernel.
    The pure-expression alternative
    (transform/slice/array_min over per-position structs) is
    CodegenFallback — Spark interprets higher-order-function lambdas
    per element, ~W boxed comparisons per character — measured 2-5×
    slower than the whole stride-1 pass it is meant to screen.  The
    kernel is O(n) vectorized numpy (Horner rolling hash + a
    sliding-window argmin), runs inside the scan stage with ZERO
    shuffle, and emits only the ~2/(W+1) ≈ 6%-density fingerprints;
    the one exchange downstream carries 24 B per fingerprint vs the
    stride-1 tier's 32 B × every corpus character.
    """
    from pyspark.sql.window import Window

    fps = _winnow_fps(eligible)
    # one pass over the fingerprints: a hash shared by >= 2 (doc, pos)
    # fingerprint rows marks every doc it appears in (window, not a
    # groupBy + re-join — the kernel must not run twice)
    wh = Window.partitionBy("h")
    return (
        fps.withColumn("n_occ", F.count(F.lit(1)).over(wh))
        .filter(F.col("n_occ") >= 2)
        .select("doc_id")
        .distinct()
    )


def _screen_eligible(eligible: DataFrame) -> DataFrame:
    """Restrict the stride-1 fan-out to winnow-screened documents.

    Identical output by the proof in _winnow_screen_ids; the semi-join
    is AQE-sized (broadcasts when the flagged set is small — the
    common case on a mostly-clean corpus).  localCheckpoint (same
    discipline as dedup_setsim_join / graph.py): extents feeds the
    screened fan-out into BOTH sides of its dup-gram self-join, and
    Spark would otherwise evaluate the whole screen twice — the
    checkpoint materializes the (small) flagged-docs relation once."""
    return eligible.join(
        _winnow_screen_ids(eligible), "doc_id", "left_semi"
    ).localCheckpoint()


def dedup_span_exact_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    eligible = _screen_eligible(docs.filter(F.length("text") >= _LDS_L))
    last = (F.length("text") - _LDS_L).cast("bigint")
    fanout = eligible.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    )
    occ = fanout.select(
        "doc_id",
        (F.col("k") + 1).alias("pos"),
        # internal hash -> 16-byte binary keys (see dedup_span_runs)
        F.unhex(
            F.md5(
                F.col("text").substr(
                    (F.col("k") + 1).cast("int"), F.lit(_LDS_L)
                )
            )
        ).alias("gram_hash"),
    )
    dup = (
        occ.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gram_hash")
    )
    flagged = occ.join(dup, "gram_hash").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn(
        "is_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > _LDS_L),
            1,
        ).otherwise(0),
    ).withColumn(
        "ext_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy("doc_id", "ext_id")
        .agg(
            F.min("pos").alias("ext_start"),
            (F.max("pos") - F.min("pos") + _LDS_L).alias("ext_len"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "ext_start", "ext_len", "n_grams")
        .orderBy("doc_id", "ext_start")
    )


# L2h-cross — SPAN-LEVEL DECONTAMINATION: the character extents of
# eval-set text inside train documents. `decontaminate` (pipeline.py)
# reports WHICH train docs overlap the eval set and by how many
# token-grams; this reports WHERE — the exact [start, len) character
# extents a cleaning pass would excise, plus how many distinct eval
# docs each extent hits. Same machinery as dedup_span_exact_extents
# (stride-1 L=64 char grams → islands), but the dup condition is
# cross-set (train gram ∈ eval gram set) and the screen is the
# CROSS-set winnowing variant: a fingerprint hash must occur in both
# an eval doc and a train doc — sound by the same w+k-1 = 64 = L
# covering theorem (_winnow_screen_ids), since any shared ≥L substring
# between a train and an eval doc yields the shared fingerprint in
# both docs. Only screened docs (both sides) pay the stride-1 fan-out.
# Eval split: doc_id % 7 == 0 (denser than decontaminate's % 97, so
# the operator exercises multi-extent output at test scale).
_DCE_MOD = 7


def _decon_runs(
    docs: DataFrame, eval_pred: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """Shared derivation for the two decontamination queries: returns
    (runs, eval_hash) where runs = island-numbered contaminated train
    positions (doc_id, pos, gram_hash, ext_id), checkpointed (it feeds
    two aggregates in extents and the interval pass in excise), and
    eval_hash = the distinct (eval_id, gram_hash) eval gram set.
    ``eval_pred`` overrides the registry queries' doc_id % 7 eval
    split — the materialized curation run (operators/curation.py)
    passes the funnel's % 97 convention so one eval set governs every
    decon tier of the composed pipeline."""
    from pyspark.sql.window import Window

    if eval_pred is None:
        eval_pred = F.col("doc_id") % _DCE_MOD == 0
    eligible = docs.filter(F.length("text") >= _LDS_L)
    side = eval_pred.cast("int")
    wh = Window.partitionBy("h")
    flagged = (
        _winnow_fps(eligible)
        .withColumn("is_eval", side)
        .withColumn("has_eval", F.max("is_eval").over(wh))
        .withColumn("has_train", F.max(1 - F.col("is_eval")).over(wh))
        .filter((F.col("has_eval") == 1) & (F.col("has_train") == 1))
        .select("doc_id")
        .distinct()
    )
    gated = eligible.join(flagged, "doc_id", "left_semi").localCheckpoint()
    last = (F.length("text") - _LDS_L).cast("bigint")
    occ = gated.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    ).select(
        "doc_id",
        (F.col("k") + 1).alias("pos"),
        F.unhex(
            F.md5(
                F.col("text").substr((F.col("k") + 1).cast("int"), F.lit(_LDS_L))
            )
        ).alias("gram_hash"),
    )
    eval_hash = (
        occ.filter(eval_pred)
        .select(F.col("doc_id").alias("eval_id"), "gram_hash")
        .distinct()
        .localCheckpoint()  # small (eval side); feeds hits + the ev rollup
    )
    hits = (
        occ.filter(~eval_pred)
        .join(eval_hash.select("gram_hash").distinct(), "gram_hash")
        .select("doc_id", "pos", "gram_hash")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hits.withColumn(
            "is_new",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") - F.lag("pos").over(w) > _LDS_L),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "ext_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .localCheckpoint()  # feeds both the extent agg and the eval-doc rollup
    )
    return runs, eval_hash


def decontaminate_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    runs, eval_hash = _decon_runs(docs)
    ext = runs.groupBy("doc_id", "ext_id").agg(
        F.min("pos").alias("ext_start"),
        (F.max("pos") - F.min("pos") + _LDS_L).alias("ext_len"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    ev = (
        runs.join(eval_hash, "gram_hash")
        .groupBy("doc_id", "ext_id")
        .agg(F.countDistinct("eval_id").alias("n_eval_docs"))
    )
    return (
        ext.join(ev, ["doc_id", "ext_id"])
        .select("doc_id", "ext_start", "ext_len", "n_grams", "n_eval_docs")
        .orderBy("doc_id", "ext_start")
    )


# The cleaning pass: cut EVERY contaminated extent out of the train
# corpus and rebuild the text byte-exactly (md5-verified). Unlike the
# dedup excision there is no canonical-keeper subtlety — eval text
# must go wherever it appears — so the intervals are exactly the
# extents above; extents are ≥ L+1 apart by the island rule, hence
# non-overlapping, which is _excise_rebuild's contract. Output is one
# row per TRAIN doc (untouched docs pass through with kept = n_chars).
def decontaminate_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    runs, _ = _decon_runs(docs)
    ivls = runs.groupBy("doc_id", "ext_id").agg(
        F.min("pos").alias("ivl_start"),
        (F.max("pos") + _LDS_L).alias("ivl_end"),
    )
    train = docs.filter(F.col("doc_id") % _DCE_MOD != 0)
    return _excise_rebuild(train, ivls)


DECONTAMINATE_EXTENTS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(LENGTH(text) - {_LDS_L} AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_LDS_L}
), occ AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_LDS_L})) AS gram_hash
    FROM fanout
), eval_hash AS (
    SELECT DISTINCT doc_id AS eval_id, gram_hash
    FROM occ WHERE doc_id % {_DCE_MOD} = 0
), hits AS (
    SELECT o.doc_id, o.pos, o.gram_hash
    FROM occ o
    WHERE o.doc_id % {_DCE_MOD} <> 0
      AND EXISTS (SELECT 1 FROM eval_hash e
                  WHERE e.gram_hash = o.gram_hash)
), marked AS (
    SELECT doc_id, pos, gram_hash,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_LDS_L} THEN 1
                ELSE 0 END AS is_new
    FROM hits
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos, gram_hash,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext_id
    FROM marked
), ext AS (
    SELECT doc_id, ext_id,
           MIN(pos) AS ext_start,
           MAX(pos) - MIN(pos) + {_LDS_L} AS ext_len,
           COUNT(*) AS n_grams
    FROM numbered GROUP BY doc_id, ext_id
), ev AS (
    SELECT n.doc_id, n.ext_id,
           COUNT(DISTINCT e.eval_id) AS n_eval_docs
    FROM numbered n JOIN eval_hash e USING (gram_hash)
    GROUP BY n.doc_id, n.ext_id
)
SELECT ext.doc_id, ext_start, ext_len, n_grams, n_eval_docs
FROM ext JOIN ev USING (doc_id, ext_id)
ORDER BY doc_id, ext_start
"""


DECONTAMINATE_EXCISE_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(LENGTH(text) - {_LDS_L} AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_LDS_L}
), occ AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_LDS_L})) AS gram_hash
    FROM fanout
), eval_hash AS (
    SELECT DISTINCT gram_hash FROM occ WHERE doc_id % {_DCE_MOD} = 0
), hits AS (
    SELECT o.doc_id, o.pos
    FROM occ o
    WHERE o.doc_id % {_DCE_MOD} <> 0
      AND EXISTS (SELECT 1 FROM eval_hash e
                  WHERE e.gram_hash = o.gram_hash)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_LDS_L} THEN 1
                ELSE 0 END AS is_new
    FROM hits
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ivl_id
    FROM marked
), ivls AS (
    SELECT doc_id, MIN(pos) AS ivl_start, MAX(pos) + {_LDS_L} AS ivl_end
    FROM numbered GROUP BY doc_id, ivl_id
), train AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {_DCE_MOD} <> 0
), gaps AS (
    SELECT doc_id,
           COALESCE(LAG(ivl_end) OVER (PARTITION BY doc_id
                                       ORDER BY ivl_start), 1) AS gs,
           ivl_start AS ge
    FROM ivls
    UNION ALL
    SELECT doc_id, MAX(ivl_end) AS gs, NULL AS ge
    FROM ivls GROUP BY doc_id
), segs AS (
    SELECT g.doc_id, g.gs,
           substr(d.text, CAST(g.gs AS INTEGER),
                  CAST(COALESCE(g.ge, LENGTH(d.text) + 1) - g.gs AS INTEGER))
               AS seg
    FROM gaps g JOIN train d USING (doc_id)
), rebuilt AS (
    SELECT doc_id, STRING_AGG(seg, '' ORDER BY gs) AS cleaned
    FROM segs GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
       CAST(LENGTH(COALESCE(r.cleaned, d.text)) AS BIGINT) AS kept_chars,
       md5(COALESCE(r.cleaned, d.text)) AS cleaned_md5
FROM train d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


# L2q — DECONTAMINATION REPORT: the per-document audit table a
# curation run ships — every train doc with ALL THREE decon tiers'
# signals side by side: exact character extents (the span tier),
# distinct shared token 4-grams (the n-gram tier), and the closest
# eval embedding neighbor (the semantic/paraphrase tier), plus the
# any-tier contamination verdict. One eval convention governs the
# report (doc_id % 7, the span/semantic tiers' split; embeddings join
# by vec_id == doc_id). Each tier's derivation is the one its own
# oracled registry query certifies; the report adds only doc-keyed
# LEFT JOINs, so the composed oracle is the three tier oracles nested
# as CTE subqueries plus the joins — and the composition itself is
# what the driver's hash gate then certifies end-to-end.
def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..dedup import parity

    return _decontamination_report_frame(
        spark,
        sf_dir,
        lambda: parity.emb_cross_decon_parity(
            load_table(spark, sf_dir, "embeddings")
        ),
    )


# The report's SCALE variant (round-10): identical extents/ngram tiers
# and doc-keyed joins, but the semantic leg is the IVF tier
# (decontaminate_semantic_ivf) instead of the fixed-band-space SRP
# pipeline — the same evidenced handoff the semdedup/decon families
# already made. Rows-only (Lloyd), with the composition's scale point
# committed in SCALING.md on the combined 10× documents+embeddings
# slice: the SRP-legged report saturates with its band space there
# while this variant stays near-linear. Soundness of the swapped leg
# is carried by decontaminate_semantic_ivf_check (oracled); the other
# two tiers are byte-identical to the oracled report's.
def decontamination_report_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decontamination_report_frame(
        spark, sf_dir, lambda: decontaminate_semantic_ivf(spark, sf_dir)
    )


def _decontamination_report_frame(
    spark: SparkSession, sf_dir: str, sem_fn
) -> DataFrame:
    """The shared report body over a caller-chosen semantic tier,
    built by ``sem_fn() -> DataFrame(vec_id, closest_eval_id, cosine)``.

    Round-15 (optimization, guide §2.6): the three tiers' EAGER build
    work — the span tier's winnow/fan-out localCheckpoint chain, the
    gram tier's array checkpoint, and the semantic tier's build (the
    IVF variant trains k-means and checkpoints qn eagerly) — are
    mutually independent, but ran strictly back-to-back because each
    localCheckpoint blocks the driver. Submitting the three builds
    from a thread pool lets their jobs back-fill each other's idle
    executors (Spark schedules concurrent jobs FIFO); content is
    unchanged — every branch is deterministic and the composed plan is
    identical, which the driver hash gate certifies."""
    from concurrent.futures import ThreadPoolExecutor

    from .pipeline import _grams

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    # tier 2 builder: distinct shared token 4-grams vs the %7 eval set.
    # localCheckpoint the PRE-explode gram arrays (round-14
    # optimization): the gram stream feeds both the eval-distinct leg
    # and the train-overlap leg, and Catalyst inlines the tokenizer +
    # 4-gram HOF into each — the corpus was gram-tokenized twice per
    # report. The materialized relation is (doc_id, distinct-gram
    # array), the same corpus-order-of-magnitude class as the minhash
    # shingle checkpoint; both legs explode the cached arrays.
    def _garr():
        return docs.select(
            "doc_id", F.array_distinct(_grams("text", 4)).alias("grams")
        ).localCheckpoint()

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_runs = pool.submit(_decon_runs, docs)  # tier 1 (%7 split)
        f_garr = pool.submit(_garr)
        f_sem = pool.submit(sem_fn)  # tier 3
        runs, _ = f_runs.result()
        garr = f_garr.result()
        sem = f_sem.result()
    ext_doc = (
        runs.groupBy("doc_id", "ext_id")
        .agg((F.max("pos") - F.min("pos") + _LDS_L).alias("l"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_extents"),
            F.sum("l").alias("extent_chars"),
        )
    )
    g = garr.select("doc_id", F.explode("grams").alias("gram"))
    evg = (
        g.filter(F.col("doc_id") % _DCE_MOD == 0).select("gram").distinct()
    )
    ov = (
        g.filter(F.col("doc_id") % _DCE_MOD != 0)
        .join(F.broadcast(evg), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("ngram_hits"))
    )
    # tier 3: closest eval embedding neighbor (vec_id == doc_id),
    # from the caller-chosen semantic tier
    sem = sem.select(
        F.col("vec_id").alias("doc_id"),
        "closest_eval_id",
        F.col("cosine").alias("semantic_cosine"),
    )
    train = docs.filter(F.col("doc_id") % _DCE_MOD != 0).select("doc_id")
    rep = (
        train.join(ext_doc, "doc_id", "left")
        .join(ov, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_extents", F.lit(0)).alias("n_extents"),
            F.coalesce("extent_chars", F.lit(0)).alias("extent_chars"),
            F.coalesce("ngram_hits", F.lit(0)).alias("ngram_hits"),
            "closest_eval_id",
            "semantic_cosine",
        )
    )
    return rep.withColumn(
        "contaminated",
        (F.col("n_extents") > 0)
        | (F.col("ngram_hits") > 0)
        | F.col("closest_eval_id").isNotNull(),
    ).orderBy("doc_id")


def _decontamination_report_sql() -> str:
    from ..dedup.parity import emb_cross_decon_sql

    return f"""
WITH ext_q AS (
{DECONTAMINATE_EXTENTS_SQL}
), ext_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_extents,
           CAST(SUM(ext_len) AS BIGINT) AS extent_chars
    FROM ext_q GROUP BY doc_id
), grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(arr, i, i + 3), ' ') AS gram
    FROM (SELECT doc_id,
                 regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
          FROM documents),
         UNNEST(generate_series(1, LEN(arr) - 3)) AS t(i)
), ov AS (
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS ngram_hits
    FROM (SELECT doc_id, gram FROM grams
          WHERE doc_id % {_DCE_MOD} <> 0) t
    JOIN (SELECT DISTINCT gram FROM grams
          WHERE doc_id % {_DCE_MOD} = 0) e USING (gram)
    GROUP BY t.doc_id
), sem AS (
{emb_cross_decon_sql(dim=64)}
)
SELECT d.doc_id,
       COALESCE(e.n_extents, 0) AS n_extents,
       COALESCE(e.extent_chars, 0) AS extent_chars,
       COALESCE(o.ngram_hits, 0) AS ngram_hits,
       s.closest_eval_id,
       s.cosine AS semantic_cosine,
       (COALESCE(e.n_extents, 0) > 0 OR COALESCE(o.ngram_hits, 0) > 0
        OR s.closest_eval_id IS NOT NULL) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {_DCE_MOD} <> 0) d
LEFT JOIN ext_doc e USING (doc_id)
LEFT JOIN ov o USING (doc_id)
LEFT JOIN sem s ON s.vec_id = d.doc_id
ORDER BY d.doc_id
"""


DECONTAMINATION_REPORT_SQL = _decontamination_report_sql()


DEDUP_SPAN_EXACT_EXTENTS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(LENGTH(text) - {_LDS_L} AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_LDS_L}
), occ AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_LDS_L})) AS gram_hash
    FROM fanout
), dup AS (
    SELECT gram_hash FROM occ GROUP BY gram_hash HAVING COUNT(*) >= 2
), flagged AS (
    SELECT doc_id, pos FROM occ JOIN dup USING (gram_hash)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_LDS_L} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext_id
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS ext_start,
       MAX(pos) - MIN(pos) + {_LDS_L} AS ext_len,
       COUNT(*) AS n_grams
FROM numbered
GROUP BY doc_id, ext_id
ORDER BY doc_id, ext_start
"""


# L2i — WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003 —
# the MOSS algorithm): from every window of w consecutive k-gram
# hashes, keep the RIGHTMOST MINIMAL hash. Guarantee: any substring
# match of length ≥ w+k-1 shares at least one selected fingerprint,
# while the expected density is 2/(w+1) — an order-of-magnitude
# cheaper index than stride-1 hashing with a provable recall floor.
# This is the third tier of the span-dedup family: stride-16 screen
# (cheap, alignment-sensitive) → winnowing (cheap, alignment-ROBUST)
# → stride-1 exact (the cleaning pass).
#
# Cross-engine determinism: "rightmost minimal" = min by (hash asc,
# pos desc). Both engines reduce over an ENCODED string
# hash || lpad(10^8 - pos) — fixed-width, so lexicographic min IS the
# (hash asc, pos desc) min, bit-identical in Spark and DuckDB with no
# struct-ordering assumptions.
#
# Scale shape: k-gram fan-out (len rows/doc), ONE ordered window per
# doc (frame = w following rows) — no self-join, no pair expansion;
# the shared-fingerprint aggregate shuffles 32-byte keys with
# map-side combine. Window-frame min is O(w) per row; w is a small
# constant (8).
_WIN_K, _WIN_W = 16, 8


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    eligible = docs.filter(F.length("text") >= _WIN_K + _WIN_W - 1)
    last = (F.length("text") - _WIN_K).cast("bigint")
    grams = eligible.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    ).select(
        "doc_id",
        (F.col("k") + 1).alias("pos"),
        F.md5(
            F.col("text").substr((F.col("k") + 1).cast("int"), F.lit(_WIN_K))
        ).alias("h"),
    )
    # fixed-width encoding: 32-hex md5 ++ 8-digit (10^8 - pos); string
    # min == (hash asc, pos desc) min == rightmost minimal hash.
    # Width contract: valid for docs < 10^8 chars (100 MB of text in
    # ONE document) — beyond that the pad would overflow and silently
    # corrupt the ordering, so both engines FAIL LOUDLY instead (the
    # SQL oracle carries the matching error() guard)
    enc = F.concat(
        F.col("h"),
        F.when(
            F.col("pos") >= 10**8,
            F.raise_error(
                F.lit(
                    "winnow_fingerprints: fixed-width pos encoding "
                    "supports documents < 1e8 chars — chunk the "
                    "document or widen the pad"
                )
            ),
        ).otherwise(
            F.format_string("%08d", (F.lit(100000000) - F.col("pos")))
        ),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    n_grams = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    windows = grams.select(
        "doc_id",
        "pos",
        F.min(enc).over(wd.rowsBetween(0, _WIN_W - 1)).alias("sel"),
        n_grams.alias("n_grams"),
    ).filter(F.col("pos") <= F.col("n_grams") - _WIN_W + 1)
    fps = windows.select(
        "doc_id",
        F.substring("sel", 1, 32).alias("fp_hash"),
        (
            F.lit(100000000) - F.substring("sel", 33, 8).cast("bigint")
        ).alias("fp_pos"),
    ).distinct()
    return (
        fps.groupBy("fp_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_fps"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("fp_hash")
    )


WINNOW_FINGERPRINTS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(LENGTH(text) - {_WIN_K} AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_WIN_K + _WIN_W - 1}
), grams AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_WIN_K})) AS h
    FROM fanout
), windows AS (
    SELECT doc_id, pos,
           MIN(h || CASE WHEN pos >= 100000000
                         THEN error('winnow pos encoding overflow')
                         ELSE lpad(CAST(100000000 - pos AS VARCHAR), 8, '0')
                    END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS sel,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
    FROM grams
), fps AS (
    SELECT DISTINCT doc_id,
           substr(sel, 1, 32) AS fp_hash,
           100000000 - CAST(substr(sel, 33, 8) AS BIGINT) AS fp_pos
    FROM windows
    WHERE pos <= n_grams - {_WIN_W} + 1
)
SELECT fp_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_fps,
       MIN(doc_id) AS first_doc
FROM fps
GROUP BY fp_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY fp_hash
"""


# L2j — TOKEN-level span dedup: Lee et al. operate on TOKEN sequences
# (50-token threshold in the paper), not characters — token windows
# canonicalize whitespace (the join with a single space) so documents
# differing only in spacing/newlines still collide. Same exact
# covering theorem as the char family, in token coordinates: a token
# position is inside a duplicated token-run of length ≥ T ⟺ covered by
# a duplicated T-token window. Extents report as (tok_start, tok_len)
# in token space. Scale shape: the fan-out is n_tokens rows/doc (one
# slice+join per window — JVM-side array ops, zero Python), md5-keyed
# aggregate, per-doc islands; no pair expansion.
_TOK_T = 16


def dedup_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # explicit IsNotNull gives the scan a pushable filter (the size
    # predicate below is post-split and can't push); null text yields
    # no windows either way, so the oracle is unaffected
    # explicit ASCII whitespace class, identical bytes in both regex
    # dialects: Java \s includes \x0B but RE2's (DuckDB) does not, so
    # a bare \s+ would tokenize vertical-tab-separated text differently
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), r"[ \t\n\x0B\f\r]+"), lambda x: x != ""
        ).alias("toks"),
    ).filter(F.size("toks") >= _TOK_T)
    last = (F.size("toks") - _TOK_T + 1).cast("bigint")
    occ = toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1).cast("bigint"), last)).alias("tpos"),
    ).select(
        "doc_id",
        "tpos",
        # internal hash -> 16-byte binary keys (see dedup_span_runs)
        F.unhex(
            F.md5(
                F.array_join(
                    F.slice("toks", F.col("tpos").cast("int"), _TOK_T), " "
                )
            )
        ).alias("win_hash"),
    )
    dup = (
        occ.groupBy("win_hash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("win_hash")
    )
    flagged = occ.join(dup, "win_hash").select("doc_id", "tpos")
    w = Window.partitionBy("doc_id").orderBy("tpos")
    runs = flagged.withColumn(
        "is_new",
        F.when(
            F.lag("tpos").over(w).isNull()
            | (F.col("tpos") - F.lag("tpos").over(w) > _TOK_T),
            1,
        ).otherwise(0),
    ).withColumn(
        "ext_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy("doc_id", "ext_id")
        .agg(
            F.min("tpos").alias("tok_start"),
            (F.max("tpos") - F.min("tpos") + _TOK_T).alias("tok_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "tok_start", "tok_len", "n_windows")
        .orderBy("doc_id", "tok_start")
    )


DEDUP_TOKEN_SPANS_SQL = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                       x -> x <> '') AS toks
    FROM documents
), eligible AS (
    SELECT doc_id, toks FROM toks WHERE len(toks) >= {_TOK_T}
), occ AS (
    SELECT doc_id, tpos,
           md5(array_to_string(
               list_slice(toks, CAST(tpos AS INTEGER),
                          CAST(tpos + {_TOK_T} - 1 AS INTEGER)), ' '))
               AS win_hash
    FROM eligible,
         unnest(generate_series(1,
             CAST(len(toks) - {_TOK_T} + 1 AS BIGINT))) AS t(tpos)
), dup AS (
    SELECT win_hash FROM occ GROUP BY win_hash HAVING COUNT(*) >= 2
), flagged AS (
    SELECT doc_id, tpos FROM occ JOIN dup USING (win_hash)
), marked AS (
    SELECT doc_id, tpos,
           CASE WHEN LAG(tpos) OVER w IS NULL
                  OR tpos - LAG(tpos) OVER w > {_TOK_T} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)
), numbered AS (
    SELECT doc_id, tpos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY tpos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext_id
    FROM marked
)
SELECT doc_id,
       MIN(tpos) AS tok_start,
       MAX(tpos) - MIN(tpos) + {_TOK_T} AS tok_len,
       COUNT(*) AS n_windows
FROM numbered
GROUP BY doc_id, ext_id
ORDER BY doc_id, tok_start
"""


# L2k — INCREMENTAL span dedup: the ingest form of the exact family.
# An established corpus maintains a GRAM-HASH store (32-byte keys —
# the span analog of the sha256 signature store in dedup_incremental);
# each new batch flags extents covered by grams that (a) already exist
# in the store or (b) repeat within the batch itself. Historical TEXT
# is never re-read — only the hash store joins — so ingest cost scales
# with the batch, not the corpus. Same covering theorem → the flagged
# extents are exactly the new batch's characters duplicated against
# history-or-batch at ≥L granularity. Scale shape: store build is one
# distinct over history grams (in production: persisted, appended per
# batch like incremental.history_hashes); the probe is a semi-join on
# md5 keys; islands per new doc; no pair expansion, zero Python.
def dedup_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    def grams(df: DataFrame) -> DataFrame:
        eligible = df.filter(F.length("text") >= _LDS_L)
        last = (F.length("text") - _LDS_L).cast("bigint")
        return eligible.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
        ).select(
            "doc_id",
            (F.col("k") + 1).alias("pos"),
            # internal hash -> 16-byte binary keys (see dedup_span_runs)
            F.unhex(
                F.md5(
                    F.col("text").substr(
                        (F.col("k") + 1).cast("int"), F.lit(_LDS_L)
                    )
                )
            ).alias("gram_hash"),
        )

    store = (
        grams(docs.filter(F.col("doc_id") % 2 == 0))
        .select("gram_hash")
        .distinct()
    )
    new_occ = grams(docs.filter(F.col("doc_id") % 2 == 1))
    batch_dups = (
        new_occ.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gram_hash")
    )
    flagged_hashes = store.unionByName(batch_dups).distinct()
    flagged = new_occ.join(flagged_hashes, "gram_hash", "left_semi").select(
        "doc_id", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn(
        "is_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > _LDS_L),
            1,
        ).otherwise(0),
    ).withColumn(
        "ext_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy("doc_id", "ext_id")
        .agg(
            F.min("pos").alias("ext_start"),
            (F.max("pos") - F.min("pos") + _LDS_L).alias("ext_len"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "ext_start", "ext_len", "n_grams")
        .orderBy("doc_id", "ext_start")
    )


DEDUP_SPAN_INCREMENTAL_SQL = f"""
WITH grams AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_LDS_L})) AS gram_hash
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(0,
                   CAST(LENGTH(text) - {_LDS_L} AS BIGINT))) AS k
        FROM documents
        WHERE LENGTH(text) >= {_LDS_L}
    )
), store AS (
    SELECT DISTINCT gram_hash FROM grams WHERE doc_id % 2 = 0
), new_occ AS (
    SELECT doc_id, pos, gram_hash FROM grams WHERE doc_id % 2 = 1
), batch_dups AS (
    SELECT gram_hash FROM new_occ GROUP BY gram_hash HAVING COUNT(*) >= 2
), flagged AS (
    SELECT doc_id, pos FROM new_occ
    WHERE gram_hash IN (SELECT gram_hash FROM store)
       OR gram_hash IN (SELECT gram_hash FROM batch_dups)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_LDS_L} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext_id
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS ext_start,
       MAX(pos) - MIN(pos) + {_LDS_L} AS ext_len,
       COUNT(*) AS n_grams
FROM numbered
GROUP BY doc_id, ext_id
ORDER BY doc_id, ext_start
"""


# L2l — composite cleaning pipeline with EXACT span excision: the
# shape a real pretraining-prep job runs — language gate → exact
# variable-length excision (duplicate universe = the GATED corpus,
# matching production where filtering precedes dedup) → drop docs
# whose cleaned remnant is too short or mostly-duplicate → per-source
# yield report. Pure composition of audited pieces (gate predicates
# push to the scan; excision core is exact_span_excise_frame); the
# report is integer char math, so the oracle matches bit-for-bit.
_PSC_MIN_KEPT = 80


def pipeline_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    gated = docs.filter(
        F.col("text").isNotNull()
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    ex = exact_span_excise_frame(gated.select("doc_id", "text"))
    joined = gated.select("doc_id", "source").join(ex, "doc_id")
    kept = (F.col("kept_chars") >= _PSC_MIN_KEPT) & (
        F.col("kept_chars") * 2 >= F.col("n_chars")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_in"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias(
                "n_docs_kept"
            ),
            F.sum("n_chars").cast("bigint").alias("chars_in"),
            F.sum(F.when(kept, F.col("kept_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_kept"),
            F.sum(F.col("n_chars") - F.col("kept_chars"))
            .cast("bigint")
            .alias("dup_chars_excised"),
        )
        .orderBy("source")
    )


PIPELINE_SPAN_CLEAN_SQL = f"""
WITH gated AS (
    SELECT doc_id, text, source FROM documents
    WHERE text IS NOT NULL AND lang IN ('en', 'de', 'fr', 'es')
), fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(LENGTH(text) - {_LDS_L} AS BIGINT))) AS k
    FROM gated
    WHERE LENGTH(text) >= {_LDS_L}
), occ AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_LDS_L})) AS gram_hash
    FROM fanout
), flagged AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY gram_hash
                                  ORDER BY doc_id, pos) AS rn
        FROM occ
    ) WHERE rn >= 2
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_LDS_L} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ivl_id
    FROM marked
), ivls AS (
    SELECT doc_id, MIN(pos) AS ivl_start, MAX(pos) + {_LDS_L} AS ivl_end
    FROM numbered GROUP BY doc_id, ivl_id
), gaps AS (
    SELECT doc_id,
           COALESCE(LAG(ivl_end) OVER (PARTITION BY doc_id
                                       ORDER BY ivl_start), 1) AS gs,
           ivl_start AS ge
    FROM ivls
    UNION ALL
    SELECT doc_id, MAX(ivl_end) AS gs, NULL AS ge
    FROM ivls GROUP BY doc_id
), segs AS (
    SELECT g.doc_id, g.gs,
           substr(d.text, CAST(g.gs AS INTEGER),
                  CAST(COALESCE(g.ge, LENGTH(d.text) + 1) - g.gs AS INTEGER))
               AS seg
    FROM gaps g JOIN gated d USING (doc_id)
), rebuilt AS (
    SELECT doc_id, STRING_AGG(seg, '' ORDER BY gs) AS cleaned
    FROM segs GROUP BY doc_id
), per_doc AS (
    SELECT d.doc_id, d.source,
           CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
           CAST(LENGTH(COALESCE(r.cleaned, d.text)) AS BIGINT) AS kept_chars
    FROM gated d LEFT JOIN rebuilt r USING (doc_id)
), judged AS (
    SELECT *,
           (kept_chars >= {_PSC_MIN_KEPT} AND kept_chars * 2 >= n_chars)
               AS kept
    FROM per_doc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_in,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_in,
       CAST(SUM(CASE WHEN kept THEN kept_chars ELSE 0 END) AS BIGINT)
           AS chars_kept,
       CAST(SUM(n_chars - kept_chars) AS BIGINT) AS dup_chars_excised
FROM judged
GROUP BY source
ORDER BY source
"""


# L2m — EXACT set-similarity self-join via prefix filtering (the
# PPJoin family, Xiao et al. 2008): all doc pairs with token-set
# Jaccard ≥ τ, EXACTLY — the deterministic complement to MinHash-LSH
# (probabilistic recall) and n-gram Jaccard (posting-list n²). The
# prefix-filter lemma: order every doc's tokens by one global rank
# (document frequency asc, token asc — rarest first); if
# |x∩y| ≥ t then the first |x|-t+1 tokens of x and |y|-t+1 of y share
# a token. Jaccard ≥ τ forces overlap ≥ ⌈τ·max(|x|,|y|)⌉, so pairs
# need only be generated from PREFIX token collisions — and because
# prefixes keep the RAREST tokens, the hot-token posting blowup of
# naive token joins never materializes (a stopword lands in a prefix
# only for docs short enough that it ranks rare — the skew is bounded
# by construction, no cap needed). Candidates then verify with one
# exact integer test (10·|∩| ≥ 9·|∪| for τ=0.9) — no floats until the
# final reported ratio. Scale shape: token df is one agg; the rank is
# one per-doc window; the candidate join is keyed by rare tokens; the
# verify re-joins token arrays by doc_id (melt-join discipline —
# candidate pairs shuffle as id pairs, never arrays). The oracle is
# the O(n²) exact pair join, same gate as sim_knn_join.
#
# Output-size caveat (SCALING.md context): the RESULT is the set of
# qualifying pairs, which is inherently quadratic in near-dup cluster
# size — on the test corpus 10× docs yields ~107× pairs (9 020 →
# 964 854), so the measured 7× wall-clock is strongly SUB-linear in
# the true output-driven work. At 100 TB you do not materialize the
# pair list: feed it straight into cluster resolution
# (dedup/cluster.py) where each cluster collapses to one row.
_SSJ_NUM, _SSJ_DEN = 9, 10  # τ = 9/10 = 0.9


def dedup_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"[ \t\n\x0B\f\r]+"),
                    lambda x: x != "",
                )
            ).alias("s"),
        )
        .filter(F.size("s") > 0)
    )
    sized = toks.select("doc_id", F.size("s").cast("bigint").alias("n"), "s")
    tok = sized.select("doc_id", "n", F.explode("s").alias("token"))
    df_tok = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    # prefix length |x| - ceil(τ|x|) + 1; ceil(9n/10) = (9n+9) div 10,
    # so at most n - ceil(9n/10) + 1 = ⌊n/10⌋ + 1 tokens fan out per
    # doc — the candidate-generating relation is ~1/10th of the token
    # universe, and those are the RAREST tokens by construction
    # localCheckpoint (same discipline as graph.py / dedup/cluster.py):
    # the prefix relation feeds BOTH sides of the candidate self-join,
    # and Spark does not reuse the exchange across the aliases — the
    # checkpoint materializes the df-agg + rank pipeline once instead
    # of twice (audited: 16 → single-digit exchanges)
    prefix = (
        tok.join(df_tok, "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n") - F.expr(f"({_SSJ_NUM}*n + {_SSJ_DEN - 1}) div {_SSJ_DEN}") + 1
        )
        .select("doc_id", "n", "token")
        .localCheckpoint()
    )
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: τ|a| ≤ |b| ≤ |a|/τ, in integers
            & (_SSJ_DEN * F.col("a.n") >= _SSJ_NUM * F.col("b.n"))
            & (_SSJ_DEN * F.col("b.n") >= _SSJ_NUM * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    va = cands.join(
        toks.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa")),
        "id_a",
    )
    vb = va.join(
        toks.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb")),
        "id_b",
    )
    scored = vb.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("n_inter"),
        (
            F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
        )
        .cast("bigint")
        .alias("n_union"),
    )
    return (
        scored.filter(
            _SSJ_DEN * F.col("n_inter") >= _SSJ_NUM * F.col("n_union")
        )
        .withColumn("jaccard", F.col("n_inter") / F.col("n_union"))
        .orderBy("id_a", "id_b")
    )


DEDUP_SETSIM_JOIN_SQL = f"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(list_filter(
               string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
               x -> x <> '')) AS s
    FROM documents
    WHERE text IS NOT NULL
), nonempty AS (
    SELECT doc_id, s, len(s) AS n FROM toks WHERE len(s) > 0
), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
           CAST(a.n + b.n - len(list_intersect(a.s, b.s)) AS BIGINT)
               AS n_union
    FROM nonempty a JOIN nonempty b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, n_inter, n_union,
       n_inter / n_union AS jaccard
FROM pairs
WHERE {_SSJ_DEN} * n_inter >= {_SSJ_NUM} * n_union
ORDER BY id_a, id_b
"""


# L2o — CONTAINMENT join (asymmetric): ordered pairs where at least
# τ = 1/2 of the SOURCE doc's distinct 3-token shingles appear in the
# destination — the quote/subset detector Jaccard misses when lengths
# differ (a short doc quoted inside a long one has high containment
# but low Jaccard). Candidate generation is the containment form of
# the prefix filter: if containment(A→B) ≥ τ and B misses ALL of A's
# first p = n − ceil(τn) + 1 shingles, then inter ≤ ceil(τn) − 1 < τn
# — contradiction, so B shares ≥ 1 prefix shingle. Soundness is
# ORDER-independent; ordering the prefix rarest-df-first is the
# optimization that keeps the probe fan-out Σ df(prefix) small. The
# destination side probes the FULL inverted index (one equi-join on
# the shingle — linear in corpus size); |B| ≥ τ·|A| prunes before the
# exact array_intersect verify. The oracle is the O(n²) DEFINITIONAL
# form (list_intersect over all ordered pairs), deliberately NOT a
# translation of this derivation — independent evidence, not shared-
# shape agreement.
_CONT_NUM, _CONT_DEN, _CONT_K = 1, 2, 3


def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    def sh(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (_CONT_K - 1), F.lit(1)))
        g = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, _CONT_K)))
        return F.when(n >= _CONT_K, F.array_distinct(g)).otherwise(
            F.array().cast("array<string>")
        )

    sets = docs.select(
        "doc_id", bind_once(TXT.tokens("text"), sh).alias("s")
    ).filter(F.size("s") > 0)
    sized = sets.select("doc_id", F.size("s").cast("bigint").alias("n"), "s")
    # full inverted index; localCheckpoint: it feeds the df agg, the
    # prefix derivation AND the probe side — without truncation the
    # shingle explode re-runs three times (setsim discipline)
    tok = sized.select("doc_id", "n", F.explode("s").alias("g")).localCheckpoint()
    df_g = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    # prefix length n − ceil(τn) + 1 with ceil(n/2) = (n+1) div 2
    prefix = (
        tok.join(df_g, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({_CONT_NUM}*n + {_CONT_DEN - 1}) div {_CONT_DEN}")
            + 1
        )
        .select(
            F.col("doc_id").alias("src_id"), F.col("n").alias("n_src"), "g"
        )
    )
    cands = (
        prefix.join(
            tok.select(
                F.col("doc_id").alias("dst_id"), F.col("n").alias("n_dst"), "g"
            ),
            "g",
        )
        .filter(
            (F.col("src_id") != F.col("dst_id"))
            # |B| ≥ ceil(τ|A|): fewer dst shingles cannot cover τ of src
            & (_CONT_DEN * F.col("n_dst") >= _CONT_NUM * F.col("n_src"))
        )
        .select("src_id", "dst_id")
        .distinct()
    )
    va = cands.join(
        sets.select(F.col("doc_id").alias("src_id"), F.col("s").alias("sa")),
        "src_id",
    )
    vb = va.join(
        sets.select(F.col("doc_id").alias("dst_id"), F.col("s").alias("sb")),
        "dst_id",
    )
    scored = vb.select(
        "src_id",
        "dst_id",
        F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("n_inter"),
        F.size("sa").cast("bigint").alias("n_src"),
        F.size("sb").cast("bigint").alias("n_dst"),
    )
    return (
        scored.filter(_CONT_DEN * F.col("n_inter") >= _CONT_NUM * F.col("n_src"))
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.col("n_src").cast("double"),
        )
        .orderBy("src_id", "dst_id")
    )


DEDUP_CONTAINMENT_JOIN_SQL = f"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(LOWER(text), '[a-zA-Z]+') AS arr
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(list_slice(arr, i, i + {_CONT_K - 1}), ' ')
                          for i in generate_series(1, LEN(arr) - {_CONT_K - 1})]) AS s
    FROM toks WHERE LEN(arr) >= {_CONT_K}
), pairs AS (
    SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
           CAST(LEN(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
           CAST(LEN(a.s) AS BIGINT) AS n_src,
           CAST(LEN(b.s) AS BIGINT) AS n_dst
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
)
SELECT src_id, dst_id, n_inter, n_src, n_dst,
       CAST(n_inter AS DOUBLE) / CAST(n_src AS DOUBLE) AS containment
FROM pairs
WHERE {_CONT_DEN} * n_inter >= {_CONT_NUM} * n_src
ORDER BY src_id, dst_id
"""


# L2g — per-source duplicated-character fraction: the headline metric
# a span-dedup pass reports ("N% of source X is boilerplate"). Runs
# from dedup_span_runs can OVERLAP char-wise (two runs whose window
# positions are ≥2 strides apart still cover intersecting 64-char
# extents), so the char accounting needs an interval UNION — a second
# gaps-and-islands over (start, end) with a running max end deciding
# where a new merged interval begins. Exact integer char math all the
# way; dup_frac is one IEEE division per source.
def span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    runs = dedup_span_runs(spark, sf_dir).withColumn(
        "span_end", F.col("span_start") + F.col("span_len")
    )
    w = Window.partitionBy("doc_id").orderBy("span_start")
    prev_max = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        runs.withColumn(
            "is_new",
            F.when(
                prev_max.isNull() | (F.col("span_start") > prev_max), 1
            ).otherwise(0),
        )
        .withColumn(
            "ivl_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "ivl_id")
        .agg(
            (F.max("span_end") - F.min("span_start")).alias("ivl_len")
        )
    )
    dup_per_doc = merged.groupBy("doc_id").agg(
        F.sum("ivl_len").alias("dup_chars")
    )
    return (
        docs.select("doc_id", "source", F.length("text").cast("bigint").alias("n_chars"))
        .join(dup_per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.coalesce(F.col("dup_chars"), F.lit(0))).alias("dup_chars"),
        )
        .withColumn(
            "dup_frac",
            F.col("dup_chars").cast("double")
            / F.col("total_chars").cast("double"),
        )
        .orderBy("source")
    )


SPAN_DUP_STATS_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(FLOOR((LENGTH(text) - {_SPAN_L}) / {_SPAN_T}.0)
                    AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_SPAN_L}
), occ AS (
    SELECT doc_id, k * {_SPAN_T} + 1 AS pos,
           md5(substr(text, CAST(k * {_SPAN_T} + 1 AS INTEGER), {_SPAN_L}))
               AS span_hash
    FROM fanout
), dup AS (
    SELECT span_hash FROM occ GROUP BY span_hash HAVING COUNT(*) >= 2
), flagged AS (
    SELECT doc_id, pos FROM occ JOIN dup USING (span_hash)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w != {_SPAN_T} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
    FROM marked
), runs AS (
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + {_SPAN_L} AS span_end
    FROM numbered GROUP BY doc_id, run_id
), ivl_marked AS (
    SELECT doc_id, span_start, span_end,
           CASE WHEN MAX(span_end) OVER (PARTITION BY doc_id
                    ORDER BY span_start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR span_start > MAX(span_end) OVER (PARTITION BY doc_id
                    ORDER BY span_start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS is_new
    FROM runs
), ivl AS (
    SELECT doc_id, span_start, span_end,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY span_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ivl_id
    FROM ivl_marked
), merged AS (
    SELECT doc_id, MAX(span_end) - MIN(span_start) AS ivl_len
    FROM ivl GROUP BY doc_id, ivl_id
), dup_per_doc AS (
    SELECT doc_id, CAST(SUM(ivl_len) AS BIGINT) AS dup_chars
    FROM merged GROUP BY doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(d.text)) AS BIGINT) AS total_chars,
       CAST(SUM(COALESCE(p.dup_chars, 0)) AS BIGINT) AS dup_chars,
       CAST(SUM(COALESCE(p.dup_chars, 0)) AS DOUBLE)
           / CAST(SUM(LENGTH(d.text)) AS DOUBLE) AS dup_frac
FROM documents d LEFT JOIN dup_per_doc p USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


# L2h — SPAN EXCISION, the full Lee et al. (2022) cleaning pass: every
# duplicated window EXCEPT its corpus-wide canonical first occurrence
# (rank 1 by (doc_id, pos) within the hash) is cut from the text, and
# the cleaned document is REBUILT byte-exactly — per doc, the merged
# excision intervals' complement segments concatenate in order, and
# the output carries length + md5 of the reconstructed text, so the
# oracle hash-verifies the actual string surgery, not just counts.
# Scale shape: rank-1 selection is one window over (hash) — the same
# shuffle the span aggregate costs; interval merge is per-doc islands;
# the rebuild is per-doc segment concat (sort_array + aggregate —
# JVM-side, no Python), never a cross-doc operation.
def dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    eligible = docs.filter(F.length("text") >= _SPAN_L)
    last = F.floor((F.length("text") - _SPAN_L) / _SPAN_T)
    fanout = eligible.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    )
    occ = fanout.select(
        "doc_id",
        (F.col("k") * _SPAN_T + 1).alias("pos"),
        # internal hash -> 16-byte binary keys (see dedup_span_runs)
        F.unhex(
            F.md5(
                F.col("text").substr(
                    (F.col("k") * _SPAN_T + 1).cast("int"), F.lit(_SPAN_L)
                )
            )
        ).alias("span_hash"),
    )
    wh = Window.partitionBy("span_hash").orderBy("doc_id", "pos")
    flagged = (
        occ.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        flagged.withColumn(
            "is_new",
            F.when(
                F.lag("pos").over(wd).isNull()
                | (F.col("pos") - F.lag("pos").over(wd) != _SPAN_T),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("is_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").alias("r_start"),
            (F.max("pos") + _SPAN_L).alias("r_end"),  # exclusive
        )
    )
    ws = Window.partitionBy("doc_id").orderBy("r_start")
    prev_max = F.max("r_end").over(ws.rowsBetween(Window.unboundedPreceding, -1))
    ivls = (
        runs.withColumn(
            "is_new",
            F.when(prev_max.isNull() | (F.col("r_start") > prev_max), 1)
            .otherwise(0),
        )
        .withColumn(
            "ivl_id",
            F.sum("is_new").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "ivl_id")
        .agg(
            F.min("r_start").alias("ivl_start"),
            F.max("r_end").alias("ivl_end"),
        )
    )
    return _excise_rebuild(docs, ivls)


def _excise_rebuild(
    docs: DataFrame,
    ivls: DataFrame,
    keep_text: bool = False,
    ordered: bool = True,
    count_ivls: bool = False,
) -> DataFrame:
    """Byte-exact text surgery shared by the excision queries: given
    per-doc NON-OVERLAPPING excision intervals (doc_id, ivl_start,
    ivl_end) — 1-based char positions, exclusive end — cut them out
    and rebuild the cleaned string (complement segments concatenated
    in order via sort_array + aggregate, all JVM-side). Docs with no
    intervals pass through untouched via the left join.
    ``keep_text=True`` additionally returns the rebuilt text itself
    (``text_clean``) for consumers that materialize the cleaned
    corpus (operators/curation.py); the registry queries return only
    the md5 so the driver hash gate stays row-compact.
    ``count_ivls=True`` appends ``n_ivls`` (the per-doc interval
    count, 0 for untouched docs) derived from the rebuild's own
    aggregation; ``ordered=False`` skips the final global sort for
    sink consumers (both round-13, for the streaming scrub path)."""
    from pyspark.sql.window import Window

    # complement gaps in ONE window pass: each interval emits its
    # leading gap, and the last interval (row_number == count; non-
    # overlapping intervals make start-order = end-order, so its end
    # IS the max end) additionally emits the open-ended tail gap.
    # This replaces the union-with-groupBy formulation, whose separate
    # aggregation re-exchanged the interval frame a second time.
    wg = Window.partitionBy("doc_id").orderBy("ivl_start")
    wall = Window.partitionBy("doc_id")
    staged = ivls.select(
        "doc_id",
        "ivl_start",
        "ivl_end",
        F.coalesce(F.lag("ivl_end").over(wg), F.lit(1)).alias("prev_end"),
        (
            F.row_number().over(wg) == F.count(F.lit(1)).over(wall)
        ).alias("is_last"),
    )
    lead_gap = F.struct(
        F.col("prev_end").alias("gs"), F.col("ivl_start").alias("ge")
    )
    tail_gap = F.struct(
        F.col("ivl_end").alias("gs"), F.lit(None).cast("long").alias("ge")
    )
    gaps = staged.select(
        "doc_id",
        F.explode(
            F.when(F.col("is_last"), F.array(lead_gap, tail_gap)).otherwise(
                F.array(lead_gap)
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.gs").alias("gs"), F.col("g.ge").alias("ge"))
    segs = gaps.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "gs",
        F.col("text").substr(
            F.col("gs").cast("int"),
            (
                F.coalesce(F.col("ge"), F.length("text") + 1) - F.col("gs")
            ).cast("int"),
        ).alias("seg"),
    )
    rebuilt = segs.groupBy("doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gs", "seg"))),
                lambda s: s["seg"],
            ),
            F.lit(""),
            lambda acc, s: F.concat(acc, s),
        ).alias("cleaned"),
        # every interval emits exactly one lead gap and the last emits
        # one extra tail gap, so segs-per-doc = n_ivls + 1: the interval
        # count falls out of the SAME aggregation — sink consumers that
        # report a per-doc span count (pii_scrub_ingest_sink) get it
        # without a second agg + join over the detect plan (round-13)
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_ivls"),
    )
    cols = [
        F.col("doc_id"),
        F.col("n_chars"),
        F.length(F.coalesce("cleaned", "text")).cast("bigint").alias(
            "kept_chars"
        ),
        F.md5(F.coalesce("cleaned", "text")).alias("cleaned_md5"),
    ]
    if count_ivls:
        cols.append(F.coalesce("n_ivls", F.lit(0)).alias("n_ivls"))
    if keep_text:
        cols.append(F.coalesce("cleaned", "text").alias("text_clean"))
    joined = (
        docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"), "text")
        .join(rebuilt, "doc_id", "left")
        .select(*cols)
    )
    # ordered=False skips the global sort (a range-exchange plus its
    # sampling pass) for sink consumers that land the frame in a table
    # — per-MICRO-BATCH that sort is a whole extra job (round-13)
    return joined.orderBy("doc_id") if ordered else joined


# L2h-excise — the cleaning pass for the EXACT variable-length family:
# every duplicated L-gram occurrence except its corpus-wide canonical
# first (rank 1 by (doc_id, pos) within the hash) is excised, flagged
# positions chain into intervals by gap>L islands (all intervals share
# length L, so islands ARE the interval union — no running-max pass),
# and the cleaned text is rebuilt byte-exactly with md5 verification.
# This is dedup_span_excise with the stride-16 approximation removed:
# the excised character set is exactly the non-canonical cover of
# duplicated substrings of length ≥ L (same theorem as
# dedup_span_exact_extents). Scale shape identical: one md5-keyed
# window shuffle (~32× the SCREENED docs' bytes — the winnowing
# screen keeps the exactness price off the clean bulk of the corpus),
# per-doc islands, per-doc rebuild, zero Python, no pair expansion.
def dedup_span_exact_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return exact_span_excise_frame(docs)


def exact_span_excise_frame(docs: DataFrame) -> DataFrame:
    """Exact-excision core over an arbitrary documents frame (doc_id,
    text, ...): returns (doc_id, n_chars, kept_chars, cleaned_md5).
    The duplicate universe is the INPUT frame — callers that gate the
    corpus first (pipeline_span_clean) get excision relative to the
    gated corpus, mirrored in their oracles.

    The stride-1 fan-out runs only over winnow-screened documents
    (_winnow_screen_ids).  Output is unchanged: all occurrences of any
    duplicated L-gram live in screened docs (soundness proof on the
    screen), so the rank-1-per-hash canonical ordering over screened
    occurrences equals the global one, and unscreened docs flow
    through _excise_rebuild with no intervals — i.e. untouched."""
    from pyspark.sql.window import Window

    eligible = _screen_eligible(docs.filter(F.length("text") >= _LDS_L))
    last = (F.length("text") - _LDS_L).cast("bigint")
    fanout = eligible.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    )
    occ = fanout.select(
        "doc_id",
        (F.col("k") + 1).alias("pos"),
        # internal hash -> 16-byte binary keys (see dedup_span_runs)
        F.unhex(
            F.md5(
                F.col("text").substr(
                    (F.col("k") + 1).cast("int"), F.lit(_LDS_L)
                )
            )
        ).alias("gram_hash"),
    )
    wh = Window.partitionBy("gram_hash").orderBy("doc_id", "pos")
    flagged = (
        occ.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    ivls = (
        flagged.withColumn(
            "is_new",
            F.when(
                F.lag("pos").over(wd).isNull()
                | (F.col("pos") - F.lag("pos").over(wd) > _LDS_L),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "ivl_id",
            F.sum("is_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "ivl_id")
        .agg(
            F.min("pos").alias("ivl_start"),
            (F.max("pos") + _LDS_L).alias("ivl_end"),  # exclusive
        )
    )
    return _excise_rebuild(docs, ivls)


DEDUP_SPAN_EXACT_EXCISE_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(LENGTH(text) - {_LDS_L} AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_LDS_L}
), occ AS (
    SELECT doc_id, k + 1 AS pos,
           md5(substr(text, CAST(k + 1 AS INTEGER), {_LDS_L})) AS gram_hash
    FROM fanout
), flagged AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY gram_hash
                                  ORDER BY doc_id, pos) AS rn
        FROM occ
    ) WHERE rn >= 2
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_LDS_L} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ivl_id
    FROM marked
), ivls AS (
    SELECT doc_id, MIN(pos) AS ivl_start, MAX(pos) + {_LDS_L} AS ivl_end
    FROM numbered GROUP BY doc_id, ivl_id
), gaps AS (
    SELECT doc_id,
           COALESCE(LAG(ivl_end) OVER (PARTITION BY doc_id
                                       ORDER BY ivl_start), 1) AS gs,
           ivl_start AS ge
    FROM ivls
    UNION ALL
    SELECT doc_id, MAX(ivl_end) AS gs, NULL AS ge
    FROM ivls GROUP BY doc_id
), segs AS (
    SELECT g.doc_id, g.gs,
           substr(d.text, CAST(g.gs AS INTEGER),
                  CAST(COALESCE(g.ge, LENGTH(d.text) + 1) - g.gs AS INTEGER))
               AS seg
    FROM gaps g JOIN documents d USING (doc_id)
), rebuilt AS (
    SELECT doc_id, STRING_AGG(seg, '' ORDER BY gs) AS cleaned
    FROM segs GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
       CAST(LENGTH(COALESCE(r.cleaned, d.text)) AS BIGINT) AS kept_chars,
       md5(COALESCE(r.cleaned, d.text)) AS cleaned_md5
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


DEDUP_SPAN_EXCISE_SQL = f"""
WITH fanout AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CAST(FLOOR((LENGTH(text) - {_SPAN_L}) / {_SPAN_T}.0)
                    AS BIGINT))) AS k
    FROM documents
    WHERE LENGTH(text) >= {_SPAN_L}
), occ AS (
    SELECT doc_id, k * {_SPAN_T} + 1 AS pos,
           md5(substr(text, CAST(k * {_SPAN_T} + 1 AS INTEGER), {_SPAN_L}))
               AS span_hash
    FROM fanout
), flagged AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY span_hash
                                  ORDER BY doc_id, pos) AS rn
        FROM occ
    ) WHERE rn >= 2
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w != {_SPAN_T} THEN 1
                ELSE 0 END AS is_new
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
    SELECT doc_id, pos,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
    FROM marked
), runs AS (
    SELECT doc_id, MIN(pos) AS r_start, MAX(pos) + {_SPAN_L} AS r_end
    FROM numbered GROUP BY doc_id, run_id
), ivl_marked AS (
    SELECT doc_id, r_start, r_end,
           CASE WHEN MAX(r_end) OVER wp IS NULL
                  OR r_start > MAX(r_end) OVER wp THEN 1 ELSE 0 END AS is_new
    FROM runs
    WINDOW wp AS (PARTITION BY doc_id ORDER BY r_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), ivl_numbered AS (
    SELECT doc_id, r_start, r_end,
           SUM(is_new) OVER (PARTITION BY doc_id ORDER BY r_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ivl_id
    FROM ivl_marked
), ivls AS (
    SELECT doc_id, MIN(r_start) AS ivl_start, MAX(r_end) AS ivl_end
    FROM ivl_numbered GROUP BY doc_id, ivl_id
), gaps AS (
    SELECT doc_id,
           COALESCE(LAG(ivl_end) OVER (PARTITION BY doc_id
                                       ORDER BY ivl_start), 1) AS gs,
           ivl_start AS ge
    FROM ivls
    UNION ALL
    SELECT doc_id, MAX(ivl_end) AS gs, NULL AS ge
    FROM ivls GROUP BY doc_id
), segs AS (
    SELECT g.doc_id, g.gs,
           substr(d.text, CAST(g.gs AS INTEGER),
                  CAST(COALESCE(g.ge, LENGTH(d.text) + 1) - g.gs AS INTEGER))
               AS seg
    FROM gaps g JOIN documents d USING (doc_id)
), rebuilt AS (
    SELECT doc_id, STRING_AGG(seg, '' ORDER BY gs) AS cleaned
    FROM segs GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
       CAST(LENGTH(COALESCE(r.cleaned, d.text)) AS BIGINT) AS kept_chars,
       md5(COALESCE(r.cleaned, d.text)) AS cleaned_md5
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# PII SPAN FAMILY — detection as exact character extents + byte-exact
# excision. The scrub stage a pretraining pipeline runs before
# tokenization (C4/RefinedWeb-class), and the faithful extension of
# the reference's data model: its CRM export schema
# (reference schemas/prospects.json) is full of real PII columns
# (emails, phone numbers), so a redaction operator is the natural
# counterpart on the document side. Four detectors: email, phone,
# IPv4 (octet-bounded), and credit card (dashed 4-4-4-4 shape AND the
# Luhn checksum as exact integer arithmetic — round-12; a card-shaped
# token failing Luhn must NOT match).
#
# The synthetic corpus carries no natural PII, so the queries run on
# the same deterministic contaminated view as pii_redact
# (queries/sqlplus.py — docs with doc_id%3==0 gain an email, %3==1 a
# phone), extended with an IPv4 plant on doc_id%5==0 — the mods are
# coprime, so some docs carry TWO pii types and the extents output
# exercises multi-span docs. Both engines construct byte-identical
# inputs from doc_id alone.
#
# Span derivation is a TOKEN-LEVEL SCAN, not regex position
# extraction: Spark has no all-match-positions function and Java vs
# RE2 offset semantics would be an untestable seam. The corpus is
# space-tokenized (posexplode/UNNEST with 1-based index i); token i's
# char start is i + sum(len of prior tokens) — exact because split
# on ' ' preserves every byte (empty tokens included) — and a token
# is PII iff an ANCHORED regex full-matches it. Anchored full-token
# matching is the one regex contract Java and RE2 interpret
# identically for these character-class patterns (no backrefs, no
# lookaround).
#
# Scale shape: a regex SCREEN (the unanchored union) gates the token
# fan-out — on a mostly-clean corpus only docs containing a candidate
# substring pay the explode + per-doc position window (winnowing-
# screen discipline; sound because an anchored token match implies an
# unanchored substring match on the doc). The window is per-doc
# (partition = doc), the classification is whole-stage-codegen JVM
# regex, and excision reuses _excise_rebuild (token spans are
# disjoint by construction, satisfying its non-overlap contract).
# pii_redact (sqlplus.py) remains the mask-style tier; this family
# reports WHERE (audit extents) and cuts byte-exactly (md5-verified).
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_OCTET = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_PII_IPV4 = f"{_PII_OCTET}(\\.{_PII_OCTET}){{3}}"
_PII_CC = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
_PII_UNION = f"{_PII_EMAIL}|{_PII_PHONE}|{_PII_IPV4}|{_PII_CC}"


# Round-12 (VERDICT r11 #7): credit-card detector = SHAPE (dashed
# 4-4-4-4 digit groups — disjoint from the 3-3-4 phone shape) AND the
# Luhn checksum as exact integer arithmetic. The checksum is the
# cross-engine-safe discipline: digits come from ascii(substr(..))-48
# (never an ANSI-mode cast that could error on junk; rpad(.,16,'0')
# bounds every substr), doubling is the branch-free CASE d>4 form, and
# the same generated SQL text runs in Spark (F.expr) and DuckDB. A
# card-SHAPED token failing Luhn must NOT match — pinned by the
# doc_id%7==3 invalid plant and the replica test.
def _luhn_sum_sql(s: str, ndigits: int) -> str:
    """Engine-shared SQL text for the Luhn sum of ``s`` (a digit-string
    expression, left-aligned within a 16-digit number): position j
    from the left is doubled iff j is odd (= even position from the
    right of the full 16)."""
    terms = []
    for j in range(1, ndigits + 1):
        d = f"(ascii(substr({s}, {j}, 1)) - 48)"
        if j % 2 == 1:
            terms.append(f"(CASE WHEN {d} > 4 THEN 2*{d} - 9 ELSE 2*{d} END)")
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


def _luhn_sum_col(s: Column, ndigits: int) -> Column:
    """Column form of :func:`_luhn_sum_sql` — same arithmetic, built
    from ascii/substring so no ANSI cast can error on non-digits."""
    total = F.lit(0)
    for j in range(1, ndigits + 1):
        d = F.ascii(F.substring(s, j, 1)) - F.lit(48)
        term = (
            F.when(d > 4, d * 2 - 9).otherwise(d * 2) if j % 2 == 1 else d
        )
        total = total + term
    return total


def _pii_cdocs(docs: DataFrame) -> DataFrame:
    """Deterministic planted-PII view as a (doc_id, ctext) FRAME
    (byte-identical to the oracle's CTE): email/phone plants mirror
    pii_redact's, plus an IPv4 tail on doc_id%5==0 (octets derived
    from doc_id, all <= 255).

    Round-13 codegen-size discipline: every reused intermediate
    (base text, ip-tailed text, check digits, the two card strings)
    is BOUND AS A REAL COLUMN, so each reuse is an attribute
    reference.  The previous single-Column construction duplicated
    subtrees multiplicatively at build time (base ×6 through the
    nested CASEs, the 9-term Luhn plant sum ×8 through the four
    substr positions of both card variants) — on the excise/streaming
    path, which references the contaminated view in three subtrees,
    that produced 1.2–2.4 MiB task binaries recompiled by Janino
    EVERY micro-batch (the round-12 fix had reached only
    pii_extents).  Catalyst's CollapseProject keeps multi-referenced
    non-cheap aliases as attributes, so the bound form survives
    optimization."""
    base = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
    )
    ip = F.concat(
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        F.expr("(doc_id % 65536) div 256").cast("string"),
        F.lit("."),
        (F.col("doc_id") % 251).cast("string"),
    )
    # credit-card plants (doc_id%7==0 Luhn-VALID, %7==3 Luhn-INVALID —
    # the invalid one is card-shaped but must never be detected); 3/5/7
    # coprime, so docs carry up to three pii types.
    #
    # The plant's Luhn sum is computed ARITHMETICALLY from doc_id's
    # decimal digits, not from the card string: a string-based
    # formulation nests the b15 concat tree inside 15 substr terms and
    # duplicates it ~6x across check-digit/dashed variants — the
    # resulting megabyte-scale codegen cost ~3.5 s of Janino compile
    # per run (round-12 bench regression, found and fixed). b15's
    # fixed prefix "400000" contributes f(2*4) = 8; the 9 digits of
    # m = doc_id % 1e9 sit at positions 7..15 of the 16-digit number,
    # odd positions doubled.
    m = F.col("doc_id") % 1000000000
    s15 = F.lit(8)
    for k in range(1, 10):  # D_k = k-th decimal digit of m, D1 most sig
        d = F.expr(
            f"((doc_id % 1000000000) div {10 ** (9 - k)}) % 10"
        )
        s15 = s15 + (
            F.when(d > 4, d * 2 - 9).otherwise(d * 2) if k % 2 == 1 else d
        )

    def _dashed(cc: Column) -> Column:
        return F.concat_ws(
            "-",
            F.substring(cc, 1, 4),
            F.substring(cc, 5, 4),
            F.substring(cc, 9, 4),
            F.substring(cc, 13, 4),
        )

    staged = (
        docs.select("doc_id", "text")
        .withColumn("_pbase", base)
        .withColumn(
            "_pwithip",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("_pbase"), ip)
            ).otherwise(F.col("_pbase")),
        )
        .withColumn("_pchk_v", (F.lit(10) - (s15 % 10)) % 10)
        .withColumn("_pchk_i", (F.col("_pchk_v") + 1) % 10)
        .withColumn(
            "_pcc_v",
            F.concat(
                F.lit("400000"),
                F.lpad(m.cast("string"), 9, "0"),
                F.col("_pchk_v").cast("string"),
            ),
        )
        .withColumn(
            "_pcc_i",
            F.concat(
                F.lit("400000"),
                F.lpad(m.cast("string"), 9, "0"),
                F.col("_pchk_i").cast("string"),
            ),
        )
        .withColumn(
            "ctext",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.col("_pwithip"),
                    F.lit(" pay "),
                    _dashed(F.col("_pcc_v")),
                ),
            )
            .when(
                F.col("doc_id") % 7 == 3,
                F.concat(
                    F.col("_pwithip"),
                    F.lit(" pay "),
                    _dashed(F.col("_pcc_i")),
                ),
            )
            .otherwise(F.col("_pwithip")),
        )
    )
    return staged.select("doc_id", "ctext")


def _pii_spans(cdocs: DataFrame) -> DataFrame:
    """Typed PII token spans over a (doc_id, ctext) frame: returns
    (doc_id, pii_type, span_start, span_len, matched) with 1-based
    char starts. Shared by pii_extents and pii_excise."""
    from pyspark.sql.window import Window

    screened = cdocs.filter(F.col("ctext").rlike(_PII_UNION))
    toks = screened.select(
        "doc_id", F.posexplode(F.split("ctext", " ")).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    w = Window.partitionBy("doc_id").orderBy("i")
    pos = toks.withColumn(
        "span_start",
        (
            F.col("i")
            + F.coalesce(
                F.sum(F.length("tok")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).cast("bigint"),
    )
    # cc16 is bound as a REAL column first: each of the 16 Luhn digit
    # terms then references the attribute instead of re-inlining the
    # rpad/replace tree 16x (codegen-size discipline — see the plant
    # comment in _pii_ctext)
    cc16 = F.col("cc16")
    return (
        pos.withColumn(
            "cc16", F.expr("rpad(replace(tok, '-', ''), 16, '0')")
        )
        .withColumn(
            "pii_type",
            F.when(F.col("tok").rlike(f"^{_PII_EMAIL}$"), F.lit("email"))
            .when(F.col("tok").rlike(f"^{_PII_PHONE}$"), F.lit("phone"))
            .when(F.col("tok").rlike(f"^{_PII_IPV4}$"), F.lit("ipv4"))
            .when(
                F.col("tok").rlike(f"^{_PII_CC}$")
                & ((_luhn_sum_col(cc16, 16) % 10) == 0),
                F.lit("ccard"),
            ),
        )
        .filter(F.col("pii_type").isNotNull())
        .select(
            "doc_id",
            "pii_type",
            "span_start",
            F.length("tok").cast("bigint").alias("span_len"),
            F.col("tok").alias("matched"),
        )
    )


def pii_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cdocs = _pii_cdocs(docs)
    # checkpoint-before-sort (round-14 optimization, the
    # gopher_dupgram_coverage pattern): the final orderBy's range
    # sampler evaluates the whole span derivation — token explode,
    # per-doc position window, four anchored regexes — once for the
    # boundaries and again for the sort (two stages each reading the
    # window exchange, measured). The checkpointed relation is the
    # span OUTPUT (a handful of typed extents per planted doc), so the
    # derivation runs once at any corpus size.
    return _pii_spans(cdocs).localCheckpoint().orderBy("doc_id", "span_start")


def pii_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cdocs = _pii_cdocs(docs)
    ivls = _pii_spans(cdocs).select(
        "doc_id",
        F.col("span_start").alias("ivl_start"),
        (F.col("span_start") + F.col("span_len")).alias("ivl_end"),
    )
    return _excise_rebuild(cdocs.withColumnRenamed("ctext", "text"), ivls)


_PII_CTEXT_CTES = f"""base AS (
    SELECT doc_id,
           CASE
             WHEN doc_id % 3 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
             WHEN doc_id % 3 = 1 THEN
               text || ' call 555-'
                    || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                    || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text
           END AS btext
    FROM documents
), withip AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN
               btext || ' from 10.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST((doc_id % 65536) // 256 AS VARCHAR) || '.'
                     || CAST(doc_id % 251 AS VARCHAR)
           ELSE btext END AS itext
    FROM base
), ccb AS (
    SELECT doc_id,
           '400000' || LPAD(CAST(doc_id % 1000000000 AS VARCHAR), 9, '0')
               AS b15
    FROM documents
), ccs AS (
    SELECT doc_id, b15, {_luhn_sum_sql('b15', 15)} AS s15 FROM ccb
), ccf AS (
    SELECT doc_id,
           b15 || CAST((10 - (s15 % 10)) % 10 AS VARCHAR) AS ccv,
           b15 || CAST((10 - (s15 % 10) + 1) % 10 AS VARCHAR) AS cci
    FROM ccs
), contaminated AS (
    SELECT w.doc_id,
           CASE WHEN w.doc_id % 7 = 0 THEN w.itext || ' pay '
                     || substr(c.ccv, 1, 4) || '-' || substr(c.ccv, 5, 4)
                     || '-' || substr(c.ccv, 9, 4) || '-'
                     || substr(c.ccv, 13, 4)
                WHEN w.doc_id % 7 = 3 THEN w.itext || ' pay '
                     || substr(c.cci, 1, 4) || '-' || substr(c.cci, 5, 4)
                     || '-' || substr(c.cci, 9, 4) || '-'
                     || substr(c.cci, 13, 4)
           ELSE w.itext END AS ctext
    FROM withip w JOIN ccf c USING (doc_id)
)"""

_PII_SPANS_CTES = f"""{_PII_CTEXT_CTES}, toks AS (
    SELECT doc_id, i, arr[i] AS tok
    FROM (SELECT doc_id, string_split(ctext, ' ') AS arr
          FROM contaminated
          WHERE regexp_matches(ctext, '{_PII_UNION}')),
         UNNEST(generate_series(1, LEN(arr))) AS t(i)
), pos AS (
    SELECT doc_id, tok,
           CAST(i + COALESCE(SUM(LENGTH(tok)) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS span_start
    FROM toks
), typed AS (
    SELECT doc_id,
           CASE WHEN regexp_matches(tok, '^{_PII_EMAIL}$') THEN 'email'
                WHEN regexp_matches(tok, '^{_PII_PHONE}$') THEN 'phone'
                WHEN regexp_matches(tok, '^{_PII_IPV4}$') THEN 'ipv4'
                WHEN regexp_matches(tok, '^{_PII_CC}$')
                     AND ({_luhn_sum_sql(
                         "rpad(replace(tok, '-', ''), 16, '0')", 16
                     )}) % 10 = 0
                THEN 'ccard'
           END AS pii_type,
           span_start,
           CAST(LENGTH(tok) AS BIGINT) AS span_len,
           tok AS matched
    FROM pos
)"""

PII_EXTENTS_SQL = f"""
WITH {_PII_SPANS_CTES}
SELECT doc_id, pii_type, span_start, span_len, matched
FROM typed
WHERE pii_type IS NOT NULL
ORDER BY doc_id, span_start
"""

PII_EXCISE_SQL = f"""
WITH {_PII_SPANS_CTES}, ivls AS (
    SELECT doc_id, span_start AS ivl_start,
           span_start + span_len AS ivl_end
    FROM typed WHERE pii_type IS NOT NULL
), gaps AS (
    SELECT doc_id,
           COALESCE(LAG(ivl_end) OVER (PARTITION BY doc_id
                                       ORDER BY ivl_start), 1) AS gs,
           ivl_start AS ge
    FROM ivls
    UNION ALL
    SELECT doc_id, MAX(ivl_end) AS gs, NULL AS ge
    FROM ivls GROUP BY doc_id
), segs AS (
    SELECT g.doc_id, g.gs,
           substr(d.ctext, CAST(g.gs AS INTEGER),
                  CAST(COALESCE(g.ge, LENGTH(d.ctext) + 1) - g.gs AS INTEGER))
               AS seg
    FROM gaps g JOIN contaminated d USING (doc_id)
), rebuilt AS (
    SELECT doc_id, STRING_AGG(seg, '' ORDER BY gs) AS cleaned
    FROM segs GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(LENGTH(d.ctext) AS BIGINT) AS n_chars,
       CAST(LENGTH(COALESCE(r.cleaned, d.ctext)) AS BIGINT) AS kept_chars,
       md5(COALESCE(r.cleaned, d.ctext)) AS cleaned_md5
FROM contaminated d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "pii_extents": QuerySpec(
        pii_extents, PII_EXTENTS_SQL, tags=("L4", "L2", "F1", "W3"),
        bench=True,
        doc="PII detection as exact char-span extents (email/phone/"
        "octet-bounded IPv4/Luhn-checked credit card) via an "
        "anchored-regex token scan; regex screen gates the fan-out; "
        "planted deterministic PII (the corpus carries none) mirrors "
        "pii_redact's construction + IPv4 and Luhn-valid/invalid card "
        "plants (coprime mods) so docs carry multiple pii types and "
        "shape-only card tokens are provably rejected",
    ),
    "pii_excise": QuerySpec(
        pii_excise, PII_EXCISE_SQL, tags=("L4", "L2", "F1"),
        doc="PII scrub pass: every detected span cut from the "
        "contaminated corpus and the text rebuilt byte-exactly "
        "(md5-verified) via _excise_rebuild; clean docs pass through",
    ),
    "dedup_span_excise": QuerySpec(
        dedup_span_excise, DEDUP_SPAN_EXCISE_SQL, tags=("L2", "L1", "W3", "F1"),
        doc="Lee-et-al span excision: canonical first occurrence kept, "
        "cleaned text rebuilt and md5-verified byte-exactly",
    ),
    "span_dup_stats": QuerySpec(
        span_dup_stats, SPAN_DUP_STATS_SQL, tags=("L2", "A2", "W3"),
        doc="per-source duplicated-char fraction: interval-union over "
        "span runs, exact char accounting",
    ),
    "dedup_span_runs": QuerySpec(
        dedup_span_runs, DEDUP_SPAN_RUNS_SQL, tags=("L2", "L1", "W3"),
        doc="maximal duplicated char ranges per doc: flagged stride "
        "windows chained via gaps-and-islands",
    ),
    "dedup_span_exact_extents": QuerySpec(
        dedup_span_exact_extents, DEDUP_SPAN_EXACT_EXTENTS_SQL,
        tags=("L2", "L1", "W3"), bench=True,
        doc="exact Lee-et-al variable-length duplicated extents: "
        "stride-1 L-gram fingerprints reproduce the suffix-array "
        "answer; gap>L islands = interval union",
    ),
    "decontaminate_extents": QuerySpec(
        decontaminate_extents, DECONTAMINATE_EXTENTS_SQL,
        tags=("L2", "L1", "L4", "W3"), bench=True,
        doc="span-level decontamination: exact character extents of "
        "eval-set text inside train docs (+ distinct eval docs hit), "
        "cross-set winnowing screen gates the stride-1 fan-out",
    ),
    "decontaminate_excise": QuerySpec(
        decontaminate_excise, DECONTAMINATE_EXCISE_SQL,
        tags=("L2", "L1", "L4", "F1"),
        doc="span-level decontamination cleaning pass: every eval "
        "extent cut from the train corpus, text rebuilt byte-exactly "
        "(md5-verified); untouched train docs pass through",
    ),
    "decontaminate_semantic": QuerySpec(
        decontaminate_semantic, _DECONTAMINATE_SEMANTIC_SQL,
        tags=("L2", "L3", "W1"), bench=True,
        doc="embedding tier of the decon family (catches paraphrased "
        "leakage the n-gram and BM25 tiers miss): eval vectors "
        "(vec_id%7==0) probe train vectors through the oracle-parity "
        "SRP bands, exact-integer tau-gate, closest-eval argmax per "
        "contaminated train vector; full-replica oracle",
    ),
    "decontaminate_semantic_ivf": QuerySpec(
        decontaminate_semantic_ivf, None, tags=("L2", "L3", "W1"),
        doc="semantic decon SCALE tier (cross-set semdedup_ivf "
        "handoff): train-side k-means cells (k = n/125 from the "
        "parquet footer), eval vectors probe their argmax cell, "
        "identical exact-integer tau-gate and closest-eval argmax as "
        "the oracle-parity tier; rows-only (Lloyd is "
        "float-iterative), planted-paraphrase recall pytest-pinned; "
        "SCALING.md carries the 10x contrast to the SRP tier's "
        "band-space saturation",
    ),
    "decontaminate_semantic_ivf_check": QuerySpec(
        decontaminate_semantic_ivf_check, DECONTAMINATE_SEMANTIC_IVF_CHECK_SQL,
        tags=("L2", "L3", "A1"),
        doc="oracled soundness certificate for the rows-only IVF decon "
        "tier: brute-force cross-set tau universe + SRP-tier flagged "
        "count from data, zero-violation invariants (every flagged "
        "(train, eval) pair is exact-tau-sound from a fresh scan and "
        "its reported cosine bit-matches the recomputation)",
    ),
    "semdedup_ivf_check_sampled": QuerySpec(
        semdedup_ivf_check_sampled, SEMDEDUP_IVF_CHECK_SAMPLED_SQL,
        tags=("L2", "L3", "A1"), bench=True,
        doc="scale-mode IVF-dedup certificate: violation detectors "
        "exhaustive and O(emitted) (every emitted/mate pair exactly "
        "re-verified against a fresh quantized scan - no universe "
        "materialization), universe anchor on the deterministic "
        "id%S sample with S = max(4, n/500) derived from the corpus "
        "(the _ivf_k convention) so the sampled side stays ~500 "
        "vectors and the anchor cost is CONSTANT; S=4 at driver "
        "scales (anchors non-vacuous); full-universe form stays the "
        "sf0.01 gate; SCALING.md carries the 10x-embeddings contrast "
        "to the full certificate's quadratic",
    ),
    "decontaminate_semantic_ivf_check_sampled": QuerySpec(
        decontaminate_semantic_ivf_check_sampled,
        DECONTAMINATE_SEMANTIC_IVF_CHECK_SAMPLED_SQL,
        tags=("L2", "L3", "A1"),
        doc="scale-mode IVF-decon certificate: every flagged (train, "
        "eval) pair exactly re-verified in O(flagged) (tau gate + "
        "bit-identical cosine), cross-set universe anchor on the "
        "corpus-derived id%S sample (S = max(4, n/500))",
    ),
    "decontamination_report_ivf": QuerySpec(
        decontamination_report_ivf, None,
        tags=("L2", "L3", "L4", "J4"), bench=True,
        doc="the per-train-doc decon audit on its SCALE path: semantic "
        "leg swapped to the IVF tier (the evidenced semdedup/decon "
        "handoff), extents/ngram tiers byte-identical to the oracled "
        "report; rows-only (Lloyd), leg soundness carried by "
        "decontaminate_semantic_ivf_check, 10x composition point in "
        "SCALING.md on the combined documents+embeddings slice",
    ),
    "decontamination_report": QuerySpec(
        decontamination_report, DECONTAMINATION_REPORT_SQL,
        tags=("L2", "L3", "L4", "J4"), bench=True,
        doc="per-train-doc audit composing ALL THREE decon tiers (char "
        "extents, shared token 4-grams, closest eval embedding) + the "
        "any-tier verdict; each tier is its own oracled derivation and "
        "the composed oracle nests the three tier oracles as CTEs, so "
        "the hash gate certifies the composition end-to-end",
    ),
    "dedup_span_exact_excise": QuerySpec(
        dedup_span_exact_excise, DEDUP_SPAN_EXACT_EXCISE_SQL,
        tags=("L2", "L1", "W3", "F1"),
        doc="exact variable-length excision: non-canonical duplicated "
        "cover cut, cleaned text rebuilt byte-exactly and md5-verified",
    ),
    "winnow_fingerprints": QuerySpec(
        winnow_fingerprints, WINNOW_FINGERPRINTS_SQL,
        tags=("L2", "L1", "W3"),
        doc="MOSS winnowing: rightmost-minimal k-gram hash per window, "
        "2/(w+1) density with a >=w+k-1 match-recall guarantee; "
        "encoded-string min is bit-identical cross-engine",
    ),
    "dedup_token_spans": QuerySpec(
        dedup_token_spans, DEDUP_TOKEN_SPANS_SQL,
        tags=("L2", "L1", "W3", "F6"),
        doc="token-level Lee-et-al span dedup: whitespace-canonical "
        "T-token windows, exact covering theorem in token coordinates",
    ),
    "dedup_span_incremental": QuerySpec(
        dedup_span_incremental, DEDUP_SPAN_INCREMENTAL_SQL,
        tags=("L2", "L1", "J5", "W3", "T6"),
        doc="incremental span dedup: new-batch extents flagged against "
        "a historical gram-hash store (history text never re-read) "
        "plus in-batch repeats",
    ),
    "dedup_containment_join": QuerySpec(
        dedup_containment_join, DEDUP_CONTAINMENT_JOIN_SQL,
        tags=("L2", "J1", "W1"),
        doc="asymmetric shingle-containment join (quote/subset "
        "detection): rarest-first prefix candidates vs the full "
        "inverted index, exact verify; O(n^2) DEFINITIONAL oracle "
        "(independent of the derivation, not a translation)",
    ),
    "dedup_setsim_join": QuerySpec(
        dedup_setsim_join, DEDUP_SETSIM_JOIN_SQL,
        tags=("L2", "J1", "W1", "F6"),
        doc="exact Jaccard>=0.9 set-similarity self-join via PPJoin "
        "prefix filtering (rarest-token prefixes, integer verify); "
        "oracle is the O(n^2) exact pair join",
    ),
    "pipeline_span_clean": QuerySpec(
        pipeline_span_clean, PIPELINE_SPAN_CLEAN_SQL,
        tags=("L2", "L1", "L4", "P5", "A2", "F1"),
        doc="composite cleaning: lang gate -> exact span excision over "
        "the gated corpus -> drop short/mostly-dup remnants -> "
        "per-source yield report, integer-exact",
    ),
    "text_chunk_windows": QuerySpec(
        text_chunk_windows, TEXT_CHUNK_WINDOWS_SQL, tags=("L4", "F6"),
        doc="RAG chunking: overlapping fixed windows via zero-shuffle "
        "sequence+explode fan-out",
    ),
    "dedup_substring_spans": QuerySpec(
        dedup_substring_spans, DEDUP_SUBSTRING_SPANS_SQL,
        tags=("L2", "L1"), bench=True,
        doc="span-level exact substring dedup (Lee et al. shape): "
        "64-char windows recurring across ≥2 docs",
    ),
    "pipeline_clean_corpus": QuerySpec(
        pipeline_clean_corpus, PIPELINE_CLEAN_CORPUS_SQL,
        tags=("L1", "L4", "P5", "A2"), bench=True,
        doc="end-to-end corpus cleaning: gates → dedup → yield stats",
    ),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL, tags=("L1",), bench=True),
    "dedup_incremental": QuerySpec(
        dedup_incremental, DEDUP_INCREMENTAL_SQL, tags=("L1", "J6", "T6"),
        doc="new batch vs signature store, no history reprocessing",
    ),
    "compression_ratio": QuerySpec(
        compression_ratio, None, tags=("L4", "UDTF"),
        doc="zlib compression-ratio quality signal, zero-shuffle",
    ),
    "dedup_incremental_minhash": QuerySpec(
        dedup_incremental_minhash, _DEDUP_INC_MINHASH_SQL,
        tags=("L2", "T6"),
        doc="new-batch near-dup vs historical signature store (no "
        "text), oracle-parity signature-agreement estimator",
    ),
    "text_stats": QuerySpec(text_stats, TEXT_STATS_SQL, tags=("L4",), bench=True),
    "text_tokens_bpe": QuerySpec(
        text_tokens_bpe, TEXT_TOKENS_BPE_SQL, tags=("L4", "F1")
    ),
    "lang_filter": QuerySpec(lang_filter, LANG_FILTER_SQL, tags=("L4",)),
    "lang_id_guess": QuerySpec(
        lang_id_guess, LANG_ID_GUESS_SQL, tags=("L4",),
        doc="stopword-vote language ID, value-checked vs list_filter argmax oracle",
    ),
    "doc_fingerprint": QuerySpec(doc_fingerprint, None, tags=("L4",)),
    "doc_fingerprint_poly": QuerySpec(
        doc_fingerprint_poly, DOC_FINGERPRINT_POLY_SQL, tags=("L4", "F3"),
        doc="portable rolling fingerprint: Horner fold mod 2^31-1 over "
        "md5-prefix token hashes — cross-engine verifiable (DuckDB "
        "replays the identical fold via list_reduce); the xxhash64 "
        "chain stays as the fast JVM-native tier",
    ),
    "tokenizer_fertility": QuerySpec(
        tokenizer_fertility, TOKENIZER_FERTILITY_SQL, tags=("L4", "A2"),
        doc="BPE pieces per whitespace word by source x lang (tokenizer "
        "budget analytics); exact integer sums, one double division",
    ),
    "dedup_minhash": QuerySpec(
        dedup_minhash, _DEDUP_MINHASH_SQL, tags=("L2",), bench=True,
        doc="MinHash-LSH near-dedup, oracle-parity formulation: full "
        "signature/band/cap/verify pipeline replicated in the oracle",
    ),
    "dedup_split_leakage": QuerySpec(
        dedup_split_leakage, _DEDUP_SPLIT_LEAKAGE_SQL,
        tags=("L2", "L4", "J1"),
        doc="split-leakage audit: near-duplicate pairs that STRADDLE "
        "the hash-derandomized 80/10/10 train/val/test split - the "
        "duplicate-driven benchmark contamination a held-out split "
        "inherits when dedup runs per-split; pair universe is exactly "
        "the oracled dedup_minhash set (exact-integer Jaccard "
        "verify), plus two split-label joins; pair-level output with "
        "both labels and the leaky flag",
    ),
    "dedup_split_repair": QuerySpec(
        dedup_split_repair, _DEDUP_SPLIT_REPAIR_SQL,
        tags=("L2", "G1", "J1"),
        doc="split-leakage REPAIR: each near-dup cluster (connected "
        "components over the oracled dedup_minhash pair set) is "
        "assigned to ONE split - its min-id member's (the keeper "
        "convention), so no near-dup pair straddles the repaired "
        "split by construction; one row per clustered doc with "
        "(cluster_id, split_orig, split_repaired, changed); oracle "
        "replicates the closure with a recursive CTE",
    ),
    "dedup_simhash": QuerySpec(
        dedup_simhash, _DEDUP_SIMHASH_SQL, tags=("L2",),
        doc="SimHash near-dedup, pigeonhole-exhaustive 4x8-bit bands: "
        "output = exact Hamming<=3 pair set, full-replica oracle",
    ),
    "dedup_ngram_jaccard": QuerySpec(
        dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL, tags=("L2",),
        doc="exact k-shingle Jaccard pairs, value-checked vs list_intersect oracle",
    ),
    "emb_near_dup": QuerySpec(
        emb_near_dup, _EMB_NEAR_DUP_SQL, tags=("L2", "L3"),
        doc="embedding SRP near-dup, oracle-parity: integer-quantized "
        "planes + exact-integer cosine gate, full-replica oracle",
    ),
    "semdedup_prune": QuerySpec(
        semdedup_prune, _SEMDEDUP_PRUNE_SQL, tags=("L2", "L3", "L1"), bench=True,
        doc="SemDeDup oracle-able SMALL-CORPUS tier (bounded ~10^5 "
        "vectors: the 8x4-bit SRP band space is fixed at 16 keys/band, "
        "so bucket occupancy grows ~n/16 and candidate volume "
        "quadratically until the mirrored 1024-id cap trades recall — "
        "SCALING.md measures 19.5x wall at 10x; past the bound "
        "semdedup_ivf carries the workload): SRP near-dup pairs -> "
        "connected components -> keep min-id representative; "
        "recursive-CTE full-replica oracle",
    ),
    "semdedup_ivf": QuerySpec(
        semdedup_ivf, None, tags=("L2", "L3", "L1"), bench=True,
        doc="SemDeDup scale tier: k-means cell co-membership candidates "
        "(quantizer resolution grows with the corpus — k = n/125 from "
        "parquet footer metadata, constant expected cell occupancy) + "
        "the parity tier's exact-integer cosine gate + component "
        "keeper; rows-only (Lloyd is float-iterative), planted-dup "
        "recall pytest-pinned; SCALING.md carries its sub-linear 10x "
        "point vs the prune tier's saturation",
    ),
    "semdedup_ivf_check": QuerySpec(
        semdedup_ivf_check, SEMDEDUP_IVF_CHECK_SQL,
        tags=("L2", "L3", "A1"),
        doc="oracled soundness certificate for the rows-only IVF dedup "
        "tier (graph_kcore_check pattern): brute-force tau universe "
        "from a fresh scan + zero-violation invariants (emitted pairs "
        "sound, SRP-overlap agreement, every pruned vector has a "
        "tau-sound cluster mate) — any unsound emission fails the "
        "driver hash gate",
    ),
    "sim_topk": QuerySpec(sim_topk, SIM_TOPK_SQL, tags=("L3",), bench=True),
    "sim_range_search": QuerySpec(
        sim_range_search, SIM_RANGE_SEARCH_SQL, tags=("L3",),
        doc="cosine radius retrieval: broadcast query set, one corpus "
        "scan, exact integer tau-gate on 1e-6-quantized vectors",
    ),
    "sim_knn_join": QuerySpec(
        sim_knn_join, SIM_KNN_JOIN_SQL, tags=("L3", "J2"), bench=True,
        doc="all-pairs top-k cosine neighbors, distributed block-NL kNN join",
    ),
    "hard_negative_mining": QuerySpec(
        hard_negative_mining, HARD_NEGATIVE_MINING_SQL,
        tags=("L3", "W1", "J2"),
        doc="contrastive-training data prep, CERTIFICATE tier: per "
        "anchor, the best positive (exact integer tau=2/5 gate) and "
        "the top-3 HARD negatives - the highest-cosine gate-failing "
        "vectors a contrastive loss learns the most from; exact "
        "brute force under the bounded-anchor broadcast contract "
        "(hard_negative_mining_frame); the scale path is the IVF tier",
    ),
    "hard_negative_mining_ivf": QuerySpec(
        hard_negative_mining_ivf, None, tags=("L3", "W1", "J1"),
        doc="hard-negative mining SCALE tier: anchors mine positives "
        "+ hard negatives from their argmax k-means cell (nprobe=1, "
        "k=n/125 footer-derived) - constant cell occupancy makes "
        "total pair work linear in the corpus, one shuffle equi-join "
        "on cell, nothing corpus-proportional broadcast; rows-only "
        "(Lloyd is float-iterative), certified by the oracled "
        "brute-force tier + planted-duplicate recall pytest",
    ),
    "sim_ann_ivf": QuerySpec(sim_ann_ivf, None, tags=("L3",)),
    "sim_ann_ivf_check": QuerySpec(
        sim_ann_ivf_check, SIM_ANN_IVF_CHECK_SQL, tags=("L3", "A1"),
        doc="oracled certificate for the rows-only IVF ANN tier: "
        "exactly k rows, every returned cosine bit-matches its fresh "
        "recomputation (mismatches pinned 0), and the tier's best hit "
        "is bounded by the derivable global max-cosine anchor",
    ),
    "bpe_encode_corpus": QuerySpec(
        bpe_encode_corpus, None, tags=("L4", "UDTF", "A2"),
        doc="BPE apply at scale: one Arrow pass with distinct-word "
        "memo, per-source token/compression report",
    ),
    "bpe_train": QuerySpec(
        bpe_train, None, tags=("L4", "A2"),
        doc="BPE tokenizer training: one corpus word-count shuffle, "
        "vocabulary-sized driver training (Sennrich)",
    ),
    "unigram_train": QuerySpec(
        unigram_train, None, tags=("L4", "A2"),
        doc="unigram-LM tokenizer training (Kudo/SentencePiece, "
        "hard-EM + deterministic pruning): same bounded word-count "
        "collect as BPE, driver-side EM, pieces table as the model; "
        "rows-only, property-pinned (determinism/coverage/pruning)",
    ),
    "tokenizer_encode_check": QuerySpec(
        tokenizer_encode_check, TOKENIZER_ENCODE_CHECK_SQL,
        tags=("L4", "A1", "UDF"),
        doc="oracled corpus-accounting certificate for BOTH Arrow "
        "encoders: the word totals each kernel emits are derived "
        "independently in SQL and hash-compared as data; zero-token "
        "words are the pinned fertility violation legs",
    ),
    "bpe_train_check": QuerySpec(
        bpe_train_check, BPE_TRAIN_CHECK_SQL,
        tags=("L4", "A2", "A1"),
        doc="oracled certificate for the rows-only BPE trainer: the "
        "first merge must be the corpus's max-frequency symbol pair "
        "(derived in SQL with the </w> end symbol and the trainer's "
        "tie-break) and max pair frequency is non-increasing across "
        "ranks (violations pinned 0)",
    ),
    "unigram_train_check": QuerySpec(
        unigram_train_check, UNIGRAM_TRAIN_CHECK_SQL,
        tags=("L4", "A2", "A1"),
        doc="oracled output-contract certificate for the rows-only "
        "unigram trainer: distinct corpus characters (data-derived "
        "anchor) + pinned invariants - every corpus char has a "
        "single-char piece, every piece is a substring of some "
        "corpus word, vocab respects its bound",
    ),
    "tokenizer_fertility_compare": QuerySpec(
        tokenizer_fertility_compare, None, tags=("L4", "A2", "UDF"),
        doc="fertility under BOTH trained vocabularies (BPE merges vs "
        "unigram pieces) by source x lang — the tokenizer-decision "
        "comparison; two Arrow encode passes, one rollup; rows-only",
    ),
    "sim_ann_incremental": QuerySpec(
        sim_ann_incremental, None, tags=("L3", "T6"),
        doc="persisted IVF index + frozen-centroid delta appends; "
        "probe prunes cell partitions",
    ),
    "sim_ann_pq": QuerySpec(
        sim_ann_pq, None, tags=("L3",),
        doc="product-quantized ANN: per-subspace codebooks + ADC top-k",
    ),
    "emb_centroids": QuerySpec(emb_centroids, EMB_CENTROIDS_SQL, tags=("L5", "F6")),
    "emb_drift_monitor": QuerySpec(
        emb_drift_monitor, EMB_DRIFT_MONITOR_SQL, tags=("L3", "A2", "F3"),
        doc="per-label cohort centroid cosine (embedding drift "
        "dashboard): exact decimal centroid sums, 1e-6 quantization, "
        "order-free integer dot/norms — fully relational, no array "
        "folds",
    ),
    "multimodal_meta": QuerySpec(multimodal_meta, MULTIMODAL_META_SQL, tags=("L5",)),
}
