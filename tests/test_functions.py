"""Unit tests: text / vector / scalar function primitives (SURVEY.md
§2.8, §2.10 L4)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from outreach_etl_tool_spark.functions import text as TXT
from outreach_etl_tool_spark.functions.scalars import exact_avg, exact_sum
from outreach_etl_tool_spark.functions.vectors import cosine, dot, norm


def one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


# ---------------------------------------------------------------- text
def test_tokens_and_count(spark):
    df = spark.createDataFrame([("Hello, World! 42 foo_bar",)], "t string")
    r = one(df.select(TXT.tokens("t").alias("toks"),
                      TXT.token_count("t").alias("n")))
    assert r["toks"] == ["hello", "world", "foo", "bar"]
    assert r["n"] == 4


def test_punct_ratio(spark):
    df = spark.createDataFrame([("ab!?",)], "t string")
    assert one(df.select(TXT.punct_ratio("t").alias("p")))["p"] == pytest.approx(0.5)


def test_lang_id_on_clear_samples(spark):
    samples = [
        ("the quick fox and the dog ran to it", "en"),
        ("der Hund und die Katze ist nicht ein Tier", "de"),
        ("le chat et la maison dans les jardins", "fr"),
        ("el perro que corre por la casa con los gatos", "es"),
    ]
    df = spark.createDataFrame([(s,) for s, _ in samples], "t string")
    got = [r["g"] for r in df.select(TXT.lang_id("t").alias("g")).collect()]
    assert got == [lang for _, lang in samples]


def test_lang_id_unknown(spark):
    df = spark.createDataFrame([("zzz qqq xxx",)], "t string")
    assert one(df.select(TXT.lang_id("t").alias("g")))["g"] == "und"


def test_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame([("alpha beta",), ("beta alpha",)], "t string")
    fps = [r["fp"] for r in df.select(TXT.fingerprint("t").alias("fp")).collect()]
    assert fps[0] != fps[1]


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([("alpha beta",), ("alpha beta",)], "t string")
    fps = [r["fp"] for r in df.select(TXT.fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("a good plain sentence of reasonable length here",),
         ("!!!???;;;",), ("x",)], "t string"
    )
    scores = [r["q"] for r in df.select(TXT.quality_score("t").alias("q")).collect()]
    assert scores[0] == 1.0
    assert all(s is None or 0.0 <= s <= 1.0 for s in scores)


# ------------------------------------------------------------- vectors
def test_dot_norm_cosine(spark):
    a, b = [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    r = one(df.select(dot("a", "b").alias("d"), norm("a").alias("n"),
                      cosine("a", "b").alias("c")))
    assert r["d"] == pytest.approx(4 - 10 + 18)
    assert r["n"] == pytest.approx(math.sqrt(14))
    expected_cos = 12 / (math.sqrt(14) * math.sqrt(77))
    assert r["c"] == pytest.approx(expected_cos)


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([0.5, 0.25, -1.5],)], "a array<float>")
    assert one(df.select(cosine("a", "a").alias("c")))["c"] == pytest.approx(1.0)


# ------------------------------------------------------------- scalars
def test_exact_sum_matches_decimal(spark):
    # values chosen so naive double summation order matters
    vals = [(1e15,), (1.11,), (-1e15,), (2.22,)]
    df = spark.createDataFrame(vals, "x double")
    r = one(df.agg(exact_sum("x").alias("s"), exact_avg("x").alias("a")))
    assert r["s"] == pytest.approx(3.33, abs=1e-9)
    assert r["a"] == pytest.approx(3.33 / 4, abs=1e-9)


# ------------------------------------------------- timestamp bounds
def test_bound_to_micros_is_exact():
    """Integer conversion of inclusive range bounds: the float route
    (timestamp()*1e6) shifts .999999 bounds by 1µs; ours must not."""
    from outreach_etl_tool_spark.catalog import bound_to_micros

    assert bound_to_micros("1970-01-01 00:00:00") == 0
    assert bound_to_micros("1970-01-01 00:00:00.000001") == 1
    got = bound_to_micros("2024-06-30 23:59:59.999999")
    assert got % 1_000_000 == 999_999
    # cross-check whole-second part against datetime arithmetic
    import datetime as dt

    d = dt.datetime(2024, 6, 30, 23, 59, 59, tzinfo=dt.timezone.utc)
    assert got == int(d.timestamp()) * 1_000_000 + 999_999


# ----------------------------------------------------------- bloom filter
def test_bloom_no_false_negatives_and_low_fpp(spark):
    """One partition of distinct members: every member is found and
    the false-positive rate stays near the 1% it was sized for."""
    import numpy as np

    from outreach_etl_tool_spark.functions.bloom import build_bloom_distributed

    members = [f"gram number {i} payload" for i in range(2000)]
    outsiders = [f"other text {i} entirely" for i in range(4000)]
    df = spark.createDataFrame([(g,) for g in members], "gram string").coalesce(1)
    b = build_bloom_distributed(df, "gram", fpp=0.01)
    assert b.contains(members).all()  # zero false negatives, always
    fp = float(np.mean(b.contains(outsiders)))
    assert fp < 0.03, fp  # sized for 1%; allow slack


def test_bloom_distributed_build_matches_semantics(spark):
    """Distributed construction (partition-local bit arrays OR-merged
    via bit_or agg; driver sees only the final words) preserves the
    Bloom contract: zero false negatives, fpp near target. Duplicate
    grams across partitions are folded idempotently — no distinct
    shuffle in the build."""
    import numpy as np

    from outreach_etl_tool_spark.functions.bloom import build_bloom_distributed

    members = [f"gram number {i} payload" for i in range(2000)]
    outsiders = [f"other text {i} entirely" for i in range(4000)]
    # duplicate every member so the idempotent-insert path is exercised
    df = spark.createDataFrame(
        [(g,) for g in members + members], "gram string"
    ).repartition(8)
    b = build_bloom_distributed(df, "gram", fpp=0.01)
    assert b.contains(members).all()
    fp = float(np.mean(b.contains(outsiders)))
    assert fp < 0.03, fp


def test_bloom_empty_and_tiny(spark):
    from outreach_etl_tool_spark.functions.bloom import build_bloom_distributed

    b = build_bloom_distributed(spark.createDataFrame([], "gram string"))
    assert not b.contains(["anything"]).any()
    assert b.contains([]).shape == (0,)
    tiny = build_bloom_distributed(
        spark.createDataFrame([("only one",)], "gram string")
    )
    assert tiny.contains(["only one"]).all()


# ----------------------------------------------------------- count-min sketch
def test_cms_never_undercounts_and_is_tight(spark):
    """CMS property: estimate >= true count for every key (this is what
    makes the heavy-hitters candidate set a superset), and at 4x8192
    for a few hundred keys the overestimate is almost always zero."""
    import numpy as np

    from outreach_etl_tool_spark.functions.cms import build_cms_distributed

    rng = np.random.RandomState(3)
    keys = rng.zipf(1.5, size=5000) % 400  # skewed, like real traffic
    df = spark.createDataFrame([(int(k),) for k in keys], "user_id long").repartition(8)
    cms = build_cms_distributed(df, "user_id", d=4, w=8192)
    uniq, true_counts = np.unique(keys, return_counts=True)
    est = cms.estimate(uniq.astype(np.int64))
    assert (est >= true_counts).all()  # never undercounts, ever
    assert float(np.mean(est - true_counts)) < 1.0  # tight at this load


def test_bind_once_evaluates_expensive_expr_once(spark):
    """bind_once is a let-binding: the bound expression appears once in
    the executed plan however many times the body references it, and
    the result is value-identical to the naive multi-reference form."""
    from pyspark.sql import functions as F

    from outreach_etl_tool_spark.functions.expr import bind_once
    from outreach_etl_tool_spark.functions.text import tokens

    df = spark.createDataFrame([("the quick brown the",), ("",)], "text string")
    naive = (F.size(tokens("text"))
             + F.size(F.array_distinct(tokens("text")))).alias("x")
    bound = bind_once(
        tokens("text"), lambda t: F.size(t) + F.size(F.array_distinct(t))
    ).alias("x")
    assert [r["x"] for r in df.select(bound).collect()] == [
        r["x"] for r in df.select(naive).collect()
    ] == [7, 0]

    def evals(col):
        plan = df.select(col)._jdf.queryExecution().executedPlan().toString()
        return plan.count("regexp_extract_all")

    assert evals(naive) == 2   # one per reference — the disease
    assert evals(bound) == 1   # let-bound — the cure


def test_cms_width_sizing_rule():
    """Width is data-derived: w >= 4*total/threshold (expected
    over-count <= threshold/4), snapped to a power of two and clamped
    to [w_min, w_max] so sketch state stays bounded at any scale."""
    from outreach_etl_tool_spark.functions.cms import cms_width_for

    # error-budget bound holds whenever the cap doesn't bind
    for total, thr in [(10_000, 80), (1_000_000, 80), (5_000_000, 500)]:
        w = cms_width_for(total, thr)
        assert w >= 4 * total / thr
        assert w & (w - 1) == 0  # power of two
    # small data floors at w_min, huge data clamps at w_max
    assert cms_width_for(100, 80) == 1024
    assert cms_width_for(10**12, 80) == 1 << 22
    # monotone in total for fixed threshold
    widths = [cms_width_for(t, 80) for t in (10**4, 10**6, 10**8)]
    assert widths == sorted(widths)


def test_approx_percentile_rank_error_bound(spark, sf_dir):
    """percentile_approx's contract: the returned value's RANK is
    within n/accuracy of the target rank. That bound — not value
    closeness — is what the GK sketch guarantees and what the
    rows-only registry entry relies on."""
    from outreach_etl_tool_spark.queries import REGISTRY

    rows = REGISTRY["agg_approx_percentiles"].fn(spark, sf_dir).collect()
    assert rows
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    acc = 10_000
    for r in rows:
        vals = (
            li[li["l_returnflag"] == r["l_returnflag"]]["l_extendedprice"]
            .sort_values()
            .to_numpy()
        )
        n = len(vals)
        assert n == r["n"]
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            rank = vals.searchsorted(r[col], side="left")
            assert abs(rank - q * n) <= max(2.0, n / acc * 2), (
                r["l_returnflag"], col, rank, q * n, n
            )


# ------------------------------------------------------------ BPE trainer
def test_bpe_trains_the_literature_example():
    """Sennrich's worked example: {low:5, lower:2, newest:6, widest:3}
    must merge e+s (9), then es+t (9), then est+</w> (9) — frequency
    with deterministic lexicographic tie-break."""
    from outreach_etl_tool_spark.functions.bpe import encode_word, train_bpe

    freqs = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    rules = train_bpe(freqs, n_merges=3)
    assert [(r[1], r[2], r[3]) for r in rules] == [
        ("e", "s", 9), ("es", "t", 9), ("est", "</w>", 9)
    ]
    assert encode_word("newest", rules) == ["n", "e", "w", "est</w>"]
    assert encode_word("widest", rules) == ["w", "i", "d", "est</w>"]


def test_bpe_stops_when_no_pair_repeats():
    from outreach_etl_tool_spark.functions.bpe import train_bpe

    # every word unique, every pair frequency 1 → zero merges
    assert train_bpe([("ab", 1), ("cd", 1)], n_merges=10) == []


def test_bpe_end_to_end_over_dataframe(spark):
    from outreach_etl_tool_spark.functions.bpe import bpe_train_merges

    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower"),
         (1, "newest newest newest newest newest newest"),
         (2, "widest widest widest")],
        "doc_id long, text string",
    )
    rules = bpe_train_merges(spark, docs, n_merges=3).collect()
    assert [(r["left"], r["right"], r["pair_freq"]) for r in rules] == [
        ("e", "s", 9), ("es", "t", 9), ("est", "</w>", 9)
    ]
    assert [r["rank"] for r in rules] == [0, 1, 2]


def test_bpe_vocab_cap_raises_loudly(spark):
    """The driver collect is hard-bounded: a vocabulary past max_vocab
    must fail with an actionable error, never silently truncate."""
    import pytest

    from outreach_etl_tool_spark.functions.bpe import bpe_train_merges

    docs = spark.createDataFrame(
        [(0, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_vocab=4"):
        bpe_train_merges(spark, docs, n_merges=3, max_vocab=4)
    # explicit opt-in trains on the top-N instead of raising
    rules = bpe_train_merges(
        spark, docs, n_merges=3, max_vocab=4, allow_truncation=True
    )
    assert rules.count() >= 0  # runs; rule content covered elsewhere


def test_bpe_min_freq_floor_preserves_rules_when_tail_is_inert(spark):
    """A min_freq=2 floor that only drops frequency-1 words whose pairs
    never reach pair-frequency 2 elsewhere must leave the merge-rule
    sequence byte-identical (the documented truncation contract)."""
    from outreach_etl_tool_spark.functions.bpe import bpe_train_merges

    # head words reuse pairs heavily; the tail words ('qz', 'xv') are
    # frequency-1 and made of symbol pairs no other word contains
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower qz"),
         (1, "newest newest newest newest newest newest xv"),
         (2, "widest widest widest")],
        "doc_id long, text string",
    )
    unfloored = bpe_train_merges(spark, docs, n_merges=5).collect()
    floored = bpe_train_merges(spark, docs, n_merges=5, min_freq=2).collect()
    assert [tuple(r) for r in unfloored] == [tuple(r) for r in floored]
    assert len(unfloored) > 0


def test_bpe_encode_matches_trainer_on_unicode_whitespace(spark):
    """Train/apply tokenization contract: the trainer splits on Java
    \\s+ (ASCII); the Arrow encode kernel must agree — a NBSP-joined
    token pair is ONE word on both sides, not two."""
    from outreach_etl_tool_spark.functions.bpe import (
        bpe_train_merges, encode_corpus_tokens, word_counts,
    )

    nbsp_text = "low\u00a0low newest newest"  # NBSP joins the first pair
    docs = spark.createDataFrame(
        [(0, nbsp_text)], "doc_id long, text string"
    )
    wc = {r["word"]: r["n"] for r in word_counts(docs).collect()}
    assert wc == {"low low": 1, "newest": 2}

    rules = [
        tuple(r)
        for r in bpe_train_merges(spark, docs, n_merges=2).collect()
    ]
    out = encode_corpus_tokens(docs, rules).collect()[0]
    # 3 words under ASCII splitting (str.split would have said 4)
    assert out["n_words"] == 3


def test_bpe_encode_memo_cap_keeps_counts_exact(spark):
    """A memo too small to hold the vocabulary changes nothing about
    the output — only the cache hit rate."""
    from outreach_etl_tool_spark.functions.bpe import (
        bpe_train_merges, encode_corpus_tokens,
    )

    docs = spark.createDataFrame(
        [(i, f"low lower newest widest unique{i}") for i in range(20)],
        "doc_id long, text string",
    )
    rules = [
        tuple(r)
        for r in bpe_train_merges(spark, docs, n_merges=3).collect()
    ]
    uncapped = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in encode_corpus_tokens(docs, rules).collect()
    }
    capped = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in encode_corpus_tokens(docs, rules, memo_cap=2).collect()
    }
    assert uncapped == capped and len(uncapped) == 20


# ------------------------------------------------------------- intlog
def test_ilog2_spark_matches_python_reference(spark):
    """The Spark SQL rendering of the shift-and-square fixed-point
    log2 is bit-identical to the pure-python pin across magnitudes
    (the DuckDB rendering is certified by the DSIR oracle hash gate
    end-to-end; this pins the third leg)."""
    from outreach_etl_tool_spark.functions import intlog

    vals = [1, 2, 3, 5, 7, 100, 1023, 1024, 65537, 123456789,
            (1 << 30) - 1, 1 << 30, (1 << 45) + 12345, (1 << 61) - 1]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = [
        r[0]
        for r in df.select(F.expr(intlog.spark_expr("x"))).collect()
    ]
    assert got == [intlog.ilog2_py(v) for v in vals]


def test_ilog2_duckdb_matches_python_reference():
    import duckdb

    from outreach_etl_tool_spark.functions import intlog

    vals = [1, 2, 3, 5, 7, 100, 1023, 1024, 65537, 123456789,
            (1 << 30) - 1, 1 << 30, (1 << 45) + 12345, (1 << 61) - 1]
    con = duckdb.connect()
    got = [
        con.execute(f"SELECT {intlog.duck_expr(str(v))}").fetchone()[0]
        for v in vals
    ]
    assert got == [intlog.ilog2_py(v) for v in vals]


def test_ilog2_tracks_true_log_within_one_unit():
    """floor-biased: true 64*log2(x) - 1 < ilog2_64(x) <= 64*log2(x)."""
    from outreach_etl_tool_spark.functions.intlog import ilog2_py

    for x in list(range(1, 2000)) + [10**6, 10**9, 10**12, 2**45 + 7]:
        true = 64 * math.log2(x)
        assert true - 1 < ilog2_py(x) <= true + 1e-9, (x, ilog2_py(x), true)


# ------------------------------------------------------------ unigram LM
def test_unigram_viterbi_hand_case():
    """Hand-checked segmentation: with 'ab' much likelier than a+b,
    Viterbi picks the multi-char piece; with it missing, falls back to
    chars. Tie-break prefers fewer pieces then lexicographic."""
    from outreach_etl_tool_spark.functions.unigram import viterbi_segment

    logp = {"a": -3.0, "b": -3.0, "ab": -1.0}
    assert viterbi_segment("ab", logp, 6) == ["ab"]
    assert viterbi_segment("aba", logp, 6) == ["ab", "a"]
    assert viterbi_segment("ab", {"a": -1.0, "b": -1.0}, 6) == ["a", "b"]
    # exact score tie between (ab) and (a)(b): -2.0 both ways ->
    # fewer pieces wins
    logp = {"a": -1.0, "b": -1.0, "ab": -2.0}
    assert viterbi_segment("ab", logp, 6) == ["ab"]


def test_unigram_train_deterministic_and_covering():
    """Same word table -> byte-identical pieces; every single char
    survives pruning (coverage invariant) and the vocab respects the
    target bound."""
    from outreach_etl_tool_spark.functions.unigram import (
        train_unigram, viterbi_segment,
    )

    wf = [("spark", 10), ("sparks", 5), ("park", 8), ("dark", 3),
          ("a", 2), ("parka", 4)]
    p1 = train_unigram(wf, vocab_size=12, seed_size=50)
    p2 = train_unigram(list(wf), vocab_size=12, seed_size=50)
    assert p1 == p2
    pieces = {p for p, _, _ in p1}
    chars = {c for w, _ in wf for c in w}
    assert chars <= pieces  # singles never pruned
    assert len(pieces) <= max(12, len(chars))
    logp = {p: lp for p, lp, _ in p1}
    for w, _ in wf:  # everything stays encodable
        assert "".join(viterbi_segment(w, logp, 6)) == w


def test_unigram_pruning_monotone():
    """A tighter vocab target yields a subset-or-equal multi-char
    budget and never drops coverage."""
    from outreach_etl_tool_spark.functions.unigram import train_unigram

    wf = [("abcd", 9), ("abce", 7), ("bcde", 5), ("cdef", 3)]
    big = train_unigram(wf, vocab_size=20, seed_size=100)
    small = train_unigram(wf, vocab_size=7, seed_size=100)
    chars = {c for w, _ in wf for c in w}
    assert {p for p, _, _ in small if len(p) == 1} >= chars
    assert len(small) <= max(7, len(chars)) and len(small) <= len(big)


def test_unigram_encode_matches_driver_segmentation(spark):
    """The Arrow corpus-encoding kernel agrees with driver-side
    Viterbi on every distinct word (same tokenization contract)."""
    import re

    from outreach_etl_tool_spark.functions.unigram import (
        encode_corpus_tokens_unigram, train_unigram, viterbi_segment,
    )

    texts = ["spark park dark", "a parka sparks  spark", ""]
    wf = {}
    for t in texts:
        for w in re.split(r"\s+", t.lower()):
            if w:
                wf[w] = wf.get(w, 0) + 1
    pieces = train_unigram(sorted(wf.items()), vocab_size=10, seed_size=50)
    logp = {p: lp for p, lp, _ in pieces}
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_unigram_tokens"])
        for r in encode_corpus_tokens_unigram(
            docs, [(p, lp) for p, lp, _ in pieces]
        ).collect()
    }
    for i, t in enumerate(texts):
        words = [w for w in re.split(r"\s+", t.lower()) if w]
        exp = sum(len(viterbi_segment(w, logp, 6)) for w in words)
        assert got[i] == (len(words), exp)


def test_unigram_encode_oov_counts_unk_runs(spark):
    """Encoding a corpus with characters the trained vocabulary never
    saw must not fail the job (round-10 ADVICE): each maximal run of
    uncoverable characters counts as ONE unk token, and the coverable
    stretches around it still segment by Viterbi."""
    from outreach_etl_tool_spark.functions.unigram import (
        encode_corpus_tokens_unigram, train_unigram, viterbi_segment,
    )

    wf = [("spark", 5), ("park", 3), ("dark", 2)]
    pieces = train_unigram(wf, vocab_size=10, seed_size=50)
    logp = {p: lp for p, lp, _ in pieces}
    # z/9 are OOV; "zz" run -> 1 unk, "9" -> 1 unk
    docs = spark.createDataFrame(
        [(0, "sparkzz park9dark"), (1, "zzz"), (2, "spark park")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_unigram_tokens"])
        for r in encode_corpus_tokens_unigram(
            docs, [(p, lp) for p, lp, _ in pieces]
        ).collect()
    }
    n = lambda w: len(viterbi_segment(w, logp, 6))  # noqa: E731
    assert got[0] == (2, n("spark") + 1 + n("park") + 1 + n("dark"))
    assert got[1] == (1, 1)  # fully-OOV word = one unk
    assert got[2] == (2, n("spark") + n("park"))  # in-vocab unchanged
