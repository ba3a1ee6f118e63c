"""Unit tests: dedup family — exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding LSH (SURVEY.md §2.10 L1/L2)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from outreach_etl_tool_spark.dedup import exact, minhash, ngram, parity

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the distant purple mountains and the river flows"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-token edit: high Jaccard
FAR = (
    "completely unrelated text about quantum chromodynamics lattice "
    "simulations running on exascale supercomputers with tensor cores"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)], "doc_id long, text string"
    )


def pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


# ----------------------------------------------------------------- L1
def test_exact_dedup_groups(spark, docs):
    out = exact.dedup_groups(docs, "text", "doc_id").orderBy("keep_id").collect()
    got = {(r["keep_id"], r["n_copies"]) for r in out}
    assert got == {(1, 2), (2, 1), (3, 1)}


def test_exact_deduplicate_keeps_min_id(spark, docs):
    """Of each group of identical texts the smallest id is kept: doc 4
    repeats doc 1's text, so the kept ids are {1, 2, 3}."""
    groups = exact.dedup_groups(docs, "text", "doc_id")
    kept = docs.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    assert {r["doc_id"] for r in kept.collect()} == {1, 2, 3}


def test_exact_dedup_idempotent(spark, docs):
    """Running dedup_groups over the rows it kept finds no duplicates
    left: every kept text is its own group of one."""
    once = exact.dedup_groups(docs, "text", "doc_id")
    kept = docs.join(
        once.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    twice = exact.dedup_groups(kept, "text", "doc_id").collect()
    assert sorted(r["keep_id"] for r in twice) == sorted(
        r["keep_id"] for r in once.collect()
    )
    assert all(r["n_copies"] == 1 for r in twice)


# ------------------------------------------------------------ MinHash
def test_minhash_finds_near_and_exact_dups(spark, docs):
    """``minhash.candidate_pairs`` — the LSH stage the registry MinHash
    verifies, and the benchmark's candidate count — proposes the
    identical and one-token-edit pairs but not the unrelated doc,
    returns distinct (id_a < id_b) pairs, and contains every pair the
    registry MinHash reports, since its exact verify only filters."""
    cand = [(r["id_a"], r["id_b"])
            for r in minhash.candidate_pairs(docs).collect()]
    assert len(cand) == len(set(cand))
    assert all(a < b for a, b in cand)
    assert (1, 4) in cand         # identical text
    assert (1, 2) in cand         # one-token edit
    assert all(3 not in p for p in cand)  # unrelated never pairs
    verified = pairs(parity.minhash_pairs_parity(docs, "doc_id", "text"))
    assert verified and verified <= set(cand)


def test_shingles_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "ab cd"), (2, ""), (3, "x")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", minhash.shingles("text").alias("sh")).collect()}
    assert got[1] == ["ab cd"]
    assert got[2] == []
    assert got[3] == ["x"]


def test_minhash_short_docs_pair_detected(spark):
    """Two identical short docs (< k tokens) sharing a batch with long
    docs must come out as an exact-Jaccard-1.0 pair."""
    df = spark.createDataFrame(
        [(1, BASE), (2, "tiny doc"), (3, FAR), (4, "tiny doc")],
        "doc_id long, text string",
    ).coalesce(1)
    got = pairs(parity.minhash_pairs_parity(df, "doc_id", "text",
                                            threshold_num=9, threshold_den=10))
    assert (2, 4) in got


def test_minhash_identical_signatures_for_identical_text(spark, docs):
    sh = parity._mh_shingle_frame(docs, "doc_id", "text")
    sig = {r["id"]: r[1:] for r in parity._mh_signature(sh).collect()}
    assert len(sig[1]) == parity._MH_NUM
    assert sig[1] == sig[4]
    assert sig[1] != sig[3]


# -------------------------------------------------------- incremental L1
def test_incremental_exact_against_history(spark):
    """New docs duplicating history are dropped; batch-internal dups
    keep the lowest id; genuinely new content survives."""
    from outreach_etl_tool_spark.dedup import incremental

    history = spark.createDataFrame(
        [(0, BASE), (2, FAR)], "doc_id long, text string"
    )
    new_batch = spark.createDataFrame(
        [(11, BASE),          # dup of history → dropped
         (13, NEAR), (15, NEAR),  # batch-internal dup → keep 13
         (17, "fresh content never seen before")],
        "doc_id long, text string",
    )
    store = incremental.history_hashes(history)
    kept = incremental.incremental_exact(new_batch, store)
    assert sorted(r["doc_id"] for r in kept.collect()) == [13, 17]


def test_incremental_exact_store_append_idempotent(spark):
    """Replaying the same batch against the store grown by its own
    output yields nothing — the at-most-once ingest contract."""
    from outreach_etl_tool_spark.dedup import incremental

    history = spark.createDataFrame([(0, BASE)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(5, NEAR), (7, FAR)], "doc_id long, text string"
    )
    store = incremental.history_hashes(history)
    first = incremental.incremental_exact(batch, store)
    grown = store.union(first.select("text_sha")).distinct()
    replay = incremental.incremental_exact(batch, grown)
    assert first.count() == 2 and replay.count() == 0


def test_incremental_minhash_flags_history_near_dups(spark):
    """A new (odd-id) doc that is an exact or near copy of a historical
    (even-id) doc is flagged from signatures alone (no historical text
    read), with an estimate near the true Jaccard; unrelated new docs
    are not flagged."""
    docs = spark.createDataFrame(
        [(0, BASE), (2, FAR),   # history
         (11, BASE),    # exact copy → est_jaccard 1.0
         (13, NEAR),    # one-token edit → high estimate
         (15, "completely different topic entirely new words about gardens "
              "roses tulips daffodils growing in spring sunshine today")],
        "doc_id long, text string",
    )
    got = {r["id_new"]: r
           for r in parity.incremental_minhash_parity(docs).collect()}
    assert got[11]["id_hist"] == 0 and got[11]["est_jaccard"] == 1.0
    assert got[13]["id_hist"] == 0 and got[13]["est_jaccard"] >= 0.5
    assert 15 not in got
    # 32 minhashes → σ ≈ 0.08 at J≈0.74; the constants are pinned, so
    # the estimate is deterministic
    sa, sb = _parity_shingles(BASE), _parity_shingles(NEAR)
    exact_j = len(sa & sb) / len(sa | sb)
    assert abs(got[13]["est_jaccard"] - exact_j) < 0.15


# ------------------------------------------------------------ SimHash
def test_simhash_near_dups(spark):
    # Longer docs so a one-token edit flips ≤3 bits — the 4-band
    # banding's recall guarantee (pigeonhole) only covers Hamming ≤ 3.
    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the distant purple mountains and the river flows "
        "through the green valley past the old stone bridge where children "
        "play in the warm afternoon light near the quiet village square"
    )
    near = base.replace("lazy", "sleepy")
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, FAR), (4, base)], "doc_id long, text string"
    )
    got = pairs(parity.simhash_pairs_parity(docs, "doc_id", "text"))
    assert (1, 4) in got
    assert (1, 2) in got
    assert all(3 not in p for p in got)


# ------------------------------------------------------- n-gram Jaccard
def test_ngram_jaccard_pairs(spark, docs):
    out = ngram.jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(1, 4)] == pytest.approx(1.0)
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_ngram_jaccard_posting_guard_fails_loudly(spark, docs):
    """Exact Jaccard can't silently truncate a hot shingle's posting
    list (that would change the answer), so the guard raises with the
    remediations in the message instead of producing n²/2 pairs from
    one row."""
    with pytest.raises(Exception, match="max_posting"):
        ngram.jaccard_pairs(
            docs, "doc_id", "text", threshold=0.0, max_posting=1
        ).collect()
    # and the guard is inert when no posting list exceeds it
    ok = ngram.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_posting=10
    )
    assert {(r["id_a"], r["id_b"]) for r in ok.collect()} >= {(1, 4), (1, 2)}


# ------------------------------------------------- embedding LSH dedup
def test_embedding_near_dup_pairs(spark):
    rng = np.random.RandomState(0)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.05   # cosine ~0.999
    far = rng.standard_normal(64)                  # cosine ~0
    rows = [(1, [float(x) for x in base]), (2, [float(x) for x in near]),
            (3, [float(x) for x in far])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = parity.emb_pairs_parity(df, dim=64, threshold_num=19,
                                  threshold_den=20)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.99
    assert all(3 not in p for p in got)
    # verification is exact: reported cosine matches numpy
    expected = float(
        np.dot(base, near) / (np.linalg.norm(base) * np.linalg.norm(near))
    )
    a32 = np.asarray(base, dtype=np.float32).astype(float)
    b32 = np.asarray(near, dtype=np.float32).astype(float)
    expected32 = float(np.dot(a32, b32) / (np.linalg.norm(a32) * np.linalg.norm(b32)))
    assert got[(1, 2)] == pytest.approx(expected32, abs=1e-6) or got[
        (1, 2)
    ] == pytest.approx(expected, abs=1e-3)


def test_emb_near_dup_registry_params_recall(spark):
    """Planted near-duplicates are found at the REGISTRY's exact
    parameters (VERDICT r2 #4: a pair operator that can emit 0 rows is
    indistinguishable from a broken one). 20 planted pairs at cosine
    ≳0.99 plus 60 background vectors; assert high recall and zero false
    positives at the 0.40 gate."""
    rng = np.random.RandomState(7)
    rows, truth = [], set()
    vid = 0
    for _ in range(20):
        base = rng.standard_normal(64)
        near = base + rng.standard_normal(64) * 0.05
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in near]))
        truth.add((vid, vid + 1))
        vid += 2
    for _ in range(60):
        rows.append((vid, [float(x) for x in rng.standard_normal(64)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = parity.emb_pairs_parity(df, "vec_id", "embedding", dim=64)
    res = out.collect()
    got = {(r["id_a"], r["id_b"]) for r in res}
    found = got & truth
    # planted pairs sit at cosine ~0.99 where 32/8 banding detects
    # essentially always
    assert len(found) >= 18, f"recall {len(found)}/20"
    # no false positives: candidate verification is exact, so every
    # emitted pair is genuinely at/above the gate (random background
    # pairs CAN legitimately exceed 0.40 — that is not an error)
    vecs = {vid: np.asarray(v, dtype=np.float32).astype(float) for vid, v in rows}
    for r in res:
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        exact = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert exact >= 0.40 - 1e-6, (r["id_a"], r["id_b"], exact)


def test_emb_near_dup_registry_query_nonempty(spark):
    """The registry entry itself yields pairs on the driver's sf0.01
    corpus — the r2 run recorded 0 rows, which proves nothing."""
    from outreach_etl_tool_spark.queries.llm import emb_near_dup

    n = emb_near_dup(spark, "/root/testdata/sf0.01").count()
    assert n > 0


def test_decontaminate_semantic_planted_paraphrases(spark):
    """Semantic decon finds planted 'paraphrases': train vectors
    (id % 7 != 0) built as small perturbations of eval vectors
    (id % 7 == 0) must be flagged with THAT eval id as closest — the
    planted cosine (~0.999) dominates any legitimate background pair
    (max random cosine ~0.5), so the argmax is unambiguous. Soundness:
    every flagged pair genuinely clears the 0.40 gate under exact
    float32 numpy arithmetic, and the split orientation is respected
    (flagged ids are train-side, closest ids eval-side)."""
    rng = np.random.RandomState(11)
    rows, truth = [], {}
    tid = 1001  # 1001 % 7 != 0; bumped past multiples as we go
    for i in range(1, 13):
        e = 7 * i
        base = rng.standard_normal(64)
        near = base + rng.standard_normal(64) * 0.05
        if tid % 7 == 0:
            tid += 1
        rows.append((e, [float(x) for x in base]))
        rows.append((tid, [float(x) for x in near]))
        truth[tid] = e
        tid += 1
    for _ in range(40):  # clean train background
        if tid % 7 == 0:
            tid += 1
        rows.append((tid, [float(x) for x in rng.standard_normal(64)]))
        tid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = parity.emb_cross_decon_parity(df).collect()
    got = {r["vec_id"]: r["closest_eval_id"] for r in res}
    found = sum(1 for t, e in truth.items() if got.get(t) == e)
    assert found >= 10, f"planted recall {found}/12: {got}"
    vecs = {
        vid: np.asarray(v, dtype=np.float32).astype(float) for vid, v in rows
    }
    for r in res:
        assert r["vec_id"] % 7 != 0 and r["closest_eval_id"] % 7 == 0, r
        a, b = vecs[r["vec_id"]], vecs[r["closest_eval_id"]]
        exact_cos = float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )
        assert exact_cos >= 0.40 - 1e-5, (r, exact_cos)


# ---------------------------------------- exact variable-length extents
def test_span_exact_extents_matches_bruteforce_suffix_semantics(spark, tmp_path):
    """Pin the suffix-array equivalence on a crafted corpus: the
    per-doc duplicated-character set computed by stride-1 L-gram
    islands must equal the brute-force union of ALL duplicated
    substrings of length >= L (what a suffix array reports)."""
    import random

    from outreach_etl_tool_spark.queries.llm import _LDS_L, dedup_span_exact_extents

    rng = random.Random(11)
    alpha = "abcdefghij "
    boiler = "".join(rng.choice(alpha) for _ in range(150))  # shared paragraph
    short_dup = "".join(rng.choice(alpha) for _ in range(_LDS_L))  # exactly L
    texts = {
        # doc 0/1 share `boiler` at different offsets; doc 0 also
        # self-repeats `short_dup`
        0: "".join(rng.choice(alpha) for _ in range(80)) + boiler
           + short_dup + "x" * 70 + short_dup,
        1: boiler + "".join(rng.choice(alpha) for _ in range(90)),
        # doc 2: unique text, below-L overlap with others only
        2: "".join(rng.choice(alpha) for _ in range(200)),
        # doc 3: shorter than L entirely
        3: "tiny",
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    rows = dedup_span_exact_extents(spark, sf_dir).collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r["doc_id"], set()).update(
            range(r["ext_start"], r["ext_start"] + r["ext_len"])
        )

    # brute force: every duplicated substring of length exactly L
    # (length > L duplicates are unions of their L-windows, so L-grams
    # suffice for coverage — the same theorem, verified independently
    # by counting occurrences with str.find, no hashing)
    from collections import Counter

    grams: Counter = Counter()
    for t in texts.values():
        for i in range(len(t) - _LDS_L + 1):
            grams[t[i:i + _LDS_L]] += 1
    expect: dict[int, set[int]] = {}
    for d, t in texts.items():
        for i in range(len(t) - _LDS_L + 1):
            if grams[t[i:i + _LDS_L]] >= 2:
                # 1-based char positions, matching the query
                expect.setdefault(d, set()).update(
                    range(i + 1, i + 1 + _LDS_L)
                )
    assert got == expect
    assert 0 in got and 1 in got and 2 not in got and 3 not in got


def test_span_exact_excise_matches_bruteforce_first_occurrence(spark, tmp_path):
    """Independent replica (dict-of-grams, str slicing — no Spark, no
    SQL) of the exact excision contract: every duplicated L-gram
    occurrence except the corpus-wide first (ordered by (doc_id, pos))
    is cut; cleaned text = complement of the union of cut intervals."""
    import hashlib
    import random

    from outreach_etl_tool_spark.queries.llm import _LDS_L, dedup_span_exact_excise

    rng = random.Random(23)
    alpha = "abcdefghij "
    boiler = "".join(rng.choice(alpha) for _ in range(150))
    texts = {
        0: "".join(rng.choice(alpha) for _ in range(80)) + boiler,
        1: boiler + "".join(rng.choice(alpha) for _ in range(90)),
        2: "".join(rng.choice(alpha) for _ in range(70)) + boiler + boiler,
        3: "short",
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    # brute force: first-occurrence registry in (doc_id, pos) order
    first_seen: set[str] = set()
    cut: dict[int, set[int]] = {d: set() for d in texts}
    for d in sorted(texts):
        t = texts[d]
        for i in range(len(t) - _LDS_L + 1):
            g = t[i:i + _LDS_L]
            if g in first_seen:
                cut[d].update(range(i, i + _LDS_L))  # 0-based here
            else:
                first_seen.add(g)
    # NOTE: the engine flags rank>=2 among ALL occurrences — a gram's
    # first occurrence stays even when the gram recurs later in the
    # SAME doc, which the sequential first_seen scan reproduces.
    expect = {}
    for d, t in texts.items():
        cleaned = "".join(c for i, c in enumerate(t) if i not in cut[d])
        expect[d] = (len(t), len(cleaned),
                     hashlib.md5(cleaned.encode()).hexdigest())

    got = {
        r["doc_id"]: (r["n_chars"], r["kept_chars"], r["cleaned_md5"])
        for r in dedup_span_exact_excise(spark, sf_dir).collect()
    }
    assert got == expect
    # sanity on the construction itself: doc0 keeps everything (its
    # boiler occurrence is canonical), doc1 loses ~the boiler, doc3
    # (shorter than L) is untouched
    assert got[0][1] == got[0][0]
    assert got[1][1] <= got[1][0] - 150 + (_LDS_L - 1)
    assert got[3][1] == got[3][0]


# ------------------------------------- winnowing screen for the exact tier
def _dup_doc_ids_bruteforce(texts: dict[int, str], L: int) -> set[int]:
    """Docs containing any duplicated L-gram (= any duplicated
    substring of length >= L), by str slicing — no hashing."""
    from collections import Counter

    grams: Counter = Counter()
    for t in texts.values():
        for i in range(len(t) - L + 1):
            grams[t[i : i + L]] += 1
    return {
        d
        for d, t in texts.items()
        if any(
            grams[t[i : i + L]] >= 2 for i in range(len(t) - L + 1)
        )
    }


def test_span_screen_soundness_adversarial(spark):
    """_winnow_screen_ids must flag EVERY document containing a
    duplicated >=L substring — including the adversarial shapes the
    winnowing theorem has to survive: matches at misaligned offsets,
    within-doc OVERLAPPING occurrences (periodic strings), and
    matches of exactly length L."""
    import random

    from outreach_etl_tool_spark.queries.llm import (
        _LDS_L,
        _winnow_screen_ids,
    )

    rng = random.Random(97)
    alpha = "abcdefghij "
    rand = lambda n: "".join(rng.choice(alpha) for _ in range(n))  # noqa: E731
    boiler = rand(100)
    exact_l = rand(_LDS_L)
    texts = {
        # misaligned cross-doc match (offsets differ mod 16)
        0: rand(37) + boiler + rand(20),
        1: rand(3) + boiler + rand(50),
        # periodic: overlapping within-doc duplicates ("ababab...")
        2: "xy" * 80,
        # single-char run: maximal overlap
        3: "z" * 150,
        # exactly-L pair, duplicated within ONE doc
        4: rand(10) + exact_l + rand(12) + exact_l + rand(9),
        # clean docs — must be prunable (soundness doesn't require it,
        # but the screen's point is that these don't fan out)
        5: rand(200),
        6: rand(180),
        # shares only a 63-char substring with docs 0/1 -> NOT a dup
        # at L ("#" is outside alpha, so the match cannot extend)
        7: boiler[-(_LDS_L - 1):] + "#" + rand(100),
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    eligible = df.filter(F.length("text") >= _LDS_L)
    flagged = {r["doc_id"] for r in _winnow_screen_ids(eligible).collect()}
    must_flag = _dup_doc_ids_bruteforce(texts, _LDS_L)
    assert must_flag == {0, 1, 2, 3, 4}  # fixture sanity
    assert must_flag <= flagged, f"screen missed {must_flag - flagged}"
    # pruning actually happens on the clean docs (not a soundness
    # requirement, but the screen exists to prune — if these get
    # flagged the fixture or the density has degraded)
    assert 5 not in flagged and 6 not in flagged


def test_span_screen_soundness_randomized(spark):
    """Seeded randomized corpora: planted shared substrings at random
    lengths >= L and random (unaligned) offsets, plus periodic and
    clean decoys — the screen must never miss a dup-bearing doc, and
    the GATED extents output must equal the brute-force expectation
    (i.e. gating changed nothing)."""
    import random

    from outreach_etl_tool_spark.queries.llm import (
        _LDS_L,
        _winnow_screen_ids,
    )

    alpha = "abcdef "
    for seed in range(5):
        rng = random.Random(1000 + seed)
        rand = lambda n: "".join(  # noqa: E731
            rng.choice(alpha) for _ in range(n)
        )
        shared = rand(rng.randint(_LDS_L, _LDS_L * 3))
        texts: dict[int, str] = {}
        for d in range(8):
            roll = rng.random()
            if roll < 0.35:
                texts[d] = rand(rng.randint(0, 90)) + shared + rand(
                    rng.randint(0, 90)
                )
            elif roll < 0.5:
                period = rand(rng.randint(1, 5))
                texts[d] = period * (200 // len(period))
            else:
                texts[d] = rand(rng.randint(30, 250))
        df = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        eligible = df.filter(F.length("text") >= _LDS_L)
        flagged = {
            r["doc_id"] for r in _winnow_screen_ids(eligible).collect()
        }
        must_flag = _dup_doc_ids_bruteforce(texts, _LDS_L)
        assert must_flag <= flagged, (
            f"seed {seed}: screen missed {must_flag - flagged}"
        )


# ------------------------------------ oracle-parity minhash / simhash
def _parity_tokens(text: str) -> list[str]:
    import re

    return re.findall(r"[a-zA-Z]+", text.lower())


def _parity_shingles(text: str, k: int = 3) -> set[str]:
    toks = _parity_tokens(text)
    if not toks:
        return set()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_parity_minhash_containment_and_recall(spark):
    """The oracle-parity MinHash-LSH pipeline: every reported pair must
    pass the exact-Jaccard >= 0.4 gate (containment — no LSH false
    positive survives the verify), identical docs MUST be reported
    (identical shingle sets -> identical signatures -> shared band,
    recall 1 at j=1.0), the planted high-Jaccard pair must be found
    with the pinned constants (recall floor), and token-less docs never
    pair."""
    from outreach_etl_tool_spark.dedup.parity import minhash_pairs_parity

    texts = {1: BASE, 2: NEAR, 3: FAR, 4: BASE,
             5: "!!! 123 ...", 6: "!!! 123 ...", 7: ""}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_pairs_parity(docs, "doc_id", "text").collect()
    }
    sh = {d: _parity_shingles(t) for d, t in texts.items()}
    exact = {}
    for a in texts:
        for b in texts:
            if a < b and sh[a] and sh[b]:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= 0.4:
                    exact[(a, b)] = j
    # containment: reported <= exact (and the jaccard values agree)
    for pair, j in got.items():
        assert pair in exact and abs(j - exact[pair]) < 1e-12, (pair, j)
    # guaranteed recall at j=1.0: the identical pair is in
    assert (1, 4) in got and got[(1, 4)] == 1.0
    # identical but token-less docs have no shingles, so never pair
    assert all(p[0] < 5 and p[1] < 5 for p in got)
    # pinned-constant recall floor: the planted near-pair is found
    assert (1, 2) in got


def test_parity_simhash_equals_bruteforce_hamming_ball(spark):
    """SimHash parity is pigeonhole-EXHAUSTIVE: the reported pair set
    must EQUAL the brute-force Hamming<=3 ball over the 60-bit
    frequency-weighted md5-prefix fingerprints — an independent
    Python replica (hashlib, dict votes, no Spark/SQL)."""
    import hashlib

    from outreach_etl_tool_spark.dedup.parity import (
        _SH_BITS,
        _SH_MAXHAM,
        simhash_pairs_parity,
    )

    texts = {
        1: BASE,
        2: NEAR,
        3: FAR,
        4: BASE,
        5: BASE.replace("the", "a"),
        6: "tiny text here",
    }

    def fingerprint(text: str) -> int:
        votes = [0] * _SH_BITS
        for t in _parity_tokens(text):
            h = int(
                hashlib.md5(t.encode()).hexdigest()[: _SH_BITS // 4], 16
            )
            for j in range(_SH_BITS):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(_SH_BITS) if votes[j] > 0)

    fps = {d: fingerprint(t) for d, t in texts.items() if _parity_tokens(t)}
    expect = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= _SH_MAXHAM
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs_parity(docs, "doc_id", "text").collect()
    }
    assert got == expect
    assert (1, 4) in got and got[(1, 4)] == 0  # identical docs


# ------------------------------------------------- winnowing fingerprints
def test_winnowing_guarantee_detects_long_shared_substring(spark, tmp_path):
    """Schleimer et al. guarantee: two docs sharing a substring of
    length >= w+k-1 must share at least one selected fingerprint —
    regardless of alignment (the property stride-based screens lack)."""
    import random

    from outreach_etl_tool_spark.queries.llm import (
        _WIN_K, _WIN_W, winnow_fingerprints,
    )

    rng = random.Random(7)
    alpha = "abcdefghij "
    shared = "".join(rng.choice(alpha) for _ in range(_WIN_K + _WIN_W - 1))
    texts = {
        # deliberately misaligned offsets (31 vs 4): a stride-16
        # 64-char screen can miss this, winnowing cannot
        0: "".join(rng.choice(alpha) for _ in range(31)) + shared
           + "".join(rng.choice(alpha) for _ in range(40)),
        1: "".join(rng.choice(alpha) for _ in range(4)) + shared
           + "".join(rng.choice(alpha) for _ in range(55)),
        2: "".join(rng.choice(alpha) for _ in range(120)),
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = winnow_fingerprints(spark, str(tmp_path)).collect()
    assert any(r["n_docs"] >= 2 for r in rows), "guarantee violated"
    assert all(r["first_doc"] in (0, 1) for r in rows)


def test_winnowing_density_well_below_stride1(spark, tmp_path):
    """Winnowing's point is the 2/(w+1) expected density: on random
    text the fingerprint count per doc must be a small fraction of the
    gram count (here: comfortably under 2x the expected density)."""
    import random

    from pyspark.sql import functions as F

    from outreach_etl_tool_spark.catalog import load_table  # noqa: F401
    from outreach_etl_tool_spark.queries.llm import _WIN_K, _WIN_W

    rng = random.Random(3)
    text = "".join(rng.choice("abcdefghijklmnop ") for _ in range(2000))
    df = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    # count distinct selected fingerprints directly via the same plan
    # pieces the query uses (windows CTE), not the >=2-docs filter
    from pyspark.sql.window import Window

    last = (F.length("text") - _WIN_K).cast("bigint")
    grams = df.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias("k"),
    ).select(
        "doc_id", (F.col("k") + 1).alias("pos"),
        F.md5(F.col("text").substr((F.col("k") + 1).cast("int"),
                                   F.lit(_WIN_K))).alias("h"),
    )
    enc = F.concat(F.col("h"),
                   F.format_string("%08d", F.lit(100000000) - F.col("pos")))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    n = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    sel = grams.select(
        "doc_id", "pos",
        F.min(enc).over(wd.rowsBetween(0, _WIN_W - 1)).alias("sel"),
        n.alias("n_grams"),
    ).filter(F.col("pos") <= F.col("n_grams") - _WIN_W + 1)
    n_grams = sel.count()
    n_fps = sel.select("sel").distinct().count()
    density = n_fps / n_grams
    expected = 2 / (_WIN_W + 1)
    assert density < 2 * expected, (density, expected)
    assert n_fps > 0


# ---------------------------------------------------- token-level spans
def test_token_spans_whitespace_canonical_and_bruteforce(spark, tmp_path):
    """Token windows canonicalize whitespace: two docs with identical
    token sequences but different spacing must flag each other (the
    char-level family cannot see this). Extents must equal the
    brute-force token replica."""
    import random

    from outreach_etl_tool_spark.queries.llm import _TOK_T, dedup_token_spans

    rng = random.Random(13)
    words = [f"w{rng.randrange(1000)}" for _ in range(_TOK_T + 6)]
    texts = {
        0: " ".join(words) + " " + " ".join(
            f"u{i}" for i in range(10)),
        # same tokens, newlines + double spaces
        1: "\n".join(words[:11]) + "  " + "\t".join(words[11:]) + " " +
           " ".join(f"v{i}" for i in range(12)),
        2: " ".join(f"z{i}" for i in range(30)),
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {}
    for r in dedup_token_spans(spark, str(tmp_path)).collect():
        got.setdefault(r["doc_id"], set()).update(
            range(r["tok_start"], r["tok_start"] + r["tok_len"])
        )

    from collections import Counter

    toks = {d: [w for w in t.split()] for d, t in texts.items()}
    wins: Counter = Counter()
    for tl in toks.values():
        for i in range(len(tl) - _TOK_T + 1):
            wins[" ".join(tl[i:i + _TOK_T])] += 1
    expect: dict[int, set[int]] = {}
    for d, tl in toks.items():
        for i in range(len(tl) - _TOK_T + 1):
            if wins[" ".join(tl[i:i + _TOK_T])] >= 2:
                expect.setdefault(d, set()).update(
                    range(i + 1, i + 1 + _TOK_T)  # 1-based
                )
    assert got == expect
    assert 0 in got and 1 in got and 2 not in got


def test_span_incremental_flags_history_and_batch_dups_only(spark, tmp_path):
    """Incremental contract: new-batch (odd doc_id) extents are flagged
    iff covered by grams in the history store (even doc_id) or repeated
    within the batch; unique new content never flags; history docs
    never appear in the output."""
    import random

    from outreach_etl_tool_spark.queries.llm import (
        _LDS_L, dedup_span_incremental,
    )

    rng = random.Random(31)
    alpha = "abcdefgh "
    hist_boiler = "".join(rng.choice(alpha) for _ in range(100))
    batch_boiler = "".join(rng.choice(alpha) for _ in range(90))
    texts = {
        0: hist_boiler + "".join(rng.choice(alpha) for _ in range(50)),  # history
        2: "".join(rng.choice(alpha) for _ in range(120)),               # history
        1: "".join(rng.choice("jklmn ") for _ in range(40)) + hist_boiler,  # new: dups history
        3: batch_boiler + "".join(rng.choice("opqrs ") for _ in range(30)),  # new: dups doc 5
        5: "".join(rng.choice("tuvwx ") for _ in range(25)) + batch_boiler,  # new: dups doc 3
        7: "".join(rng.choice("yz12 ") for _ in range(150)),             # new: unique
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    rows = dedup_span_incremental(spark, str(tmp_path)).collect()
    by_doc: dict[int, set[int]] = {}
    for r in rows:
        assert r["doc_id"] % 2 == 1  # only new-batch docs reported
        by_doc.setdefault(r["doc_id"], set()).update(
            range(r["ext_start"], r["ext_start"] + r["ext_len"])
        )
    assert 1 in by_doc and 3 in by_doc and 5 in by_doc
    assert 7 not in by_doc                      # unique content clean
    # doc 1's flagged extent covers its history-boiler region
    start1 = texts[1].index(hist_boiler) + 1
    assert set(range(start1, start1 + 100)) <= by_doc[1]
    # doc 3 / doc 5 flag each other's shared batch boiler
    assert set(range(1, 91)) <= by_doc[3]
    start5 = texts[5].index(batch_boiler) + 1
    assert set(range(start5, start5 + 90)) <= by_doc[5]


def test_setsim_join_threshold_boundary_and_prefix_recall(spark, tmp_path):
    """Exact τ=0.9 semantics at the boundary: a pair at Jaccard
    exactly 0.9 is included (>=, integer gate), just below is
    excluded; the prefix filter loses nothing (result equals the
    definitionally-computed pair set)."""
    from itertools import combinations

    from outreach_etl_tool_spark.queries.llm import dedup_setsim_join

    # doc 0: tokens t0..t9 (10); doc 1: t0..t8 (9) -> inter 9, union
    # 10, J = 0.9 exactly -> IN. doc 2: t0..t8 + u (10) vs doc 0:
    # inter 9, union 11, J = 9/11 -> OUT. doc 2 vs doc 1: inter 9,
    # union 10 -> IN.
    texts = {
        0: " ".join(f"t{i}" for i in range(10)),
        1: " ".join(f"t{i}" for i in range(9)),
        2: " ".join(f"t{i}" for i in range(9)) + " u0",
        3: " ".join(f"z{i}" for i in range(10)),  # unrelated
    }
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_union"])
        for r in dedup_setsim_join(spark, str(tmp_path)).collect()
    }

    # definitional replica
    sets = {d: set(t.split()) for d, t in texts.items()}
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if 10 * inter >= 9 * union:
            expect[(a, b)] = (inter, union)
    assert got == expect
    assert (0, 1) in got and (1, 2) in got and (0, 2) not in got


def test_decontaminate_semantic_registry_query_nonempty(spark):
    """Non-triviality pin on the driver corpus (the funnel-degeneracy
    lesson: an oracle-green query can still certify empty output) —
    the synthetic embeddings contain genuine tau>=0.4 cross-split
    neighbors, so the flag set must be non-empty and train-side."""
    from outreach_etl_tool_spark.queries.llm import decontaminate_semantic

    rows = decontaminate_semantic(spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert all(
        r["vec_id"] % 7 != 0 and r["closest_eval_id"] % 7 == 0 for r in rows
    )


def test_decontaminate_semantic_ivf_planted_paraphrases(spark, monkeypatch):
    """The scale tier finds planted paraphrases too: a near-duplicate
    shares its original's argmax k-means cell by a large margin, so
    nprobe=1 cell co-membership recovers the planted (train, eval)
    pairs with the right closest-eval choice — the recall contract
    that justifies the SRP->IVF handoff at the production cosine
    regime (~0.99)."""
    import outreach_etl_tool_spark.queries.llm as L

    rng = np.random.RandomState(23)
    rows, truth = [], {}
    tid = 1001
    for i in range(1, 13):
        e = 7 * i
        base = rng.standard_normal(64)
        near = base + rng.standard_normal(64) * 0.05
        if tid % 7 == 0:
            tid += 1
        rows.append((e, [float(x) for x in base], 0))
        rows.append((tid, [float(x) for x in near], 0))
        truth[tid] = e
        tid += 1
    for _ in range(40):
        if tid % 7 == 0:
            tid += 1
        rows.append((tid, [float(x) for x in rng.standard_normal(64)], 0))
        tid += 1
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(L, "load_table", lambda *a: embs)
    res = L.decontaminate_semantic_ivf(spark, "no-such-dir").collect()
    got = {r["vec_id"]: r["closest_eval_id"] for r in res}
    found = sum(1 for t, e in truth.items() if got.get(t) == e)
    assert found >= 10, f"planted recall {found}/12: {got}"
    vecs = {
        vid: np.asarray(v, dtype=np.float32).astype(float)
        for vid, v, _ in rows
    }
    for r in res:
        assert r["vec_id"] % 7 != 0 and r["closest_eval_id"] % 7 == 0, r
        a, b = vecs[r["vec_id"]], vecs[r["closest_eval_id"]]
        exact_cos = float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )
        assert exact_cos >= 0.40 - 1e-5, (r, exact_cos)


# ----------------------------------------------- IVF soundness checks
def test_semdedup_ivf_nonvacuous_and_check_certifies(spark):
    """The certificate's zero-violation legs would pass vacuously if
    the IVF tier emitted nothing — pin that on the driver corpus the
    tier actually prunes vectors, and that the check row reports a
    non-trivial exact universe with all violation legs at zero."""
    from outreach_etl_tool_spark.queries.llm import (
        semdedup_ivf, semdedup_ivf_check,
    )

    sf = "/root/testdata/sf0.01"
    out = semdedup_ivf(spark, sf).collect()
    n_pruned = sum(1 for r in out if not r["is_keep"])
    assert n_pruned > 0
    row = semdedup_ivf_check(spark, sf).collect()[0]
    assert row["n_exact_tau_pairs"] > 0
    assert row["n_emitted_unsound"] == 0
    assert row["n_srp_overlap_disagree"] == 0
    assert row["n_pruned_without_tau_mate"] == 0


def test_decon_ivf_nonvacuous_and_check_certifies(spark):
    """Same non-vacuity pin for the cross-set tier: the IVF decon
    flags train vectors on the driver corpus, and the certificate's
    universe/SRP counts are non-trivial with zero violations."""
    from outreach_etl_tool_spark.queries.llm import (
        decontaminate_semantic_ivf, decontaminate_semantic_ivf_check,
    )

    sf = "/root/testdata/sf0.01"
    assert decontaminate_semantic_ivf(spark, sf).count() > 0
    row = decontaminate_semantic_ivf_check(spark, sf).collect()[0]
    assert row["n_exact_cross_pairs"] > 0
    assert row["n_srp_flagged"] > 0
    assert row["n_flagged_unsound"] == 0
    assert row["n_cosine_mismatch"] == 0


def test_exact_tau_pairs_matches_numpy_bruteforce(spark):
    """The certificates' reference set is itself verified against an
    independent numpy brute force on a random frame (the oracle shares
    the derivation shape — round-8 lesson)."""
    from outreach_etl_tool_spark.queries.llm import _exact_tau_pairs

    rng = np.random.RandomState(7)
    vecs = {}
    rows = []
    for vid in range(60):
        v = rng.standard_normal(64)
        if vid % 5 == 0 and vid > 0:  # plant near-dups of vid-1
            v = vecs[vid - 1] + rng.standard_normal(64) * 0.1
        vecs[vid] = v
        rows.append((vid, [float(x) for x in v]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in _exact_tau_pairs(embs).collect()
    }
    expect = set()
    for a in range(60):
        for b in range(a + 1, 60):
            qa = np.floor(
                np.asarray(vecs[a], dtype=np.float32).astype(np.float64)
                * 1_000_000
            ).astype(np.int64)
            qb = np.floor(
                np.asarray(vecs[b], dtype=np.float32).astype(np.float64)
                * 1_000_000
            ).astype(np.int64)
            dq = int(np.dot(qa, qb))
            na, nb = int(np.dot(qa, qa)), int(np.dot(qb, qb))
            if dq > 0 and 25 * dq * dq >= 4 * na * nb:
                expect.add((a, b))
    assert got == expect and expect


def test_decontamination_report_ivf_shares_nonsemantic_tiers(spark):
    """The scale variant differs from the oracled report ONLY in the
    semantic leg: extents and ngram columns must be row-identical, the
    IVF semantic flags must be tau-sound train-side rows, and the
    variant must be non-vacuous on the driver corpus."""
    from outreach_etl_tool_spark.queries.llm import (
        decontamination_report, decontamination_report_ivf,
    )

    sf = "/root/testdata/sf0.01"
    base = {
        r["doc_id"]: (r["n_extents"], r["extent_chars"], r["ngram_hits"])
        for r in decontamination_report(spark, sf).collect()
    }
    ivf_rows = decontamination_report_ivf(spark, sf).collect()
    got = {
        r["doc_id"]: (r["n_extents"], r["extent_chars"], r["ngram_hits"])
        for r in ivf_rows
    }
    assert got == base
    sem = [r for r in ivf_rows if r["closest_eval_id"] is not None]
    assert sem  # non-vacuous semantic leg
    assert all(
        r["doc_id"] % 7 != 0 and r["closest_eval_id"] % 7 == 0 for r in sem
    )


# -------------------------- certificates catch what they claim to
def test_semdedup_ivf_check_detects_unsound_pair(spark, monkeypatch):
    """Fail-loud proof: if the IVF tier emitted a pair that does NOT
    clear the exact tau-gate, the certificate's violation leg goes
    nonzero (and would hash-mismatch the driver gate)."""
    import outreach_etl_tool_spark.queries.llm as L

    real_parts = L._semdedup_ivf_parts

    def tampered(spark_, sf_dir):
        pairs, comps = real_parts(spark_, sf_dir)
        # ids 2 and 3 exist; their cosine ~0 on the synthetic corpus,
        # far below tau=0.4 -> an unsound emission
        bogus = spark_.createDataFrame([(2, 3)], "id_a long, id_b long")
        return pairs.unionByName(bogus), comps

    monkeypatch.setattr(L, "_semdedup_ivf_parts", tampered)
    row = L.semdedup_ivf_check(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_emitted_unsound"] >= 1


def test_sim_ann_ivf_check_detects_fabricated_result(spark, monkeypatch):
    """A fabricated ANN hit with an impossible cosine must trip both
    the recomputation-mismatch leg and the bounded-by-exact leg."""
    import outreach_etl_tool_spark.queries.llm as L

    real = L.sim_ann_ivf

    def tampered(spark_, sf_dir):
        df = real(spark_, sf_dir)
        bogus = spark_.createDataFrame([(7, 2.0)], "vec_id long, cos_sim double")
        return df.limit(24).unionByName(bogus)

    monkeypatch.setattr(L, "sim_ann_ivf", tampered)
    row = L.sim_ann_ivf_check(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_cosine_mismatch"] >= 1
    assert row["ann_best_bounded"] is False


def test_bpe_train_check_detects_order_violation(spark, monkeypatch):
    """Tampered merge rules with an increasing pair frequency trip the
    non-increasing invariant leg; a wrong first rule shifts the anchor
    columns (which the driver's hash gate compares against SQL)."""
    import outreach_etl_tool_spark.queries.llm as L

    def tampered(spark_, sf_dir):
        return spark_.createDataFrame(
            [(0, "zz", "qq", 3), (1, "a", "b", 99)],
            "rank int, left string, right string, pair_freq long",
        )

    monkeypatch.setattr(L, "bpe_train", tampered)
    row = L.bpe_train_check(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_freq_order_violations"] >= 1
    assert (row["first_left"], row["first_right"]) == ("zz", "qq")


def test_unigram_train_check_detects_broken_coverage(spark, monkeypatch):
    """A pieces table missing single-char coverage and containing an
    invented piece trips both pinned legs."""
    import outreach_etl_tool_spark.queries.llm as L

    def tampered(spark_, sf_dir):
        return spark_.createDataFrame(
            [("qzxj", -1.0, 1.0)],  # not a substring; no singles at all
            "piece string, log_prob double, expected_count double",
        )

    monkeypatch.setattr(L, "unigram_train", tampered)
    row = L.unigram_train_check(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_missing_singles"] >= 1
    assert row["n_pieces_not_substring"] >= 1


# ---------------------------------------------------------------------------
# PII span family: independent pure-Python replica (re + hashlib, no
# Spark/SQL logic shared) over the planted-contamination view, plus
# the non-triviality counts the memory rule requires for planted
# fixtures.
# ---------------------------------------------------------------------------
def _pii_replica_rows(sf_dir):
    import re

    import duckdb

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    pats = [
        ("email", re.compile(r"^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$")),
        ("phone", re.compile(r"^[0-9]{3}-[0-9]{3}-[0-9]{4}$")),
        (
            "ipv4",
            re.compile(
                r"^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
                r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}$"
            ),
        ),
    ]
    cc_pat = re.compile(r"^[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}$")

    def luhn_sum(digits: str) -> int:
        # independent formulation: positions counted from the RIGHT,
        # double every second digit starting at position 2
        total = 0
        for p, ch in enumerate(reversed(digits), start=1):
            d = int(ch)
            if p % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total

    out = {}  # doc_id -> (ctext, [(type, start, len, tok)])
    for doc_id, text in docs:
        if doc_id % 3 == 0:
            ctext = f"{text} contact user{doc_id}@example.com"
        elif doc_id % 3 == 1:
            ctext = (
                f"{text} call 555-{doc_id % 1000:03d}-{doc_id % 10000:04d}"
            )
        else:
            ctext = text
        if doc_id % 5 == 0:
            ctext += (
                f" from 10.{doc_id % 256}"
                f".{(doc_id % 65536) // 256}.{doc_id % 251}"
            )
        if doc_id % 7 in (0, 3):
            b15 = f"400000{doc_id % 1000000000:09d}"
            chk = (10 - luhn_sum(b15 + "0") % 10) % 10
            if doc_id % 7 == 3:
                chk = (chk + 1) % 10  # card-shaped, Luhn-INVALID
            cc = f"{b15}{chk}"
            ctext += f" pay {cc[0:4]}-{cc[4:8]}-{cc[8:12]}-{cc[12:16]}"
        spans = []
        start = 1
        for tok in ctext.split(" "):
            matched = None
            for name, pat in pats:
                if pat.match(tok):
                    matched = name
                    break
            if matched is None and cc_pat.match(tok):
                if luhn_sum(tok.replace("-", "")) % 10 == 0:
                    matched = "ccard"
            if matched is not None:
                spans.append((matched, start, len(tok), tok))
            start += len(tok) + 1
        out[doc_id] = (ctext, spans)
    return out


def test_pii_extents_matches_python_replica(spark):
    from outreach_etl_tool_spark.queries.llm import pii_extents

    sf = "/root/testdata/sf0.001"
    replica = _pii_replica_rows(sf)
    expected = [
        (doc_id, name, start, ln, tok)
        for doc_id, (_, spans) in sorted(replica.items())
        for (name, start, ln, tok) in spans
    ]
    got = [
        (r["doc_id"], r["pii_type"], r["span_start"], r["span_len"], r["matched"])
        for r in pii_extents(spark, sf).collect()
    ]
    assert got == expected
    # planted-fixture non-triviality: each detector fires substantially
    by_type = {}
    for _, name, *_ in expected:
        by_type[name] = by_type.get(name, 0) + 1
    assert by_type["email"] >= 100
    assert by_type["phone"] >= 100
    assert by_type["ipv4"] >= 80
    assert by_type["ccard"] >= 60
    # the Luhn-INVALID plants (doc_id%7==3) are card-SHAPED but must
    # never be detected — shape alone is not PII
    invalid_docs = {d for d in replica if d % 7 == 3}
    assert len(invalid_docs) >= 60
    assert all(
        name != "ccard" for d, name, *_ in expected if d % 7 == 3
    )
    # multi-span docs exist (coprime plant mods)
    from collections import Counter

    per_doc = Counter(d for d, *_ in expected)
    assert max(per_doc.values()) >= 2


def test_pii_excise_md5_matches_python_replica(spark):
    import hashlib

    from outreach_etl_tool_spark.queries.llm import pii_excise

    sf = "/root/testdata/sf0.001"
    replica = _pii_replica_rows(sf)
    expected = {}
    n_changed = 0
    for doc_id, (ctext, spans) in replica.items():
        cleaned = ctext
        for _, start, ln, _ in sorted(spans, reverse=True, key=lambda s: s[1]):
            cleaned = cleaned[: start - 1] + cleaned[start - 1 + ln :]
        if cleaned != ctext:
            n_changed += 1
        expected[doc_id] = (
            len(ctext),
            len(cleaned),
            hashlib.md5(cleaned.encode()).hexdigest(),
        )
    rows = pii_excise(spark, sf).collect()
    assert len(rows) == len(expected)  # every doc passes through
    for r in rows:
        assert (
            r["n_chars"],
            r["kept_chars"],
            r["cleaned_md5"],
        ) == expected[r["doc_id"]], r["doc_id"]
    assert n_changed >= 300  # the scrub actually cut text


# ---------------------------------------------------------------------------
# Sampled certificate mode: the O(emitted) violation detectors stay
# exhaustive — tampered emissions must trip them even though the
# universe anchor is sampled.
# ---------------------------------------------------------------------------
def test_semdedup_ivf_check_sampled_detects_unsound_pair(spark, monkeypatch):
    """An unsound emitted pair (cosine far below tau) trips the
    per-pair recompute leg of the SAMPLED certificate — soundness is
    not sampled."""
    import outreach_etl_tool_spark.queries.llm as L

    real_parts = L._semdedup_ivf_parts

    def tampered(spark_, sf_dir):
        pairs, comps = real_parts(spark_, sf_dir)
        bogus = spark_.createDataFrame([(2, 3)], "id_a long, id_b long")
        return pairs.unionByName(bogus), comps

    monkeypatch.setattr(L, "_semdedup_ivf_parts", tampered)
    row = L.semdedup_ivf_check_sampled(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_emitted_unsound"] >= 1


def test_decon_ivf_check_sampled_detects_fabricated_flag(spark, monkeypatch):
    """A fabricated flagged (train, eval) pair with an impossible
    cosine trips the sampled certificate's recompute legs: the pair
    fails the exact tau gate (unsound leg), and a tampered cosine on a
    REAL pair trips the bit-match leg."""
    import outreach_etl_tool_spark.queries.llm as L

    real = L.decontaminate_semantic_ivf

    def tampered(spark_, sf_dir):
        df = real(spark_, sf_dir)
        # vec_ids 2 (train) and 7 (eval) exist; cosine ~0 on the
        # synthetic corpus -> fails the tau gate on recompute
        bogus = spark_.createDataFrame(
            [(2, 7, 0.99)], "vec_id long, closest_eval_id long, cosine double"
        )
        return df.unionByName(bogus)

    monkeypatch.setattr(L, "decontaminate_semantic_ivf", tampered)
    row = L.decontaminate_semantic_ivf_check_sampled(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert row["n_flagged_unsound"] >= 1


def test_decon_ivf_check_sampled_detects_cosine_tamper(spark, monkeypatch):
    """Perturbing a REAL flagged pair's reported cosine (the emission
    is tau-sound, the value is wrong) trips the bit-match leg."""
    import outreach_etl_tool_spark.queries.llm as L
    from pyspark.sql import functions as F

    real = L.decontaminate_semantic_ivf

    def tampered(spark_, sf_dir):
        df = real(spark_, sf_dir)
        return df.withColumn(
            "cosine", F.col("cosine") + F.lit(1e-9)
        )

    monkeypatch.setattr(L, "decontaminate_semantic_ivf", tampered)
    row = L.decontaminate_semantic_ivf_check_sampled(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert row["n_cosine_mismatch"] >= 1


def test_semdedup_ivf_check_sampled_detects_missing_id_pair(spark, monkeypatch):
    """ADVICE r11 hole closed: an emitted pair referencing an id ABSENT
    from the dim-filtered scan (fabricated id, or a vector the dim
    filter dropped) must count as unsound — an inner-join recompute
    would silently drop it from n_emitted_unsound."""
    import outreach_etl_tool_spark.queries.llm as L

    real_parts = L._semdedup_ivf_parts

    def tampered(spark_, sf_dir):
        pairs, comps = real_parts(spark_, sf_dir)
        bogus = spark_.createDataFrame(
            [(2, 999_999_999)], "id_a long, id_b long"
        )
        return pairs.unionByName(bogus), comps

    monkeypatch.setattr(L, "_semdedup_ivf_parts", tampered)
    row = L.semdedup_ivf_check_sampled(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_emitted_unsound"] >= 1


def test_decon_ivf_check_sampled_detects_missing_id_flag(spark, monkeypatch):
    """A flagged pair whose train id does not exist in the embeddings
    trips the unsound leg of the sampled decon certificate (same
    missing-id discipline as the full-universe left_anti form)."""
    import outreach_etl_tool_spark.queries.llm as L

    real = L.decontaminate_semantic_ivf

    def tampered(spark_, sf_dir):
        df = real(spark_, sf_dir)
        bogus = spark_.createDataFrame(
            [(999_999_999, 7, 0.99)],
            "vec_id long, closest_eval_id long, cosine double",
        )
        return df.unionByName(bogus)

    monkeypatch.setattr(L, "decontaminate_semantic_ivf", tampered)
    row = L.decontaminate_semantic_ivf_check_sampled(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert row["n_flagged_unsound"] >= 1


def test_sampled_certificates_nonvacuous(spark):
    """The sampled universe anchors are nonzero at driver scale (the
    id%4 sample still sees real tau geometry) and the tiers emit."""
    import outreach_etl_tool_spark.queries.llm as L

    row = L.semdedup_ivf_check_sampled(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_exact_tau_pairs_sampled"] >= 1
    pairs, _ = L._semdedup_ivf_parts(spark, "/root/testdata/sf0.01")
    assert pairs.count() >= 1


def test_hard_negative_mining_invariants(spark):
    """Contrastive-prep invariants (round-12): every anchor carries
    exactly 3 hard negatives (ranked 1..3 by descending cosine), at
    most one positive, every positive passes the tau=2/5 gate while
    every negative fails it (cos < 0.4), and hence each anchor's
    positive out-ranks all of its negatives. Driver data is
    non-degenerate: some anchor HAS a positive."""
    from collections import defaultdict

    from outreach_etl_tool_spark.queries.llm import (
        _HNM_NEGATIVES,
        hard_negative_mining,
    )

    rows = hard_negative_mining(spark, "/root/testdata/sf0.01").collect()
    per = defaultdict(lambda: {"pos": [], "neg": []})
    for r in rows:
        per[r["query_id"]][r["role"]].append((r["rank"], r["cosine"]))
    assert len(per) >= 5
    assert any(v["pos"] for v in per.values())  # non-degenerate
    for qid, v in per.items():
        assert len(v["pos"]) <= 1
        assert len(v["neg"]) == _HNM_NEGATIVES, qid
        ranks = sorted(rk for rk, _ in v["neg"])
        assert ranks == [1, 2, 3]
        cosines = [c for _, c in sorted(v["neg"])]
        assert cosines == sorted(cosines, reverse=True)  # desc by rank
        for _, c in v["neg"]:
            assert c < 0.4
        for _, c in v["pos"]:
            assert c >= 0.4
            assert all(c > cn for _, cn in v["neg"])


def test_hard_negative_mining_ivf_planted_recall(spark):
    """The IVF scale tier (round-13 — VERDICT r12 #1) recovers planted
    positives: each anchor's near-duplicate (cos ~0.999, passes the
    tau=2/5 gate) shares the anchor's argmax k-means cell by a large
    margin, so nprobe=1 cell mining returns it as the rank-1 positive
    for nearly every anchor; emitted rows obey the same pos/neg
    invariants as the certificate tier (every pos >= 0.4, every neg
    < 0.4, pos out-ranks negs)."""
    from pyspark.sql import functions as F

    from outreach_etl_tool_spark.queries.llm import (
        hard_negative_mining_ivf_frame,
    )

    rng = np.random.RandomState(31)
    rows, truth = [], {}
    pid = 2001
    for i in range(1, 13):
        a = 53 * i
        base = rng.standard_normal(64)
        near = base + rng.standard_normal(64) * 0.03
        rows.append((a, [float(x) for x in base]))
        rows.append((pid, [float(x) for x in near]))
        truth[a] = pid
        pid += 1
    for _ in range(60):
        rows.append((pid, [float(x) for x in rng.standard_normal(64)]))
        pid += 1
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    anchors = embs.select(F.col("vec_id").alias("id")).filter(
        F.col("id") % 53 == 0
    )
    res = hard_negative_mining_ivf_frame(embs, anchors, k=16).collect()
    pos = {
        r["query_id"]: r["vec_id"] for r in res if r["role"] == "pos"
    }
    found = sum(1 for a, p in truth.items() if pos.get(a) == p)
    assert found >= 10, f"planted recall {found}/12: {pos}"
    for r in res:
        if r["role"] == "pos":
            assert r["cosine"] >= 0.4 and r["rank"] == 1
        else:
            assert r["cosine"] < 0.4 and 1 <= r["rank"] <= 3


def test_dedup_split_leakage_labels_and_regimes(spark):
    """Split-leakage audit (round-13): the pair universe is EXACTLY
    the oracled dedup_minhash set, every split label matches an
    independent hashlib replica of the 80/10/10 bucket rule, the
    leaky flag is exactly label inequality, and the driver corpus is
    non-degenerate (both leaky and same-split near-dup pairs exist)."""
    import hashlib

    from outreach_etl_tool_spark.queries.llm import (
        dedup_minhash,
        dedup_split_leakage,
    )

    sf = "/root/testdata/sf0.01"
    got = dedup_split_leakage(spark, sf).collect()
    base = {
        (r["id_a"], r["id_b"]) for r in dedup_minhash(spark, sf).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in got} == base

    def split(did):
        b = int(
            hashlib.md5(f"split#{did}".encode()).hexdigest()[:8], 16
        ) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    for r in got:
        assert r["split_a"] == split(r["id_a"])
        assert r["split_b"] == split(r["id_b"])
        assert r["leaky"] == (r["split_a"] != r["split_b"])
    assert any(r["leaky"] for r in got)
    assert any(not r["leaky"] for r in got)


def test_dedup_split_repair_zero_leak_and_scope(spark):
    """Split-leakage repair (round-14 — VERDICT r13 #5): after
    reassigning every near-dup cluster to its min-id member's split,

    - ZERO pairs of the oracled dedup_minhash set straddle the
      repaired split (the audit's leaky set is emptied);
    - the repair touches ONLY clustered docs (output ids == the ids
      appearing in at least one near-dup pair, exactly);
    - cluster roots keep their own split (the keeper never moves),
      labels match the independent hashlib replica, `changed` is
      exactly the relabel indicator, and the driver corpus is
      non-degenerate (some doc actually changed split).
    """
    import hashlib

    from outreach_etl_tool_spark.queries.llm import (
        dedup_minhash,
        dedup_split_repair,
    )

    sf = "/root/testdata/sf0.01"
    rows = dedup_split_repair(spark, sf).collect()
    pairs = {
        (r["id_a"], r["id_b"]) for r in dedup_minhash(spark, sf).collect()
    }
    clustered = {d for p in pairs for d in p}
    assert {r["doc_id"] for r in rows} == clustered

    def split(did):
        b = int(
            hashlib.md5(f"split#{did}".encode()).hexdigest()[:8], 16
        ) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    repaired = {r["doc_id"]: r["split_repaired"] for r in rows}
    for a, b in pairs:
        assert repaired[a] == repaired[b], (a, b)  # zero-leak
    for r in rows:
        assert r["split_orig"] == split(r["doc_id"])
        assert r["split_repaired"] == split(r["cluster_id"])
        assert r["changed"] == (r["split_orig"] != r["split_repaired"])
        assert r["cluster_id"] <= r["doc_id"]  # min-id root
        if r["doc_id"] == r["cluster_id"]:  # the keeper never moves
            assert not r["changed"]
    assert any(r["changed"] for r in rows)  # non-degenerate regime
