"""Property-based tests (SURVEY.md §5.5): flatten invariants, dedup
idempotence, union-by-name alignment. flatten_record properties run
driver-side (no Spark) so hypothesis can explore freely."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from outreach_etl_tool_spark.dedup import exact
from outreach_etl_tool_spark.ingest import flatten_record

# nested JSON: scalars at leaves, dicts/lists as branches; keys avoid
# the separator so paths are unambiguous and invertible
_KEYS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x7F),
    min_size=1, max_size=6,
)
_SCALARS = st.one_of(
    st.none(), st.booleans(), st.integers(-10**9, 10**9),
    st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=12),
)
_JSON = st.recursive(
    _SCALARS,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(_KEYS, inner, max_size=4),
    ),
    max_leaves=20,
)


def leaves(node, path=""):
    if isinstance(node, dict):
        for k, v in node.items():
            yield from leaves(v, f"{path}{k}_")
    elif isinstance(node, list):
        for i, v in enumerate(node):
            yield from leaves(v, f"{path}{i}_")
    else:
        yield path[:-1], node


@given(st.dictionaries(_KEYS, _JSON, max_size=5))
@settings(max_examples=200, deadline=None)
def test_flatten_emits_every_leaf_exactly_once(rec):
    flat = flatten_record(rec)
    # every leaf path appears with its exact value, nothing else (empty
    # containers vanish — the reference drops them too: only leaves
    # assign; lowercase-only keys make paths collision-free)
    assert flat == dict(leaves(rec))


@given(st.dictionaries(_KEYS, _SCALARS, min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_flatten_flat_input_is_identity(rec):
    assert flatten_record(rec) == rec


def test_dedup_idempotent_and_order_free(spark):
    rows = [(i, f"text-{i % 7}") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, text string")

    def groups(frame):
        return sorted(
            (r["keep_id"], r["n_copies"])
            for r in exact.dedup_groups(frame, "text", "id").collect()
        )

    once = groups(df)
    assert [k for k, _ in once] == [0, 1, 2, 3, 4, 5, 6]
    assert sum(n for _, n in once) == 50
    assert groups(df.repartition(7)) == once
    kept = df.join(
        spark.createDataFrame([(k,) for k, _ in once], "id long"), "id", "left_semi"
    )
    assert groups(kept) == [(k, 1) for k, _ in once]


def test_union_by_name_alignment(spark):
    a = spark.createDataFrame([(1, "x")], "id long, a string")
    b = spark.createDataFrame([(2, 3.5)], "id long, b double")
    u = a.unionByName(b, allowMissingColumns=True)
    rows = {r["id"]: (r["a"], r["b"]) for r in u.collect()}
    assert rows[1] == ("x", None)
    assert rows[2] == (None, 3.5)


# --------------------------------------------------------- dup clustering
def _union_find(n_nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference implementation: min-id-per-component via union-find."""
    parent = {v: v for v in n_nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in n_nodes}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0, max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edge_list):
    from outreach_etl_tool_spark.dedup import cluster

    nodes = list(range(25))
    edges = [(a, b) for a, b in edge_list if a != b]
    expected = _union_find(nodes, edges)

    edges_df = spark.createDataFrame(
        edges or [], "id_a long, id_b long"
    )
    nodes_df = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in cluster.connected_components(
            edges_df, nodes_df, id_col="doc_id"
        ).collect()
    }
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0, max_size=30,
    )
)
def test_star_components_match_union_find(spark, edge_list):
    """The large-star/small-star variant reaches the same fixed point
    as union-find on arbitrary small graphs (self-loops, dups, any
    direction)."""
    from outreach_etl_tool_spark.dedup import cluster

    nodes = list(range(25))
    edges = [(a, b) for a, b in edge_list if a != b]
    expected = _union_find(nodes, edges)

    edges_df = spark.createDataFrame(edges or [], "id_a long, id_b long")
    nodes_df = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in cluster.connected_components(
            edges_df, nodes_df, id_col="doc_id", algorithm="star"
        ).collect()
    }
    assert got == expected


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_ppm_codec_identity_property(h, w, seed):
    """encode→decode is the identity for ANY (h, w) uint8 image."""
    import numpy as np

    from outreach_etl_tool_spark.multimodal.ppm import decode_ppm, encode_ppm

    img = np.random.RandomState(seed).randint(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    out = decode_ppm(encode_ppm(img))
    assert out.shape == img.shape and (out == img).all()


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=200, deadline=None)
def test_ppm_decode_never_returns_garbage_on_fuzz(buf):
    """decode_ppm on arbitrary bytes either raises ValueError or
    returns a structurally valid (h>0, w>0, 3) uint8 array whose size
    matches its own header — never a crash, never an inferred-shape
    garbage array (the pre-hardening negative-width failure mode)."""
    import numpy as np

    from outreach_etl_tool_spark.multimodal.ppm import decode_ppm

    try:
        img = decode_ppm(b"P6" + buf)
    except ValueError:
        return
    assert img.ndim == 3 and img.shape[2] == 3
    assert img.shape[0] > 0 and img.shape[1] > 0
    assert img.dtype == np.uint8


# ------------------------------------------------ span dedup / chunking
def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_substring_spans_match_bruteforce(spark, tmp_path):
    """dedup_substring_spans against an exhaustive python enumeration
    over a corpus with a planted shared paragraph — every reported
    span must recur across >=2 docs with exact counts, and no
    recurring span may be missed (oracle-independent evidence)."""
    import hashlib
    import random
    from collections import defaultdict

    from outreach_etl_tool_spark.queries.llm import (
        _SPAN_L, _SPAN_T, dedup_substring_spans,
    )

    rng = random.Random(7)
    shared = "".join(rng.choice("abcdef ") for _ in range(80))
    texts = []
    for i in range(12):
        pre = "".join(rng.choice("ghijkl ") for _ in range(rng.randint(0, 50)))
        post = "".join(rng.choice("mnopqr ") for _ in range(rng.randint(0, 50)))
        texts.append(pre + (shared if i % 3 == 0 else "") + post)

    occ = defaultdict(list)
    for d, t in enumerate(texts):
        if len(t) >= _SPAN_L:
            for k in range((len(t) - _SPAN_L) // _SPAN_T + 1):
                occ[t[k * _SPAN_T:k * _SPAN_T + _SPAN_L]].append(d)
    expected = {
        hashlib.md5(s.encode()).hexdigest(): (
            len(set(ds)), len(ds), min(ds)
        )
        for s, ds in occ.items()
        if len(set(ds)) >= 2
    }
    assert expected, "fixture must plant at least one recurring span"

    got = {
        r["span_hash"]: (r["n_docs"], r["n_occ"], r["first_doc"])
        for r in dedup_substring_spans(
            spark, _write_docs(spark, tmp_path, texts)
        ).collect()
    }
    assert got == expected


def test_chunk_windows_cover_and_reconstruct(spark, tmp_path):
    """text_chunk_windows: every chunk is exactly text[start-1 :
    start-1+W], starts stride by S from 1, and the windows cover the
    whole document (boundary lengths 0/1/S-1/S/S+1 included)."""
    import random

    from outreach_etl_tool_spark.queries.llm import (
        _CHUNK_S, _CHUNK_W, text_chunk_windows,
    )

    rng = random.Random(11)
    texts = ["", "x", "a" * (_CHUNK_S - 1), "b" * _CHUNK_S,
             "c" * (_CHUNK_S + 1),
             "".join(rng.choice("stuvwx ") for _ in range(500))]
    out = text_chunk_windows(spark, _write_docs(spark, tmp_path, texts))
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for d, t in enumerate(texts):
        chunks = sorted(by_doc[d], key=lambda r: r["chunk_id"])
        n_expected = max(1, (max(len(t), 1) - 1) // _CHUNK_S + 1)
        assert [r["chunk_id"] for r in chunks] == list(range(n_expected))
        for r in chunks:
            start = r["chunk_id"] * _CHUNK_S
            assert r["chunk_start"] == start + 1
            assert r["chunk_text"] == t[start:start + _CHUNK_W]
            assert r["chunk_len"] == len(r["chunk_text"])
        # coverage: the final chunk reaches the end of the document
        last = chunks[-1]
        assert last["chunk_start"] - 1 + last["chunk_len"] == len(t)


@given(
    st.integers(min_value=1, max_value=200),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_wav_codec_identity_property(n, ch, seed):
    """encode→decode is the identity for ANY (n, ch) int16 signal,
    and the sample rate survives the header round trip."""
    import numpy as np

    from outreach_etl_tool_spark.multimodal.wav import decode_wav, encode_wav

    sig = np.random.RandomState(seed).randint(
        -32768, 32768, size=(n, ch)
    ).astype(np.int16)
    out, sr = decode_wav(encode_wav(sig, sample_rate=8000))
    assert sr == 8000 and out.shape == sig.shape and (out == sig).all()


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=200, deadline=None)
def test_wav_decode_never_returns_garbage_on_fuzz(buf):
    """decode_wav on arbitrary bytes either raises ValueError or
    returns a structurally valid (n, ch>=1) int16 array — never a
    crash, never a shape that disagrees with its own header."""
    from outreach_etl_tool_spark.multimodal.wav import decode_wav

    try:
        samples, sr = decode_wav(b"RIFF" + buf)
    except ValueError:
        return
    assert samples.ndim == 2 and samples.shape[1] >= 1 and sr > 0


def test_wav_decoder_walks_unknown_and_odd_chunks():
    """RIFF grammar: unknown chunks are skipped, odd-sized chunks
    consume their pad byte, and chunk order does not matter."""
    import struct

    import numpy as np

    from outreach_etl_tool_spark.multimodal.wav import decode_wav, encode_wav

    sig = np.arange(-6, 6, dtype=np.int16).reshape(-1, 2)
    canonical = encode_wav(sig, sample_rate=44100)
    fmt_chunk = canonical[12:36]
    data_chunk = canonical[36:]
    odd = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded odd chunk
    rebuilt = (
        b"RIFF" + struct.pack("<I", 4 + len(odd + data_chunk + fmt_chunk))
        + b"WAVE" + odd + data_chunk + fmt_chunk
    )
    out, sr = decode_wav(rebuilt)
    assert sr == 44100 and (out == sig).all()


def test_wav_decoder_rejects_non_pcm_and_torn_frames():
    import struct

    import numpy as np
    import pytest as _pytest

    from outreach_etl_tool_spark.multimodal.wav import decode_wav, encode_wav

    sig = np.zeros((4, 1), dtype=np.int16)
    good = bytearray(encode_wav(sig, 8000))
    ieee = good[:20] + struct.pack("<H", 3) + good[22:]  # format=3 (float)
    with _pytest.raises(ValueError):
        decode_wav(bytes(ieee))
    with _pytest.raises(ValueError):
        decode_wav(bytes(good[:-3]))  # data chunk shorter than declared
    # whole frames declared but a ragged tail: 7 bytes of int16 mono
    ragged = bytes(good[:40]) + struct.pack("<I", 7) + b"\x00" * 7
    with _pytest.raises(ValueError):
        decode_wav(ragged)


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_exact_extents_match_bruteforce_random_corpora(spark, tmp_path, seed):
    """dedup_span_exact_extents against the covering-theorem brute
    force over randomized corpora — including the adversarial shapes:
    period-1 runs ('aaaa…' shared across docs: every gram identical,
    maximal island merging), self-repeats within one doc, docs with no
    duplicates, and docs shorter than L."""
    import random
    from collections import Counter

    from outreach_etl_tool_spark.queries.llm import (
        _LDS_L, dedup_span_exact_extents,
    )

    rng = random.Random(seed)
    alpha = "abcdefgh "
    shared = "".join(rng.choice(alpha) for _ in range(rng.randint(_LDS_L, 120)))
    texts = []
    for i in range(8):
        pre = "".join(rng.choice("jklmno ") for _ in range(rng.randint(0, 90)))
        mid = {
            0: shared,                       # cross-doc duplicate
            1: "a" * rng.randint(_LDS_L, 150),  # period-1 run
            2: shared + shared,              # self-repeat + cross-doc
            3: "",                           # nothing planted
        }[i % 4]
        post = "".join(rng.choice("pqrstu ") for _ in range(rng.randint(0, 90)))
        texts.append(pre + mid + post)
    texts.append("tiny")  # below L entirely

    grams: Counter = Counter()
    for t in texts:
        for i in range(len(t) - _LDS_L + 1):
            grams[t[i:i + _LDS_L]] += 1
    expect: dict[int, set[int]] = {}
    for d, t in enumerate(texts):
        for i in range(len(t) - _LDS_L + 1):
            if grams[t[i:i + _LDS_L]] >= 2:
                expect.setdefault(d, set()).update(range(i + 1, i + 1 + _LDS_L))

    got: dict[int, set[int]] = {}
    rows = dedup_span_exact_extents(
        spark, _write_docs(spark, tmp_path, texts)
    ).collect()
    for r in rows:
        got.setdefault(r["doc_id"], set()).update(
            range(r["ext_start"], r["ext_start"] + r["ext_len"])
        )
    assert got == expect
    # extents within a doc must be disjoint and separated by > 0 gap
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(
            (r["ext_start"], r["ext_start"] + r["ext_len"])
        )
    for d, ivls in per_doc.items():
        ivls.sort()
        for (s1, e1), (s2, e2) in zip(ivls, ivls[1:]):
            assert s2 > e1, (d, ivls)
