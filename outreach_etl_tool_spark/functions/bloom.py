"""Vectorized Bloom filter for membership prefilters (SURVEY.md §2.10
L2/L4 scale path).

The decontamination join broadcasts the eval-set gram table; once the
eval corpus outgrows comfortable broadcast (hundreds of MB of strings),
the standard fix is a Bloom filter: ~1.2 MB of bits per million grams
at 1% false-positive rate — three orders of magnitude smaller than the
strings — probed with pure numpy on the executor side. False positives
are removed by an exact verify restricted to the (tiny) surviving
candidate set, so the two-tier operator's OUTPUT is exactly the exact
join's.

Double hashing (Kirsch-Mitzenmacher): index_i = h1 + i·h2 (mod m) is
as good as k independent hashes; h1/h2 are two FNV-1a variants with
different offset bases, both vectorized across the whole probe batch
(byte-matrix passes, no per-string Python loop).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_FNV_PRIME = np.uint64(0x100000001B3)
_OFFSET_1 = np.uint64(0xCBF29CE484222325)
_OFFSET_2 = np.uint64(0x84222325CBF29CE4)


def _fnv_pair(strings: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Two FNV-1a streams over every string, vectorized across strings
    (the per-byte fold is along string length only)."""
    enc = [s.encode("utf-8") for s in strings]
    n = len(enc)
    maxlen = max((len(e) for e in enc), default=0)
    mat = np.zeros((n, maxlen), dtype=np.uint64)
    alive = np.zeros((n, maxlen), dtype=bool)
    for i, e in enumerate(enc):
        b = np.frombuffer(e, dtype=np.uint8)
        mat[i, : len(b)] = b
        alive[i, : len(b)] = True
    h1 = np.full(n, _OFFSET_1, dtype=np.uint64)
    h2 = np.full(n, _OFFSET_2, dtype=np.uint64)
    for j in range(maxlen):
        sel = alive[:, j]
        h1[sel] = (h1[sel] ^ mat[sel, j]) * _FNV_PRIME
        h2[sel] = (h2[sel] ^ mat[sel, j]) * _FNV_PRIME
    # decorrelate: h2 must not be a constant multiple of h1
    h2 = h2 ^ (h1 >> np.uint64(17))
    h2 |= np.uint64(1)  # odd → full period mod any m
    return h1, h2


@dataclass(frozen=True)
class Bloom:
    bits: np.ndarray  # uint64 words
    m: int            # number of bits
    k: int            # probes per item

    def contains(self, strings: list[str]) -> np.ndarray:
        """Vectorized membership test → bool array (no false negatives)."""
        if not strings:
            return np.zeros(0, dtype=bool)
        h1, h2 = _fnv_pair(strings)
        out = np.ones(len(strings), dtype=bool)
        m = np.uint64(self.m)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % m
            word = (idx >> np.uint64(6)).astype(np.int64)
            bit = np.uint64(1) << (idx & np.uint64(63))
            out &= (self.bits[word] & bit) != 0
        return out


def build_bloom_distributed(
    df, col: str = "gram", fpp: float = 0.01
) -> Bloom:
    """Build a Bloom filter from a DataFrame column WITHOUT collecting
    the strings to the driver.

    Two bounded passes:

    1. sizing — ``approx_count_distinct`` (HLL, ±2%) fixes (m, k); an
       estimate is safe because over/undersizing only nudges the
       false-positive rate, and false positives are removed by the
       exact verify tier downstream;
    2. build — each partition folds its grams into a LOCAL m-bit numpy
       array (duplicate inserts are idempotent, so no distinct shuffle
       is needed), emits only its set 64-bit words as (word, bits)
       rows, and a ``bit_or`` aggregation merges the partials. The
       driver collects at most m/64 rows — the final bit array itself,
       never a corpus-derived string set.

    At 100 TB the shuffle is ≤ partitions × m/64 words and the driver
    payload equals the broadcast payload (~1.2 MB per million grams) —
    both independent of corpus row count.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    n = int(
        df.agg(F.approx_count_distinct(col).alias("n")).first()["n"] or 1
    )
    m = int(np.ceil(-n * np.log(fpp) / (np.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, int(round(m / n * np.log(2))))
    n_words = m // 64

    def fold(batches):
        local = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            strings = pdf.iloc[:, 0].astype(str).tolist()
            if not strings:
                continue
            h1, h2 = _fnv_pair(strings)
            for i in range(k):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
                word = (idx >> np.uint64(6)).astype(np.int64)
                bit = np.uint64(1) << (idx & np.uint64(63))
                np.bitwise_or.at(local, word, bit)
        nz = np.nonzero(local)[0]
        yield pd.DataFrame(
            {"word": nz.astype("int64"), "bits": local[nz].view(np.int64)}
        )

    rows = (
        df.select(F.col(col).cast("string"))
        .mapInPandas(fold, "word long, bits long")
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    )
    bits = np.zeros(n_words, dtype=np.uint64)
    if rows:
        idxs = np.fromiter((r["word"] for r in rows), dtype=np.int64, count=len(rows))
        vals = np.fromiter((r["bits"] for r in rows), dtype=np.int64, count=len(rows))
        bits[idxs] = vals.view(np.uint64)
    return Bloom(bits=bits, m=m, k=k)

