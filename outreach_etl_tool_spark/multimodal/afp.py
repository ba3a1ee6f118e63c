"""Audio near-dup fingerprint (SURVEY.md §2.10 L5 × L2 — round-12).

Completes the multimodal dedup family: the image side has perceptual
hashing (multimodal/phash.py); this is the audio analogue over the
REAL WAV codec (multimodal/wav.py), in the same discipline — reduce
each clip to one 64-bit-class integer fingerprint, then candidate
pairs via the shared 4×16-band Hamming machinery
(dedup/fingerprint.py) and exact popcount verification.

Fingerprint (all exact integer arithmetic, SQL-replicable bit for
bit):

- mono PCM16 samples, 31 segments × 32 samples (992 total);
- per segment s: energy  E_s = Σ |x_i|  and lag-1 autocorrelation
  A_s = Σ x_i·x_{i+1} (within-segment pairs only — i % 32 != 31);
- bit s        = 1  iff  E_s · 31 > Σ E   (energy envelope above the
  clip mean, the aHash decision applied to the time axis);
- bit 31 + s   = 1  iff  A_s > 0          (per-segment spectral tilt:
  positive lag-1 autocorrelation ⇔ low-frequency-dominated segment);
- 62 bits total (positions 0..61) — deliberately < 63 so the packed
  BIGINT never touches the sign bit in either engine.

Why these features: the energy envelope survives amplitude-preserving
edits and small additive noise (a near-identical clip flips only
segments sitting at the mean threshold), and the autocorrelation sign
is a crude but integer-exact spectral feature — together they give
~62 usable bits, so unrelated clips land at Hamming ≈ 31 and the
banded join's Hamming ≤ 3 recall guarantee (pigeonhole over 4 bands)
separates true near-dups exactly.

Scale: one Arrow decode pass per clip (payload bytes never leave the
executor), then only (id, fingerprint) moves: the pair rides the one
(band, chunk) bucket shuffle, where candidates expand and verify, so
each clip is decoded once and building the op starts no Spark job —
identical shape to the image phash path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..dedup.fingerprint import fingerprint_pairs

AFP_SEGMENTS = 31
AFP_WIN = 32
AFP_SAMPLES = AFP_SEGMENTS * AFP_WIN  # 992


def audio_fingerprint(samples: np.ndarray) -> int:
    """62-bit integer fingerprint of a mono int16 clip of exactly
    AFP_SAMPLES samples. Pure integer arithmetic — replicated bit for
    bit by the SQL oracle and the pytest replica."""
    x = np.asarray(samples, dtype=np.int64).reshape(-1)
    if x.shape[0] != AFP_SAMPLES:
        raise ValueError(
            f"expected {AFP_SAMPLES} mono samples, got {x.shape[0]}"
        )
    seg = x.reshape(AFP_SEGMENTS, AFP_WIN)
    e = np.abs(seg).sum(axis=1)  # (31,)
    a = (seg[:, :-1] * seg[:, 1:]).sum(axis=1)  # within-segment lag-1
    total = int(e.sum())
    fp = 0
    for s in range(AFP_SEGMENTS):
        if int(e[s]) * AFP_SEGMENTS > total:
            fp |= 1 << s
        if int(a[s]) > 0:
            fp |= 1 << (AFP_SEGMENTS + s)
    return fp


def synth_clip(aid: int) -> np.ndarray:
    """Deterministic test clip for asset ``aid`` (closed-form in the
    id, so the oracle derives the identical samples): a per-segment
    amplitude envelope modulating a 64-periodic carrier whose STEP
    also varies per segment. The envelope and the step are QUADRATIC
    mixes of t = b*97 + s mod a large prime: any LINEAR mix makes the
    per-segment sequence an arithmetic progression mod 97 — only 97
    phase classes, so distinct ids collided wholesale — while
    (t² + 3t) mod p decorrelates (the difference between two ids'
    sequences sweeps residues linearly in s). The varying odd carrier
    step spreads the lag-1 autocorrelation sign ~50/50 (a fixed step
    of 37 made every autocorr bit identical). Assets with
    aid % 10 == 1 are PLANTED NEAR-DUPLICATES of aid - 1: same base
    waveform plus a sparse +1 perturbation (every 127th sample), so
    (k, k+1) pairs for k % 10 == 0 sit at small Hamming distance
    while unrelated clips land near Hamming ~31."""
    pert = aid % 10 == 1
    b = aid - 1 if pert else aid
    i = np.arange(AFP_SAMPLES, dtype=np.int64)
    s = i // AFP_WIN
    # reduce t mod p BEFORE squaring (round-13 ADVICE): tm ≡ t (mod p)
    # so (tm²+3tm) % p == (t²+3t) % p — values unchanged, but the
    # square stays < p² ≈ 2^40 at ANY asset id, where the raw t² wrapped
    # silently in int64 (numpy) yet raised in the oracle's BIGINT
    # (DuckDB) once aid exceeded ~1.4e7 — an engine-vs-oracle seam
    t = (b * 97 + s) % 1000003
    amp = (t * t + 3 * t) % 1000003 % 97
    st = 1 + 2 * ((t * t * 5 + t * 11) % 1000003 % 32)  # odd: gcd(st,64)=1
    x = amp * ((i * st + b) % 64 - 32)
    if pert:
        x = x + (i % 127 == 0).astype(np.int64)
    return x.astype(np.int16)


def _gen_afp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .wav import decode_wav, encode_wav

    for pdf in batches:
        ids, fps = [], []
        for aid in pdf["asset_id"]:
            aid = int(aid)
            # the fingerprint rides the REAL codec: synth → RIFF/WAVE
            # bytes → full chunk-walk decode → feature kernel
            dec, _sr = decode_wav(encode_wav(synth_clip(aid), 16000))
            ids.append(aid)
            fps.append(audio_fingerprint(dec[:, 0]))
        yield pd.DataFrame(
            {
                "asset_id": pd.Series(ids, dtype="int64"),
                "afp": pd.Series(fps, dtype="int64"),
            }
        )


def audio_fingerprints(ids: DataFrame) -> DataFrame:
    """(asset_id, afp) over an (asset_id,) frame — decode + feature in
    one Arrow pass."""
    return ids.mapInPandas(_gen_afp, "asset_id long, afp long")


def audio_near_dup(ids: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate clip pairs by audio fingerprint — the shared
    one-pass banded-Hamming candidate + exact popcount verify."""
    return fingerprint_pairs(
        audio_fingerprints(ids),
        id_col="asset_id",
        hash_col="afp",
        max_hamming=max_hamming,
    )
