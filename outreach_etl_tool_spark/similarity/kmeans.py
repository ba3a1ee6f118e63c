"""Distributed k-means for the IVF coarse quantizer (SURVEY.md §2.10 L3).

The IVF tier (`ann.assign_cells` / `ann.topk_ivf` / `ann.knn_join_ivf`)
is only as good as its centroids: `ann.sample_centroids` (first-k ids)
is deterministic but arbitrary, so cells can be wildly unbalanced and
recall suffers. This module refines them with Lloyd iterations run as
ordinary DataFrame jobs:

- **assign** — the existing Arrow matmul kernel (`ann.assign_cells`),
  one narrow pass over the corpus;
- **update** — per-cell mean vector via `applyInPandas`: one shuffle of
  (cell, vector) rows, a numpy column mean per cell, k rows out;
- **collect** — only the k×dim centroid matrix ever reaches the driver:
  centroids are model parameters, a few KB at any corpus size.

At 100 TB the build runs on a sample (`fit_fraction`): Lloyd on a
uniform sample converges to near-identical cells at a fraction of the
cost, and the full corpus is only touched by the final `assign_cells`
that materializes the layout. Empty cells keep their previous centroid
(the standard fix) so k never silently shrinks.

Small fit sets skip the loop: one collect, bounded at
``driver_fit_max + 1`` rows, brings them to the driver, where Lloyd
runs bit-identically — one Spark job per build, no persist and no
count. Only a fit set that overflows the bound is persisted and runs
the distributed loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import assign_cells, sample_centroids


def _cell_means(
    with_cells: DataFrame, vec_col: str, id_col: str
) -> dict[int, np.ndarray]:
    """One row per non-empty cell: (cell, mean vector, count)."""
    schema = "cell int, mean array<double>, n long"

    def mean_of_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by id before the float fold: group rows arrive in
        # shuffle-fetch order (varies run to run) and float addition
        # is non-associative — unsorted, the trained centroids drift
        # by ulps across runs (same ordering contract as ann.py's
        # block kernel and pq.py's subspace means)
        pdf = pdf.sort_values(id_col)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "mean": [mat.mean(axis=0).tolist()],
                "n": [len(mat)],
            }
        )

    rows = (
        with_cells.select("cell", vec_col, id_col)
        .groupBy("cell")
        .applyInPandas(mean_of_cell, schema)
        .collect()  # k rows of dim doubles — model parameters, not data
    )
    return {r["cell"]: np.asarray(r["mean"], dtype=np.float64) for r in rows}


# Driver fast-path ceiling for the Lloyd build: 65536 × 64-dim float64
# vectors is ~34 MB — model-parameter-scale driver state, the same
# hybrid-execution class as connected_components' union-find fast path
# and AQE's broadcast threshold. Past it the distributed loop runs
# unchanged (at 10^11 vectors the build belongs on the cluster, and the
# documented scale path is fit_fraction subsampling anyway).
_DRIVER_FIT_MAX = 65536


def _driver_lloyd(
    pdf: pd.DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Lloyd on the driver over the collected fit set — BIT-IDENTICAL
    to the distributed loop (pinned by tests/test_recall.py): the
    assign step is the same full-matrix float64 argmax-cosine matmul
    as ``assign_cells``'s kernel, and each cell mean folds the same
    float64 rows in the same id-ascending order as ``_cell_means``
    (``mat[mask].mean(axis=0)`` over an id-sorted matrix ≡ the
    per-cell sort + mean in the executors). What the fast path buys is
    job COUNT: the one bounded collect that fetched ``pdf`` instead of
    iters × (Arrow assign pass + groupBy shuffle + k-row collect) —
    measured ~8 scheduler round-trips per IVF query at sf0.1."""
    pdf = pdf.sort_values(id_col)
    mat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
    )
    cents = mat[:k].copy()  # first-k-ids init == sample_centroids
    for _ in range(iters):
        cents_unit = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T
        cells = np.argmax(mat @ cents_unit, axis=1)
        nxt = cents.copy()  # empty cells keep their old centroid
        for cell in np.unique(cells):
            nxt[cell] = mat[cells == cell].mean(axis=0)
        if np.allclose(nxt, cents, rtol=0.0, atol=1e-12):
            cents = nxt
            break
        cents = nxt
    return [[float(v) for v in row] for row in cents]


def kmeans_centroids(
    df: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
    seed: int = 7,
    driver_fit_max: int = _DRIVER_FIT_MAX,
) -> list[list[float]]:
    """Lloyd-refined coarse centroids, deterministically initialized
    from the first ``k`` ids (same as ``sample_centroids``).

    ``fit_fraction`` subsamples the corpus for the build (seeded,
    reproducible); the returned centroids feed ``assign_cells`` over
    the full table. Iteration count is fixed rather than
    tolerance-driven: each iteration is a full pass, and for a coarse
    quantizer a handful of rounds captures nearly all of the recall
    gain. Fit sets up to ``driver_fit_max`` vectors train on the
    driver (``_driver_lloyd`` — bit-identical, fed by one collect
    bounded at ``driver_fit_max + 1`` rows instead of 3 jobs per
    iteration; a fit set that overflows the bound falls back to the
    distributed loop); 0 disables the fast path.
    """
    fit = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    if fit_fraction is not None:
        fit = fit.sample(fraction=fit_fraction, seed=seed)
    if driver_fit_max > 0:
        pdf = fit.limit(driver_fit_max + 1).toPandas()
        if len(pdf) <= driver_fit_max:
            return _driver_lloyd(pdf, k, iters, id_col, vec_col)
    fit = fit.persist()
    try:
        cents = np.asarray(sample_centroids(fit, k, id_col, vec_col), dtype=np.float64)
        for _ in range(iters):
            with_cells = assign_cells(fit, cents.tolist(), vec_col)
            means = _cell_means(with_cells, vec_col, id_col)
            nxt = cents.copy()  # empty cells keep their old centroid
            for cell, mean in means.items():
                nxt[cell] = mean
            if np.allclose(nxt, cents, rtol=0.0, atol=1e-12):
                cents = nxt
                break
            cents = nxt
    finally:
        fit.unpersist()
    return [[float(v) for v in row] for row in cents]


def inertia(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Mean cosine dissimilarity (1 − max-cosine) to the nearest
    centroid — the objective matching ``assign_cells``'s cosine
    assignment (spherical k-means); exposed for tests and build
    diagnostics."""
    cents = np.asarray(centroids, dtype=np.float64)
    cents_unit = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T

    @F.pandas_udf("double")
    def dissim(vecs: pd.Series) -> pd.Series:
        out = np.full(len(vecs), np.nan)
        ok = vecs.notna().to_numpy()
        if ok.any():
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            out[ok] = 1.0 - (unit @ cents_unit).max(axis=1)
        return pd.Series(out)

    row = df.select(F.avg(dissim(F.col(vec_col))).alias("j")).first()
    return float(row["j"])
