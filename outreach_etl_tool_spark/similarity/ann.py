"""Similarity search over embedding columns (SURVEY.md §2.10 L3).

Two tiers, per the standard ANN playbook:

- `topk_bruteforce` — exact cosine top-k against a query vector. One
  narrow scan (dot product in whole-stage codegen) + TakeOrderedAndProject;
  no shuffle of vectors. This is the baseline and the correctness oracle.
- `topk_ivf` — IVF-style two-stage search: vectors are pre-assigned to
  the nearest of K coarse centroids (a partitioning that would be
  persisted/bucketed at 100 TB); a query scores only the `nprobe`
  nearest cells, scanning ~nprobe/K of the data. Recall < 1 by design;
  tests measure it against brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from ..functions.vectors import cosine
from ..operators.util import ensure_parallelism


def topk_bruteforce(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity (deterministic tiebreak on id).

    Plan-build discipline: the whole scoring expression is emitted as
    ONE SQL string parsed JVM-side, with the query as an inline array
    literal and its norm pre-folded in Python (same left-to-right IEEE
    fold as the JVM/DuckDB expression, so oracle hashes still match
    bit-for-bit). The previous Column-API build cost ~400 py4j round
    trips per invocation — pure driver latency that showed up as a
    +49% bench regression at sf0.1."""
    import math

    from ..functions.vectors import cosine_vs_lit_sql

    qd = [float(v) for v in query]
    qnorm = 0.0
    for v in qd:
        qnorm += v * v
    qnorm = math.sqrt(qnorm)
    scored = ensure_parallelism(df).select(
        F.col(id_col),
        F.expr(cosine_vs_lit_sql(vec_col, qd, qnorm)).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF build step: add `cell` = argmax-cosine centroid index.

    One Arrow round-trip + an (n×dim)@(dim×C) numpy matmul per batch —
    the per-centroid expression alternative is C interpreted
    zip_with/aggregate passes per row and measures ~10× slower.

    At scale this result is written out partitioned/bucketed by `cell`
    so queries prune partitions; here it stays a column.
    """
    cents = np.asarray(centroids, dtype=np.float64)  # (C, dim)
    cents_unit = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T

    @F.pandas_udf(IntegerType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        out = np.zeros(len(vecs), dtype=np.int32)
        ok = vecs.notna().to_numpy()
        if ok.any():
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
            # row norms cancel in argmax; only centroid norms matter
            out[ok] = np.argmax(mat @ cents_unit, axis=1).astype(np.int32)
        return pd.Series(out)

    return df.withColumn("cell", cell_udf(F.col(vec_col)))


def topk_ivf(
    df_with_cells: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest cells only, then exact top-k within them."""
    import numpy as np

    q = np.asarray(query, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    sims = (cents @ q) / (np.linalg.norm(cents, axis=1) * np.linalg.norm(q))
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]

    pruned = df_with_cells.filter(F.col("cell").isin(probe))
    return topk_bruteforce(pruned, query, k, id_col, vec_col)


def _fold_norms(a: np.ndarray) -> np.ndarray:
    """L2 norms accumulated dimension-by-dimension (left fold), matching
    `functions.vectors.dot` and DuckDB's ``list_dot_product`` so oracle
    comparisons are bit-for-bit."""
    acc = np.zeros(a.shape[0])
    for d in range(a.shape[1]):
        acc += a[:, d] * a[:, d]
    return np.sqrt(acc)


def _score_topk(
    pids: np.ndarray,
    pmat: np.ndarray,
    b_ids: np.ndarray,
    b_mat: np.ndarray,
    b_norms: np.ndarray,
    k: int,
):
    """Fold-ordered cosine of every (probe, index) pair + per-probe
    top-k (self excluded via -inf then dropped by the finite filter —
    an index block with ≤ k vectors must NOT emit the probe as its own
    neighbor). Returns (probe_ids, neighbor_ids, cos_sims) arrays."""
    acc = np.zeros((len(pmat), len(b_ids)))
    for d in range(pmat.shape[1]):
        acc += np.multiply.outer(pmat[:, d], b_mat[:, d])
    cos = acc / (_fold_norms(pmat)[:, None] * b_norms[None, :])
    out_q, out_n, out_c = [], [], []
    for i in range(len(pids)):
        row = cos[i].copy()
        row[b_ids == pids[i]] = -np.inf
        # primary: cos desc; tie: neighbor id asc
        top = np.lexsort((b_ids, -row))[:k]
        top = top[np.isfinite(row[top])]
        out_q.append(np.full(len(top), pids[i], dtype=np.int64))
        out_n.append(b_ids[top])
        out_c.append(cos[i][top])
    return (
        np.concatenate(out_q) if out_q else np.empty(0, dtype=np.int64),
        np.concatenate(out_n) if out_n else np.empty(0, dtype=np.int64),
        np.concatenate(out_c) if out_c else np.empty(0, dtype=np.float64),
    )


def knn_join_bruteforce(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Small-index all-pairs kNN join: for EVERY vector, its top-k
    cosine neighbors (self excluded; ties broken by ascending id).

    Broadcast-index shape: the index side is collected ONCE to the
    driver and broadcast as a dense matrix, the probe side streams
    through in Arrow batches. Zero shuffles — but the index must fit
    driver + executor memory, so this is the SMALL-INDEX tier only
    (≲10⁶ vectors). The registry's `sim_knn_join` uses
    `knn_join_blocked`, the distributed form with no driver
    materialization; prefer it anywhere the index can grow.

    Note the index side materializes EAGERLY, at call time: a PySpark
    broadcast variable must exist before the probe plan can close over
    it, so building this DataFrame runs one collect job. Call it when
    you mean to run it.
    """
    out_schema = f"{id_col} long, neighbor_id long, cos_sim double"
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return df.sparkSession.createDataFrame([], out_schema)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.array(
        [[float(v) for v in rows[int(i)][1]] for i in order], dtype=np.float64
    )
    idx_norms = _fold_norms(mat)
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, idx_norms))

    def probe(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf[id_col].to_numpy()
            pmat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            q, n, c = _score_topk(pids, pmat, b_ids, b_mat, b_norms, k)
            yield pd.DataFrame({id_col: q, "neighbor_id": n, "cos_sim": c})

    return ensure_parallelism(df).select(id_col, vec_col).mapInPandas(
        probe, out_schema
    )


def _block_topk_cogroup(id_col: str, vec_col: str, k: int):
    """Cogroup kernel: left = probes replicated into this block, right =
    the block's index vectors; emits each probe's LOCAL top-k within the
    block (k per block, merged globally afterwards)."""

    def fn(probes: pd.DataFrame, index: pd.DataFrame) -> pd.DataFrame:
        if not len(probes) or not len(index):
            return pd.DataFrame(
                {
                    id_col: np.empty(0, dtype=np.int64),
                    "neighbor_id": np.empty(0, dtype=np.int64),
                    "cos_sim": np.empty(0, dtype=np.float64),
                }
            )
        b_ids = index[id_col].to_numpy(dtype=np.int64)
        b_mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in index[vec_col]]
        )
        b_norms = _fold_norms(b_mat)
        pids = probes[id_col].to_numpy(dtype=np.int64)
        pmat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in probes[vec_col]]
        )
        q, n, c = _score_topk(pids, pmat, b_ids, b_mat, b_norms, k)
        return pd.DataFrame({id_col: q, "neighbor_id": n, "cos_sim": c})

    return fn


def _merge_global_topk(local: DataFrame, id_col: str, k: int) -> DataFrame:
    """Global top-k per probe over the per-block candidates (≤ B·k rows
    per probe — tiny). Same ordering contract as the in-block kernel:
    cos desc, neighbor id asc."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_join_blocked(
    df: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed EXACT all-pairs kNN join — no driver materialization.

    Block nested-loop shape: the index side is hash-partitioned into
    `n_blocks` disjoint blocks; every probe vector is replicated to
    every block (an explode, ×B rows); a cogroup task per block scores
    its probes against its index slice with the fold-ordered numpy
    kernel and keeps each probe's local top-k; a final window merges
    the ≤ B·k candidates per probe into the global top-k.

    Scale: the whole plan is three exchanges (index→block, probes→block,
    window merge) and NOTHING touches the driver. Memory per task is
    one index block (n/B vectors) + one Arrow batch of probes — choose
    n_blocks so a block fits executor memory; probe replication cost is
    B× the probe shuffle, the price of exactness. When approximate
    recall suffices, `knn_join_ivf` replicates probes to only `nprobe`
    cells instead.

    Exactness: every (probe, index) pair is scored exactly once (the
    blocks partition the index), with the same left-fold arithmetic and
    cos-desc/id-asc tie-break as the oracle's O(n²) self-join, so
    results hash-match `SIM_KNN_JOIN_SQL` bit-for-bit.
    """
    out_schema = f"{id_col} long, neighbor_id long, cos_sim double"
    base = ensure_parallelism(df).select(id_col, vec_col)
    index = base.withColumn(
        "block", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    probes = base.withColumn(
        "block", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )
    local = (
        probes.groupBy("block")
        .cogroup(index.groupBy("block"))
        .applyInPandas(_block_topk_cogroup(id_col, vec_col, k), out_schema)
    )
    return _merge_global_topk(local, id_col, k)


def knn_join_ivf(
    df_with_cells: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed APPROXIMATE kNN join: probes visit only their
    `nprobe` nearest IVF cells instead of every block.

    Same cogroup + window-merge skeleton as `knn_join_blocked`, but the
    probe-side replication factor drops from B to nprobe and each probe
    only meets index vectors in nearby cells — recall < 1 by design
    (unit-tested against the exact join). At 100 TB the cell assignment
    is a persisted/bucketed layout, so the probe shuffle prunes to
    nprobe/K of the data.

    Expects `df_with_cells` to already carry the `cell` column from
    `assign_cells` (the index layout is built once, reused per query).
    """
    out_schema = f"{id_col} long, neighbor_id long, cos_sim double"
    cents = np.asarray(centroids, dtype=np.float64)
    cents_unit = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T
    npb = min(nprobe, len(centroids))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells_udf(vecs: pd.Series) -> pd.Series:
        out = [None] * len(vecs)
        ok = vecs.notna().to_numpy()
        if ok.any():
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
            sims = mat @ cents_unit  # row norms cancel in ranking
            nearest = np.argsort(-sims, axis=1)[:, :npb].astype(np.int32)
            for j, row in enumerate(np.flatnonzero(ok)):
                out[row] = nearest[j].tolist()
        return pd.Series(out)

    base = df_with_cells.select(id_col, vec_col, "cell")
    index = base.withColumnRenamed("cell", "block")
    probes = base.select(
        id_col,
        vec_col,
        F.explode(probe_cells_udf(F.col(vec_col))).alias("block"),
    )
    local = (
        probes.groupBy("block")
        .cogroup(index.groupBy("block"))
        .applyInPandas(_block_topk_cogroup(id_col, vec_col, k), out_schema)
    )
    return _merge_global_topk(local, id_col, k)


def sample_centroids(
    df: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse centroids: the embeddings of the first
    n_cells ids (k-means init would refine these; deterministic pick
    keeps tests stable)."""
    rows = (
        df.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    )
    return [[float(v) for v in r[0]] for r in rows]


# --------------------------------------------------------------------------
# Persisted IVF index with incremental maintenance — the production
# lifecycle: train the coarse quantizer ONCE on a base corpus, write
# the assigned vectors partitioned by cell, then APPEND each new
# embedding batch assigned against the SAME frozen centroids (one
# Arrow pass over the delta; the base is never re-read, the quantizer
# never retrained). Because assignment is a pure function of the
# frozen centroids, the merged index is bit-identical to a one-shot
# build over the union — the invariant tests/test_recall.py pins.
# Queries read the store with a `cell` predicate, and since cell is a
# PARTITION column the probe prunes to nprobe directories — at 100 TB
# the read cost scales with the probed cells, not the corpus.
def _hadoop_path_fs(spark, path_str: str):
    """Resolve (Path, FileSystem) through Hadoop's FS API so the
    centroid sidecar works on any URI Spark itself can write
    (file://, hdfs://, s3a://, ...), not just the local filesystem."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return p, fs


def _fs_write_text(spark, path_str: str, text: str) -> None:
    p, fs = _hadoop_path_fs(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path_str: str) -> str:
    # Hadoop-API-only read (no commons-io: it is a transitive bundle
    # of current Spark distros, not an API guarantee — ClassNotFound
    # on slimmed classpaths). Hadoop's own IOUtils.copyBytes drains
    # the stream JVM-side into a ByteArrayOutputStream; only the
    # final byte[] crosses py4j.
    p, fs = _hadoop_path_fs(spark, path_str)
    stream = fs.open(p)
    try:
        jvm = spark._jvm
        buf = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 65536, False)
        return bytes(buf.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def write_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Build the base index: assign + write partitioned by cell, with
    the frozen centroids stored alongside (the index is self-contained
    — readers and appenders must use these, not retrained ones)."""
    import json

    assign_cells(df, centroids, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    _fs_write_text(
        df.sparkSession, path.rstrip("/") + "/_centroids.json",
        json.dumps(centroids),
    )


def read_ivf_centroids(path: str) -> list[list[float]]:
    import json

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover — callers always hold a session
        raise RuntimeError("read_ivf_centroids needs an active SparkSession")
    return json.loads(
        _fs_read_text(spark, path.rstrip("/") + "/_centroids.json")
    )


def append_to_ivf_index(
    new_batch: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """Assign a delta batch against the index's OWN frozen centroids
    and append its files under the matching cell partitions."""
    cents = read_ivf_centroids(path)
    assign_cells(new_batch, cents, vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    """Merged view of base + all appended deltas; `cell` comes back as
    a partition column, so cell predicates prune directories."""
    return spark.read.parquet(path)
