"""Recall quantification for the probabilistic operators (SURVEY.md §7
"what's hard" (a)): LSH candidate generation has no exact oracle, so
we measure recall against the exact baselines on a controlled corpus.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from outreach_etl_tool_spark.dedup import ngram, parity
from outreach_etl_tool_spark.similarity import ann

# Alphabetic words ("aaa", "aab", …): the tokenizer keeps letter runs
# only, so digit-bearing words like "w017" would all become "w"
WORDS = [
    "".join(chr(ord("a") + i // 26**p % 26) for p in (2, 1, 0))
    for i in range(400)
]


def corpus(spark, n_base: int = 40, seed: int = 7):
    """n_base random docs plus one near-duplicate edit of each (4 of 60
    tokens replaced: shingle Jaccard ~0.6-0.8)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        toks = [rng.choice(WORDS) for _ in range(60)]
        rows.append((2 * i, " ".join(toks)))
        edited = list(toks)
        for _ in range(4):
            edited[rng.randrange(60)] = rng.choice(WORDS)
        rows.append((2 * i + 1, " ".join(edited)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_recall_against_exact_jaccard(spark):
    """Registry MinHash recall against exact shingle Jaccard, bounded
    by the banding curve.

    32 minhashes in 8 bands of r = 4: each minhash of a pair with
    Jaccard J agrees with probability J, so the pair shares at least
    one band key with probability p(J) = 1 - (1 - J^4)^8. Over the n
    true pairs (exact J >= 1/2) the number found is a sum of
    independent Bernoulli(p(J_i)) trials: mean mu = sum p(J_i),
    variance var = sum p(J_i)(1 - p(J_i)). The stated margin is two
    standard deviations, a one-sided false-alarm rate of about 2.3%
    under that model, so the bound is recall >= (mu - 2 sqrt(var)) / n.
    The verify is exact, so no false positive may appear."""
    import math

    docs = corpus(spark)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram.jaccard_pairs(docs, "doc_id", "text", k=3,
                                     threshold=0.5).collect()
    }
    exact = set(jac)
    assert len(exact) >= 20  # the construction produced real near-dups
    assert len({j for j in jac.values()}) > 1  # not one degenerate J
    found = {
        (r["id_a"], r["id_b"])
        for r in parity.minhash_pairs_parity(docs, "doc_id", "text",
                                             threshold_num=1,
                                             threshold_den=2).collect()
    }
    # verification guarantees zero false positives…
    assert found <= exact
    # …and the banding curve bounds recall from below
    p = [1.0 - (1.0 - j**4) ** 8 for j in jac.values()]
    mu, var = sum(p), sum(q * (1.0 - q) for q in p)
    bound = (mu - 2.0 * math.sqrt(var)) / len(exact)
    recall = len(found) / len(exact)
    assert recall >= bound, (
        f"recall {recall:.2f} < banding bound {bound:.2f} "
        f"(expected {mu / len(exact):.2f}), {len(exact)} true pairs"
    )


def test_ivf_recall_vs_brute_force(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((400, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    query = [float(x) for x in vecs[11]]
    exact = [r["vec_id"] for r in ann.topk_bruteforce(
        df, query, k=20, id_col="vec_id").collect()]
    cents = ann.sample_centroids(df, 16, id_col="vec_id")
    with_cells = ann.assign_cells(df, cents)
    probed = [r["vec_id"] for r in ann.topk_ivf(
        with_cells, cents, query, k=20, nprobe=8, id_col="vec_id").collect()]
    recall = len(set(exact) & set(probed)) / len(exact)
    # nprobe=8 of 16 cells scans ~half the corpus; on random gaussian
    # data (worst case for IVF) that bounds recall near nprobe/K
    assert recall >= 0.4, f"recall {recall:.2f}"
    assert probed[0] == 11  # the query's own vector survives pruning


def test_ivf_prunes_scanned_fraction(spark):
    import numpy as np

    rng = np.random.RandomState(4)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    cents = ann.sample_centroids(df, 10, id_col="vec_id")
    with_cells = ann.assign_cells(df, cents)
    query = [float(x) for x in vecs[0]]
    import numpy as _np
    q = _np.asarray(query); c = _np.asarray(cents)
    sims = (c @ q) / (_np.linalg.norm(c, axis=1) * _np.linalg.norm(q))
    probe = set(int(i) for i in _np.argsort(-sims)[:3])
    scanned = with_cells.filter(F.col("cell").isin(list(probe))).count()
    assert scanned < 300  # pruning is real, not a full scan


def test_knn_block_knob(spark):
    """The n_blocks knob trades per-task memory for probe replication
    (SCALE.md sizing rule): results are bit-identical for ANY B, the
    probe side replicates exactly xB (explode over sequence(0, B-1) in
    the plan), and the index blocks partition the corpus disjointly."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )

    def key(rows):
        return [(r["vec_id"], r["neighbor_id"], r["cos_sim"]) for r in
                sorted(rows, key=lambda r: (r["vec_id"], r["neighbor_id"]))]

    results = {
        b: key(ann.knn_join_blocked(df, k=3, n_blocks=b).collect())
        for b in (1, 4, 8)
    }
    assert results[1] == results[4] == results[8]  # exactness ∀ B
    assert len({r[0] for r in results[1]}) == 40   # every probe served

    # replication factor is exactly B: the probe branch explodes a
    # 0..B-1 sequence (constant-folded to a literal array later, so
    # assert on the analyzed plan, where the sequence is still symbolic)
    plan = ann.knn_join_blocked(df, k=3, n_blocks=4)._jdf.queryExecution() \
        .analyzed().toString()
    assert "sequence(0, 3" in plan, plan[:2000]


def test_pq_adc_recall_and_compression(spark):
    """PQ: codes are m small ints (the 64x memory cut), ADC distances
    track true L2 well enough that the query's own vector wins and
    recall@20 on worst-case gaussian data clears the floor."""
    import numpy as np

    from outreach_etl_tool_spark.similarity import pq

    rng = np.random.RandomState(5)
    vecs = rng.standard_normal((400, 32)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    books = pq.train_pq(df, dim=32, m=8, k=16, iters=2)
    assert books.shape == (8, 16, 4)
    codes = pq.encode_pq(df, books)
    row = codes.filter(F.col("vec_id") == 7).first()
    assert len(row["codes"]) == 8  # 8 codes vs 32 floats
    assert all(0 <= c < 16 for c in row["codes"])

    query = [float(x) for x in vecs[11]]
    got = [r["vec_id"] for r in pq.topk_pq(codes, query, books, k=20).collect()]
    q = np.asarray(query)
    exact = list(np.argsort(((vecs.astype(np.float64) - q) ** 2).sum(1))[:20])
    recall = len(set(got) & set(int(i) for i in exact)) / 20
    # 8 subspaces x 4 bits on isotropic gaussians is PQ's worst case;
    # ADC still ranks the near field far above chance (20/400 = 5%)
    assert recall >= 0.3, f"recall {recall:.2f}"
    assert got[0] == 11  # own vector: quantization error is smallest


def test_incremental_ivf_equals_one_shot_build(spark, tmp_path):
    """Appending a delta against the index's FROZEN centroids must
    produce an index bit-identical to a one-shot build of the union —
    same cell assignments, same probe results — and the merged read
    must prune to the probed cell partitions."""
    import numpy as np

    rng = np.random.RandomState(9)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(lo, hi)],
        "vec_id long, embedding array<float>",
    )
    base, delta, union = mk(0, 240), mk(240, 300), mk(0, 300)
    cents = ann.sample_centroids(base, 8, id_col="vec_id")

    path = str(tmp_path / "ivf")
    ann.write_ivf_index(base, cents, path)
    ann.append_to_ivf_index(delta, path)
    merged = ann.read_ivf_index(spark, path)

    one_shot = ann.assign_cells(union, cents)
    got = {r["vec_id"]: r["cell"] for r in merged.collect()}
    want = {r["vec_id"]: r["cell"] for r in one_shot.collect()}
    assert got == want  # assignment is a pure fn of frozen centroids

    query = [float(x) for x in vecs[250]]  # a DELTA vector
    inc = [r["vec_id"] for r in ann.topk_ivf(
        merged, cents, query, k=10, nprobe=3, id_col="vec_id").collect()]
    ref = [r["vec_id"] for r in ann.topk_ivf(
        one_shot, cents, query, k=10, nprobe=3, id_col="vec_id").collect()]
    assert inc == ref and inc[0] == 250

    # probe pruning: the cell predicate must reach PartitionFilters
    probed_df = merged.filter(F.col("cell").isin([0, 1]))
    plan = probed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_kmeans_driver_fast_path_bit_identical(spark, sf_dir):
    """The round-15 driver Lloyd fast path must be BIT-IDENTICAL to the
    distributed loop — same first-k-ids init, same full-matrix argmax
    assign, same id-sorted float64 cell means — so the IVF tiers'
    outputs are invariant to which path ran (the outputs of every
    kmeans consumer are pinned on this)."""
    import numpy as np

    from outreach_etl_tool_spark.catalog import load_table
    from outreach_etl_tool_spark.similarity import kmeans

    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    fast = kmeans.kmeans_centroids(embs, k=8, iters=3)
    dist = kmeans.kmeans_centroids(embs, k=8, iters=3, driver_fit_max=0)
    assert np.array_equal(np.asarray(fast), np.asarray(dist))
    # the decon tier's filtered fit set takes the same two paths
    fit = embs.filter(~(F.col("vec_id") % 7 == 0))
    fast = kmeans.kmeans_centroids(fit, k=8, iters=3)
    dist = kmeans.kmeans_centroids(fit, k=8, iters=3, driver_fit_max=0)
    assert np.array_equal(np.asarray(fast), np.asarray(dist))
