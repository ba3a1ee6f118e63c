"""Counters that need engine calls of their own. Traced runs only, and
always after the timed passes."""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

# the parameters of the sim_ann_ivf registry query
IVF_CELLS, IVF_ITERS, IVF_NPROBE, TOPK = 8, 3, 3, 25
RECALL_QUERIES = 5


def dedup_counts(spark, sf_dir: str) -> dict[str, float]:
    """LSH candidate pairs from ``dedup.minhash.candidate_pairs``, and
    how many of them the exact ``dedup_minhash`` result confirms."""
    from outreach_etl_tool_spark.catalog import load_table
    from outreach_etl_tool_spark.dedup import minhash
    from outreach_etl_tool_spark.queries import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    cand = minhash.candidate_pairs(docs).select("id_a", "id_b").localCheckpoint()
    exact = REGISTRY["dedup_minhash"].fn(spark, sf_dir).select("id_a", "id_b")
    n_cand = cand.count()
    n_ok = cand.join(exact, ["id_a", "id_b"], "left_semi").count()
    spark.catalog.clearCache()
    return {
        "dedup.candidate_pairs": float(n_cand),
        "dedup.verified_pairs": float(n_ok),
        "dedup.candidate_precision": n_ok / n_cand if n_cand else 0.0,
    }


def ivf_recall(spark, sf_dir: str) -> dict[str, float]:
    """Share of exact top-k neighbours that ``topk_ivf`` also returns,
    averaged over the first few vectors used as queries."""
    import pyarrow.parquet as pq

    from outreach_etl_tool_spark.catalog import load_table
    from outreach_etl_tool_spark.similarity import ann, kmeans

    embs = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans.kmeans_centroids(embs, k=IVF_CELLS, iters=IVF_ITERS)
    cells = ann.assign_cells(embs, centroids).localCheckpoint()
    vecs = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    recalls = []
    for q in vecs.column("embedding").to_pylist()[:RECALL_QUERIES]:
        ivf = ann.topk_ivf(cells, centroids, q, k=TOPK, nprobe=IVF_NPROBE)
        exact = ann.topk_bruteforce(embs, q, k=TOPK)
        got = {r["vec_id"] for r in ivf.select("vec_id").collect()}
        want = {r["vec_id"] for r in exact.select("vec_id").collect()}
        recalls.append(len(got & want) / len(want))
    spark.catalog.clearCache()
    return {"similarity.ivf_recall": statistics.fmean(recalls)}


def flatten_rate(api_dir: Path) -> float:
    """Records per second through ``ingest.flatten_record``, over every
    generated page (median of three sweeps)."""
    from outreach_etl_tool_spark.ingest.flatten import flatten_record

    records = [
        rec
        for p in sorted(api_dir.glob("*.json"))
        if p.name != "counts.json"
        for rec in json.loads(p.read_text())["data"]
    ]
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for rec in records:
            flatten_record(rec)
        rates.append(len(records) / (time.perf_counter() - t0))
    return statistics.median(rates)
