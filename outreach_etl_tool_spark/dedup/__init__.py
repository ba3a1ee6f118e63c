"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

- exact:       hash-groupBy exact text dedup (L1)
- incremental: exact dedup of a new batch against a hash store (L1)
- ngram:       token/shingle Jaccard similarity self-join (exact, bounded)
- parity:      MinHash-LSH, SimHash and SRP embedding LSH near-dedup with
               exact integer verify, reproducible in DuckDB (L2)
- minhash:     shingles and the MinHash LSH candidate stage
- fingerprint: banded Hamming near-dup over 64-bit media fingerprints
- cluster:     connected components over dup pairs → canonical doc per cluster
"""
