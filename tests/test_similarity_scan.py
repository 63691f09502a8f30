"""The shared top-k scan of operators/similarity.py, through the five
operators that use it, each in its exact mode: ties on the k boundary
across partitions, and an empty query set."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    ivf_topk,
    pq_exact_codebooks,
    pq_topk,
    sq8_topk,
)

MODES = ["bruteforce", "lsh", "ivf", "pq", "sq8"]


def _topk(spark, mode, corpus, queries, k):
    """Run one operator in its exact mode -> (result frame, score column)."""
    emb = spark.createDataFrame(corpus, "vec_id long, embedding array<double>").repartition(7)
    qs = spark.createDataFrame(queries, "query_id long, embedding array<double>")
    if mode == "bruteforce":
        return cosine_topk_bruteforce(emb, qs, k=k), "cos_sim"
    if mode == "lsh":
        return cosine_topk_lsh(emb, qs, k=k, n_planes=0, n_tables=1), "cos_sim"
    if mode == "ivf":
        return ivf_topk(emb, qs, n_centroids=4, n_probe=4, k=k), "cos_sim"
    if mode == "pq":
        return pq_topk(emb, qs, pq_exact_codebooks(emb), k=k), "adc_dist"
    codes = emb.select("vec_id", F.col("embedding").cast("array<int>").alias("codes"))
    qcodes = qs.select("query_id", F.col("embedding").cast("array<int>").alias("codes"))
    return sq8_topk(codes, qcodes, k=k), "score"


def _reference(mode, V, q):
    """Scores of every corpus row for query q, and whether higher is better.
    Small integer vectors make every dot product and squared norm exact, so
    these equal the operators' scores bit for bit in any summation order."""
    if mode == "pq":
        return ((V - q) ** 2).sum(axis=1), False
    if mode == "sq8":
        return V.astype(np.int64) @ q.astype(np.int64), True
    return (V @ q) / (np.sqrt((V * V).sum(axis=1)) * np.sqrt(q @ q)), True


@pytest.mark.parametrize("mode", MODES)
def test_ties_on_the_k_boundary_across_partitions(spark, mode):
    """Three distinct vectors, each held by 28 ids spread over seven
    partitions: a partition holds more than k rows of one score and every
    query's k-th and (k+1)-th rows tie, so each partition's top k, their
    merge and the rank window must all order by (score, id)."""
    rng = np.random.RandomState(7)
    base = rng.randint(1, 6, size=(3, 4)).astype(np.float64)
    ids = np.arange(84)
    V = base[ids % 3]
    corpus = [(int(i), v.tolist()) for i, v in zip(ids, V)]
    queries = [(100 + j, base[j].tolist()) for j in range(3)] + [(200, [1.0, 2.0, 3.0, 4.0])]
    k = 3
    got, score_col = _topk(spark, mode, corpus, queries, k)
    rows = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r[score_col]) for r in got.collect()
    )
    want = []
    for qid, qv in queries:
        scores, higher = _reference(mode, V, np.asarray(qv))
        order = np.lexsort((ids, -scores if higher else scores))
        assert scores[order[k - 1]] == scores[order[k]]  # a tie on the boundary
        want += [(qid, r + 1, int(ids[j]), scores[j]) for r, j in enumerate(order[:k])]
    assert rows == sorted(want)


@pytest.mark.parametrize("mode", MODES)
def test_empty_query_set_returns_empty_frame(spark, mode):
    corpus = [(i, [float(i % 3 + 1), 1.0, float(i % 5 + 1), 2.0]) for i in range(20)]
    got, score_col = _topk(spark, mode, corpus, [], k=3)
    assert got.columns == ["query_id", "vec_id", score_col, "rank"]
    assert got.collect() == []
