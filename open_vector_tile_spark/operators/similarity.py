"""Similarity search over embedding columns (array<float>).

Exact and approximate top-k — each collects its (dim-sized) queries and
runs ONE scan, :func:`_broadcast_topk`: the query-side state rides the
Arrow UDF to every task, each batch is scored by the operator's callback,
each partition keeps its k best rows per query by (score, id) and one rank
window orders the k*Q*partitions candidates.  The scan is shuffle-free up
to that window:

- :func:`cosine_topk_bruteforce` — exact cosine against every row; the
  baseline and the oracle.
- :func:`cosine_topk_lsh` — multi-table random-hyperplane sign-LSH:
  candidates share a bucket with the query, exact cosine re-ranks them.
- :func:`ivf_topk` — inverted file: rows whose nearest centroid is one of
  the query's ``n_probe`` nearest are re-ranked by exact cosine.
- :func:`pq_topk` — product quantization: rows are encoded against
  per-subspace codebooks and ranked by ADC squared-L2 distance (ascending).
- :func:`sq8_topk` — scalar quantization: integer code dot product, or
  dequantized cosine.

Training and encoding:

- :func:`ivf_train_centroids` / :func:`pq_train_codebooks` — one
  distributed Lloyd trainer (:func:`_lloyd`), cosine assignment over the
  whole vector for IVF and L2 assignment per subspace for PQ;
  :func:`ivf_assign` tags rows with the same assigner.
  :func:`pq_exact_codebooks` builds lossless codebooks for grid-quantized
  columns.
- :func:`sq8_train` / :func:`sq8_encode` — per-dimension min-max int8
  codes as column expressions.
- :func:`bq_code_cols` / :func:`bq_topk` — sign-bit codes, a popcount
  Hamming prefilter and an exact-cosine re-rank, all JVM windows.

Pairs: :func:`embedding_near_dups` (cosine >= threshold within LSH buckets,
with a hot-bucket cap, or exact all-pairs) and :func:`sparse_cosine_pairs`
(tf/df cosine through an inverted index).  :func:`cosine` is the column
expression of the cosine.

Numerics: dot products accumulate SEQUENTIALLY over the dim axis (a dim-long
loop of vectorized adds) — bit-identical to the scalar order
``((x0*y0)+x1*y1)+...`` that DuckDB's list_dot_product and Catalyst's
``aggregate()`` use, so oracle value hashes match while the work stays
numpy-vectorized across rows; every cosine matrix is :func:`_cos`.  The
previous per-row ``F.aggregate(zip_with)`` construction is interpreted (not
codegen'd) and costs ~0.4 ms/element; the Arrow path replaces
n_tables*n_planes of those per row with one batch pass.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# numpy kernels (Arrow batch side)
# ---------------------------------------------------------------------------


def _to_matrix(arrays) -> np.ndarray:
    """Series/list of equal-length vectors -> (n, dim) float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in arrays])


def _seq_dot(V: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n,d) x (q,d) -> (n,q), accumulated sequentially over d (see module
    docstring for why not a single matmul)."""
    n, d = V.shape
    acc = np.zeros((n, Q.shape[0]), dtype=np.float64)
    for j in range(d):
        acc += V[:, j : j + 1] * Q[None, :, j]
    return acc


def _seq_dot_pairwise(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise (n,d)·(n,d) -> (n,), sequential over d."""
    acc = np.zeros(len(A), dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def _seq_norm(V: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(V), dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return np.sqrt(acc)


def _cos(V: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n,d) x (q,d) -> (n,q) cosine: sequential dot / (|v| * |q|)."""
    return _seq_dot(V, Q) / (_seq_norm(V)[:, None] * _seq_norm(Q)[None, :])


def _nearest_centroid(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of each row's highest-cosine centroid (IVF assignment)."""
    return np.argmax(_cos(V, C), axis=1)


def _nearest_code(Vs: np.ndarray, Cs: np.ndarray) -> np.ndarray:
    """Index of each subvector's nearest code by squared L2."""
    # ||v - c||^2 argmin == argmax(2 v.c - ||c||^2)
    return np.argmax(2.0 * (Vs @ Cs.T) - (Cs**2).sum(axis=1)[None, :], axis=1)


def _pq_codes(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) rows x (m, n_codes, d/m) codebooks -> (n, m) code ids;
    subspace s takes columns [s*d/m, (s+1)*d/m)."""
    m, _, sub = C.shape
    return np.stack(
        [_nearest_code(V[:, s * sub : (s + 1) * sub], C[s]) for s in range(m)], axis=1
    )


def _topk_order(sims: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k best rows by (sim desc, id asc) — the exact total
    order of the ranking window, so local-then-global top-k is lossless."""
    order = np.lexsort((ids, -sims))
    return order[:k]


# ---------------------------------------------------------------------------
# column-expression twins (kept for SQL-only deployments; interpreted HOFs —
# the operators below use the Arrow kernels instead)
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    da = a.cast("array<double>")
    db = b.cast("array<double>")
    return F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# ---------------------------------------------------------------------------
# the shared top-k scan (broadcast queries, local top-k per partition)
# ---------------------------------------------------------------------------


def _broadcast_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    qid_col: str,
    qvec_col: str,
    score_col: str,
    score_type: str,
    prepare,
    descending: bool = True,
) -> DataFrame:
    """Top-k rows of ``corpus`` per query -> (qid_col, id_col, score_col, rank).

    The queries are collected (dim-sized) and sorted by id; ``prepare(Q)``
    turns their (q, dim) matrix into the operator's batch scorer
    ``score_batch(batch) -> [(query index, ids, scores)]``, which travels
    to the tasks inside the Arrow UDF (pyspark broadcasts a UDF past its
    1 MB command threshold).  Each partition keeps only its k best rows per
    query by (score, id), so the shuffle is k*Q*partitions rows instead of
    N*Q, and one window ranks them by (score, id): score descending, or
    ascending for a distance (``descending=False``).  Corpus rows whose
    ``id_col`` is null are dropped before the scan: a row with no id cannot
    be named in a result (and one null would turn a batch's id column into
    float64, rounding ids past 2**53).  An empty query set returns an empty
    frame without scanning the corpus."""
    qid_t = queries.schema[qid_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"{qid_col} {qid_t}, {id_col} {id_t}, {score_col} {score_type}"
    qp = queries.select(qid_col, qvec_col).toPandas().sort_values(qid_col)
    if qp.empty:
        return corpus.sparkSession.createDataFrame([], f"{schema}, rank int")
    qids = qp[qid_col].tolist()
    score_batch = prepare(_to_matrix(qp[qvec_col]))
    sign = 1 if descending else -1

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cands: list[list] = [[] for _ in qids]  # per query: (ids, scores) parts
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for qi, ids, scores in score_batch(pdf):
                sel = _topk_order(sign * scores, ids, k)
                cands[qi].append((ids[sel], scores[sel]))
        rows = []
        for qid, parts in zip(qids, cands):
            if not parts:
                continue
            ids_all = np.concatenate([p[0] for p in parts])
            s_all = np.concatenate([p[1] for p in parts])
            for j in _topk_order(sign * s_all, ids_all, k):
                rows.append((qid, ids_all[j], s_all[j]))
        yield pd.DataFrame(rows, columns=[qid_col, id_col, score_col])

    order = F.desc(score_col) if descending else F.asc(score_col)
    w = Window.partitionBy(qid_col).orderBy(order, F.asc(id_col))
    local = corpus.filter(F.col(id_col).isNotNull()).mapInPandas(scan, schema)
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _rerank(V: np.ndarray, ids: np.ndarray, Q: np.ndarray, masks) -> list:
    """Exact cosine of each query's candidate rows (``masks[qi]`` over the
    batch) -> the scan's [(query index, ids, scores)]."""
    return [
        (qi, ids[m], _cos(V[m], Q[qi : qi + 1])[:, 0]) for qi, m in enumerate(masks) if m.any()
    ]


# ---------------------------------------------------------------------------
# exact brute force
# ---------------------------------------------------------------------------


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: numpy-scored partitions, k*Q rows per partition shuffled.
    -> (query_id, vec_id, cos_sim, rank)."""

    def prepare(Q: np.ndarray):
        def score_batch(pdf: pd.DataFrame) -> list:
            ids = pdf[id_col].to_numpy()
            sims = _cos(_to_matrix(pdf[vec_col]), Q)
            return [(qi, ids, sims[:, qi]) for qi in range(len(Q))]

        return score_batch

    return _broadcast_topk(
        vectors, queries, k, id_col, qid_col, qvec_col, "cos_sim", "double", prepare
    )


# ---------------------------------------------------------------------------
# LSH
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).tolist()


def _plane_matrix(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """(n_tables*n_planes, dim) stacked hyperplane sets, seeds 42+7t.

    ``n_planes=0`` is the exact mode: zero hyperplanes -> every vector lands
    in bucket 0, so bucketed operators degrade to exact all-pairs / all-
    candidates (used by the driver oracle to verify the scoring kernel)."""
    if n_planes == 0:
        return np.zeros((0, dim))
    return np.concatenate(
        [np.asarray(_hyperplanes(dim, n_planes, seed=42 + 7 * t)) for t in range(n_tables)]
    )


def _bucket_keys(V: np.ndarray, P: np.ndarray, n_tables: int, n_planes: int) -> np.ndarray:
    """(n, dim) -> (n, n_tables) int64 keys: (table << n_planes) | sign bits."""
    signs = (V @ P.T) > 0  # (n, T*p); matmul fine — consistency only matters
    bits = signs.reshape(len(V), n_tables, n_planes).astype(np.int64)
    weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)
    b = (bits * weights).sum(axis=2)
    return (np.arange(n_tables, dtype=np.int64) << np.int64(n_planes)) | b


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    dim: Optional[int] = None,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH, entirely within the Arrow
    batch pass.  Candidates = corpus rows sharing >= 1 table bucket with the
    query; exact cosine re-rank on candidates only.  No shuffle until the
    final (k*Q*partitions)-row window.  Recall grows with tables, candidate
    cost shrinks with 2^planes."""

    def prepare(Q: np.ndarray):
        P = _plane_matrix(Q.shape[1] if dim is None else dim, n_planes, n_tables)
        qkeys = _bucket_keys(Q, P, n_tables, n_planes)  # (q, T)

        def score_batch(pdf: pd.DataFrame) -> list:
            V = _to_matrix(pdf[vec_col])
            vkeys = _bucket_keys(V, P, n_tables, n_planes)  # (n, T)
            masks = ((vkeys == qk[None, :]).any(axis=1) for qk in qkeys)
            return _rerank(V, pdf[id_col].to_numpy(), Q, masks)

        return score_batch

    return _broadcast_topk(
        vectors, queries, k, id_col, qid_col, qvec_col, "cos_sim", "double", prepare
    )


# ---------------------------------------------------------------------------
# distributed Lloyd k-means (IVF centroids, PQ codebooks)
# ---------------------------------------------------------------------------


def _seed_rows(vectors: DataFrame, n: int, id_col: str, vec_col: str) -> np.ndarray:
    """The ``n`` rows with the smallest ``xxhash64(id)`` -> (n, dim): a
    total order on unique ids, so the same seeds at any parallelism."""
    rows = (
        vectors.select(id_col, vec_col)
        .orderBy(F.abs(F.xxhash64(F.col(id_col))).asc(), F.col(id_col).asc())
        .limit(n)
        .toPandas()
    )
    return _to_matrix(rows[vec_col])


def _lloyd(
    vectors: DataFrame, C: np.ndarray, n_iters: int, vec_col: str, nearest
) -> np.ndarray:
    """Deterministic distributed Lloyd iterations of per-subspace codebooks
    ``C`` (m, n_codes, d/m); ``nearest(Vs, C[s])`` assigns subvectors.

    Each iteration is one map pass: Arrow batches assign their rows via
    numpy and emit per-partition partial (sub, code, pos, sum, cnt) rows; a
    partial-aggregating groupBy reduces them to m*n_codes*(d/m) rows before
    they reach the driver — scale-safe at any partition count.  A code
    that no row chose keeps its vector."""
    spark = vectors.sparkSession
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(C)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cm = bc.value
            mm, kk, ss = Cm.shape
            sums = np.zeros((mm, kk, ss), dtype=np.float64)
            cnts = np.zeros((mm, kk), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = _to_matrix(pdf[vec_col])
                for s in range(mm):
                    Vs = V[:, s * ss : (s + 1) * ss]
                    assign = nearest(Vs, Cm[s])
                    np.add.at(sums[s], assign, Vs)
                    cnts[s] += np.bincount(assign, minlength=kk)
            sidx, cidx, pidx = np.meshgrid(
                np.arange(mm), np.arange(kk), np.arange(ss), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "sub": sidx.ravel(),
                    "code": cidx.ravel(),
                    "pos": pidx.ravel(),
                    "vsum": sums.ravel(),
                    "cnt": np.repeat(cnts.ravel(), ss),
                }
            )

        agg = (
            vectors.select(vec_col)
            .mapInPandas(partials, "sub int, code int, pos int, vsum double, cnt long")
            .groupBy("sub", "code", "pos")
            .agg(F.sum("vsum").alias("vsum"), F.sum("cnt").alias("cnt"))
            .toPandas()
        )
        new_C = C.copy()
        for (s, code), grp in agg.groupby(["sub", "code"]):
            # each (sub, code, pos) row already carries the full per-partition
            # count; the groupBy sum makes it the TOTAL count — no rescaling
            cnt = int(grp["cnt"].iloc[0])
            if cnt > 0:
                new_C[int(s), int(code)] = grp.sort_values("pos")["vsum"].to_numpy() / cnt
        C = new_C
        bc.destroy()
    return C


# ---------------------------------------------------------------------------
# IVF (inverted-file ANN): coarse k-means quantizer + probed-list search
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic distributed Lloyd iterations -> (n_centroids, dim).

    Init picks the ``n_centroids`` rows with the smallest ``xxhash64(id)``
    (total order on unique ids -> same centroids at any parallelism); each
    iteration assigns rows by cosine and is one map pass plus a
    partial-aggregating groupBy (:func:`_lloyd` with one subspace)."""
    seeds = _seed_rows(vectors, n_centroids, id_col, vec_col)
    return _lloyd(vectors, seeds[None], n_iters, vec_col, _nearest_centroid)[0]


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "ivf_list",
) -> DataFrame:
    """Tag each vector with its nearest-centroid list id (the materialized
    inverted file — repartition/bucket by ``out_col`` to co-locate lists)."""
    from pyspark.sql.functions import pandas_udf

    Cm = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        return pd.Series(_nearest_centroid(_to_matrix(vecs), Cm).astype(np.int32))

    return vectors.withColumn(out_col, nearest(F.col(vec_col)))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: Optional[np.ndarray] = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe the ``n_probe`` nearest inverted lists per query,
    exact cosine re-rank inside them -> (query_id, vec_id, cos_sim, rank).

    One map pass over the corpus, shuffle-free to the final
    k*Q*partitions-row window (same shape as :func:`cosine_topk_lsh`): each
    Arrow batch computes its rows' list assignment AND scores only rows whose
    list is probed by some query.  ``n_probe >= n_centroids`` degrades to
    exact brute force (the driver-oracle mode).  At deployment scale,
    materialize :func:`ivf_assign` once and partition by list id so probes
    touch only matching partitions."""

    def prepare(Q: np.ndarray):
        C = centroids
        if C is None:
            C = ivf_train_centroids(vectors, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col)
        Cm = np.asarray(C, dtype=np.float64)
        # per query: the n_probe nearest lists (ties broken by list id via stable argsort)
        probes = np.argsort(-_cos(Q, Cm), axis=1, kind="stable")[:, : min(n_probe, len(Cm))]

        def score_batch(pdf: pd.DataFrame) -> list:
            V = _to_matrix(pdf[vec_col])
            assign = _nearest_centroid(V, Cm)
            return _rerank(V, pdf[id_col].to_numpy(), Q, (np.isin(assign, p) for p in probes))

        return score_batch

    return _broadcast_topk(
        vectors, queries, k, id_col, qid_col, qvec_col, "cos_sim", "double", prepare
    )


def embedding_near_dups(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: Optional[int] = 1024,
) -> DataFrame:
    """Near-dup pairs by cosine within LSH buckets -> (id_a, id_b, cos_sim).

    Bucketing runs in one Arrow UDF; the self-join is guarded by
    ``max_bucket`` (a degenerate bucket — e.g. many identical embeddings —
    would otherwise explode quadratically at web scale; run exact dedup
    first and cap the rest, standard MinHashLSH practice).  Pair scoring is
    a row-wise Arrow kernel, not an interpreted HOF."""
    from pyspark.sql.functions import pandas_udf

    if n_planes <= 0:
        # EXACT mode (the oracle's all-pairs twin, quadratic by declaration):
        # with zero planes every vector lands in ONE bucket, so the generic
        # bucket self-join below degenerates to a single-task join that
        # materializes all n^2/2 pair rows (vec payload twice per pair)
        # and runs the scoring UDF serially (measured 36 s of the sf0.1
        # full-surface sweep at n=2000).  Triangle-blocked rewrite: hash
        # ids into nb deterministic blocks (one wave), replicate each row
        # to its nb+1 block-pairs (O(n*nb) rows moved, not O(n^2)), and
        # score each block-pair with the SAME sequential-over-d kernels —
        # _seq_dot accumulates j in the identical order as
        # _seq_dot_pairwise and IEEE multiply commutes, so every cos_sim
        # double is bit-identical to the pairwise form.
        id_t = vectors.schema[id_col].dataType.simpleString()
        nb = max(2, vectors.sparkSession.sparkContext.defaultParallelism)

        def _block_pairs(key, pdf):
            bi, bj = int(key[0]), int(key[1])
            if bi == bj:
                sub = pdf[pdf["_side"] == 0]
                ids = sub[id_col].to_numpy()
                n = len(ids)
                if n < 2:
                    return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
                V = _to_matrix(sub[vec_col])
                iu, ku = np.triu_indices(n, 1)
                cos = _cos(V, V)[iu, ku]
                ia, ib = ids[iu], ids[ku]
            else:
                lh = pdf[pdf["_side"] == 0]
                rh = pdf[pdf["_side"] == 1]
                if len(lh) == 0 or len(rh) == 0:
                    return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
                cos = _cos(_to_matrix(lh[vec_col]), _to_matrix(rh[vec_col])).ravel()
                il = np.repeat(lh[id_col].to_numpy(), len(rh))
                ir = np.tile(rh[id_col].to_numpy(), len(lh))
                ia, ib = np.minimum(il, ir), np.maximum(il, ir)
            return pd.DataFrame({"id_a": ia, "id_b": ib, "cos_sim": cos})

        v = vectors.select(F.col(id_col), F.col(vec_col)).withColumn(
            "_p", F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb))
        )
        lhs = v.select(
            id_col,
            vec_col,
            F.col("_p").alias("_bi"),
            F.explode(F.sequence(F.col("_p"), F.lit(nb - 1))).alias("_bj"),
            F.lit(0).alias("_side"),
        )
        rhs = v.where(F.col("_p") > 0).select(
            id_col,
            vec_col,
            F.explode(F.sequence(F.lit(0), F.col("_p") - 1)).alias("_bi"),
            F.col("_p").alias("_bj"),
            F.lit(1).alias("_side"),
        )
        scored = (
            lhs.unionByName(rhs)
            .groupBy("_bi", "_bj")
            .applyInPandas(
                _block_pairs, f"id_a {id_t}, id_b {id_t}, cos_sim double"
            )
        )
        # id_a < id_b also drops duplicate-id pairs, matching the generic
        # path's strict filter on the join output
        return scored.filter(
            (F.col("id_a") < F.col("id_b")) & (F.col("cos_sim") >= threshold)
        )

    P = _plane_matrix(dim, n_planes, n_tables=1)

    @pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        V = _to_matrix(vecs)
        return pd.Series(_bucket_keys(V, P, 1, n_planes)[:, 0])

    @pandas_udf("double")
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = _to_matrix(va)
        B = _to_matrix(vb)
        return pd.Series(_seq_dot_pairwise(A, B) / (_seq_norm(A) * _seq_norm(B)))

    v = vectors.select(F.col(id_col), F.col(vec_col)).withColumn(
        "_bucket", bucket_of(F.col(vec_col))
    )
    if max_bucket:
        # shared rank-limit cap (dedup._cap_buckets): one WindowGroupLimit
        # window whose exchange on _bucket doubles as the self-join's
        # exchange below — map-side Partial pruning bounds degenerate
        # buckets before the shuffle, and the join adds no further sort
        from .dedup import _cap_buckets

        v = _cap_buckets(v, id_col, ["_bucket"], max_bucket)
    a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "_bucket")
    b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "_bucket")
    # merge hint: pin sort-merge so the two identical sides share one
    # exchange (ReusedExchange) instead of the broadcast build re-running
    # the bucket UDF + cap chain — see dedup.minhash_lsh_candidates
    pairs = a.hint("merge").join(b, on="_bucket").filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b", pair_cos(F.col("vec_a"), F.col("vec_b")).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


# ---------------------------------------------------------------------------
# product quantization (PQ): the memory-bound ANN scale path
# ---------------------------------------------------------------------------
# At 10^11 embeddings the raw vectors (d float32) no longer fit the cluster's
# memory; PQ stores one byte-sized code per subspace (m bytes/vector, a
# 32-128x compression) and scores with per-query lookup tables (ADC), so the
# scan over codes is memory-bandwidth-cheap.  Distances are squared
# Euclidean (the standard PQ metric; L2-normalize upstream for
# cosine-equivalent ranking).


def pq_train_codebooks(
    vectors: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic distributed k-means per subspace -> (m, n_codes, d/m).

    Same trainer as :func:`ivf_train_centroids` (:func:`_lloyd`), with
    squared-L2 assignment per subspace: init = subvectors of the
    ``n_codes`` smallest-xxhash ids (parallelism-invariant), each Lloyd
    iteration one map pass emitting (subspace, code, pos) partial sums that a
    groupBy reduces to m*n_codes*(d/m) rows before the driver sees them."""
    S = _seed_rows(vectors, n_codes, id_col, vec_col)
    d = S.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    # (m, n_codes, sub): subspace s takes columns [s*sub, (s+1)*sub)
    C = np.stack([S[:, s * sub : (s + 1) * sub] for s in range(m)])
    return _lloyd(vectors, C, n_iters, vec_col, _nearest_code)


def pq_exact_codebooks(
    vectors: DataFrame,
    vec_col: str = "embedding",
    max_codes: int = 256,
) -> np.ndarray:
    """Exact-mode PQ codebooks: one 1-dim subspace per dimension whose
    codebook is that dimension's DISTINCT value set -> (d, kmax, 1).

    Requires a vector column with per-dimension cardinality <= ``max_codes``
    (e.g. grid-quantized floats).  Encoding is then lossless and ADC equals
    exact squared-L2 distance, which turns the (normally lossy) PQ pipeline
    into an oracle-checkable exact operator: the same plumbing as the trained
    path — codebook broadcast, nearest-code assignment, per-query LUT, ADC
    scan, local top-k — with zero quantization error.  Same spirit as
    ``n_probe == n_centroids`` for IVF and ``n_planes == 0`` for LSH.

    The distinct-value scan is a Spark job (posexplode -> distinct ->
    per-dim collect); only d rows of <= max_codes values reach the driver.
    """
    pdf = (
        vectors.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .distinct()
        .groupBy("pos")
        .agg(F.sort_array(F.collect_list("val")).alias("vals"))
        .orderBy("pos")
        .toPandas()
    )
    d = len(pdf)
    kmax = int(max(len(v) for v in pdf["vals"]))
    if kmax > max_codes:
        raise ValueError(
            f"per-dimension cardinality {kmax} exceeds max_codes={max_codes}; "
            "quantize the vector column to a coarser grid first"
        )
    # pad with a far sentinel: its assignment score 2*v*c - c^2 is ~ -1e24,
    # so a padded slot can never win argmax
    C = np.full((d, kmax, 1), 1e12, dtype=np.float64)
    for row in pdf.itertuples():
        vals = np.asarray(row.vals, dtype=np.float64)
        C[int(row.pos), : len(vals), 0] = vals
    return C


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC top-k: per query a (m, n_codes) table of subspace squared
    distances is built once on the driver and broadcast; each Arrow batch
    encodes its rows and scores them as m table lookups + a sum — no
    full-dimension arithmetic in the scan.  Local top-k per partition, then
    the usual k*Q*partitions-row ranking window.  Returns
    (query_id, vec_id, adc_dist, rank), rank 1 = nearest."""
    Cm = np.asarray(codebooks, dtype=np.float64)
    mm, kk, ss = Cm.shape

    def prepare(Q: np.ndarray):
        # LUT[q, s, c] = ||q_s - C[s, c]||^2
        lut = np.empty((len(Q), mm, kk), dtype=np.float64)
        for s in range(mm):
            Qs = Q[:, s * ss : (s + 1) * ss]
            diff = Qs[:, None, :] - Cm[s][None, :, :]
            lut[:, s, :] = (diff**2).sum(axis=2)

        def score_batch(pdf: pd.DataFrame) -> list:
            ids = pdf[id_col].to_numpy()
            codes = _pq_codes(_to_matrix(pdf[vec_col]), Cm)
            # ADC: dist[q, row] = sum_s lut[q, s, codes[row, s]]
            return [
                (qi, ids, lut[qi, np.arange(mm)[None, :], codes].sum(axis=1))
                for qi in range(len(Q))
            ]

        return score_batch

    return _broadcast_topk(
        vectors, queries, k, id_col, qid_col, qvec_col, "adc_dist", "double", prepare,
        descending=False,
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — per-dimension min-max int8 codes
# ---------------------------------------------------------------------------


def sq8_train(
    vectors: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension min/max over the corpus -> (dim, vmin, vmax).

    The training half of scalar quantization (FAISS SQ8 / Milvus SQ8):
    each dimension is affinely mapped onto [0, 255].  4x smaller than
    float32 with near-lossless recall — the middle rung of the
    compression ladder between raw vectors and PQ's 32-128x.

    ONE posexplode + partial-agg shuffle with d distinct keys; min/max
    are order-insensitive and exact, so retraining on any partitioning
    yields identical stats (the reproducibility contract PQ's k-means
    needs iteration discipline for, SQ gets for free)."""
    return (
        vectors.select(F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min(F.col("x").cast("double")).alias("vmin"),
            F.max(F.col("x").cast("double")).alias("vmax"),
        )
    )


def _sq8_stats_arrays(stats: DataFrame) -> tuple[list, list]:
    sp = stats.toPandas().sort_values("dim")
    return sp["vmin"].tolist(), sp["vmax"].tolist()


def sq8_encode(
    vectors: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (id_col, codes array<int>): code_j = clamp(floor(((x_j - vmin_j)
    / (vmax_j - vmin_j)) * 255.0 + 0.5), 0, 255); degenerate dims
    (vmax == vmin) code to 0.  floor(+0.5) — the repo's JS-half-up
    convention — NOT round(), so the DuckDB twin replays bit-for-bit.

    The stats table is d rows (tiny, driver-collected into literal
    arrays), so encoding is a PURE column expression over the big side:
    no join, no shuffle, whole-stage codegen."""
    vmins, vmaxs = _sq8_stats_arrays(stats)
    lit_min = F.array(*[F.lit(float(v)) for v in vmins])
    lit_max = F.array(*[F.lit(float(v)) for v in vmaxs])
    zipped = F.arrays_zip(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("x"),
        lit_min.alias("lo"),
        lit_max.alias("hi"),
    )
    code = F.transform(
        zipped,
        lambda t: F.when(t["hi"] == t["lo"], F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        ((t["x"] - t["lo"]) / (t["hi"] - t["lo"])) * F.lit(255.0)
                        + F.lit(0.5)
                    ).cast("int"),
                ),
            )
        ),
    )
    return vectors.select(F.col(id_col), code.alias("codes"))


def sq8_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k search over SQ8 codes.

    Default scoring is the INTEGER code dot product (search in the
    per-dim affine space — rank-equivalent to dot on min-max-normalized
    data, and exact in any summation order: products are <= 255^2, so
    int64 accumulation replays bit-for-bit in a SQL twin).  Passing
    ``stats`` switches to asymmetric dequantized cosine (production
    scoring; floating-point, pytest-oracled against float cosine).

    Same distributed shape as cosine_topk_bruteforce: queries broadcast,
    numpy-scored partitions, k*Q candidate rows shuffle to one rank
    window."""
    dq = stats is not None

    def prepare(Q: np.ndarray):
        if dq:
            vmins, vmaxs = _sq8_stats_arrays(stats)
            lo = np.asarray(vmins, dtype=np.float64)
            step = (np.asarray(vmaxs, dtype=np.float64) - lo) / 255.0
            Qd = lo + Q * step
        else:
            Qi = Q.astype(np.int64)

        def score_batch(pdf: pd.DataFrame) -> list:
            C = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["codes"]])
            ids = pdf[id_col].to_numpy()
            # dequantized cosine, or the exact int64 code dot product
            sims = _cos(lo + C.astype(np.float64) * step, Qd) if dq else C @ Qi.T
            return [(qi, ids, sims[:, qi]) for qi in range(len(Q))]

        return score_batch

    return _broadcast_topk(
        codes, query_codes, k, id_col, qid_col, "codes", "score",
        "double" if dq else "bigint", prepare,
    )


# ---------------------------------------------------------------------------
# binary quantization (1 bit/dim): the extreme rung of the compression
# ladder (raw -> SQ8 4x -> PQ 32-128x -> BQ 32x with popcount distances)
# ---------------------------------------------------------------------------


def bq_code_cols(vec_col: str, dim: int) -> list:
    """32-dim sign-bit words as pure column expressions: bit i of word j is
    set iff vec[32j + i] > 0.  32-bit packing keeps every term within
    exact double range (pow(2, i) <= 2^31), and the per-word integer sum
    is order-free — the SQL twin replays it with list_transform/list_sum.
    Returns ceil(dim/32) columns named bq_w0, bq_w1, ..."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    cols = []
    for w in range((dim + 31) // 32):
        lo, hi = w * 32, min(dim, w * 32 + 32)
        word = F.aggregate(
            F.transform(
                F.sequence(F.lit(lo), F.lit(hi - 1)),
                lambda i: F.when(
                    F.get(F.col(vec_col), i).cast("double") > 0.0,
                    F.pow(F.lit(2.0), (i - F.lit(lo)).cast("double")).cast(
                        "long"
                    ),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        cols.append(word.alias(f"bq_w{w}"))
    return cols


def bq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized ANN -> (query_id, vec_id, hamming, cos_sim, rank):
    sign-bit codes + popcount Hamming prefilter keep ``k * refine``
    candidates per query, exact cosine re-ranks them to the final k.

    The memory math that motivates it at 10^11 vectors: a 64-dim float
    embedding is 256 B; its sign code is 8 B (32x), and the scan cost per
    candidate is a couple of XOR+POPCNT instructions instead of 64 FMAs.
    Recall comes from the refine pool — the re-rank stage reads full
    vectors for only k*refine rows per query.

    Fully deterministic end to end (integer Hamming, the proven
    sequential-fold cosine chain, id tie-breaks), so the driver oracle
    replays the ENTIRE pipeline — prefilter included — not just the
    final answer.  Plan: codes are map-side column math; candidates =
    crossJoin(broadcast(queries)); both ranks are windows on the query
    key, pruned map-side by WindowGroupLimit.
    """
    if k < 1 or refine < 1:
        raise ValueError(f"k and refine must be >= 1, got {k}, {refine}")
    n_words = (dim + 31) // 32
    v = vectors.select(
        F.col(id_col), F.col(vec_col), *bq_code_cols(vec_col, dim)
    )
    q = queries.select(
        F.col(qid_col),
        F.col(qvec_col).alias("_qvec"),
        *[
            c.alias(f"bq_q{w}")
            for w, c in enumerate(bq_code_cols(qvec_col, dim))
        ],
    )
    cand = v.crossJoin(F.broadcast(q))
    ham = None
    for w in range(n_words):
        term = F.bit_count(
            F.col(f"bq_w{w}").bitwiseXOR(F.col(f"bq_q{w}"))
        ).cast("long")
        ham = term if ham is None else ham + term
    cand = cand.withColumn("hamming", ham)
    w1 = Window.partitionBy(qid_col).orderBy(F.asc("hamming"), F.asc(id_col))
    pool = cand.withColumn("_r1", F.row_number().over(w1)).where(
        F.col("_r1") <= int(k) * int(refine)
    )
    pool = pool.withColumn("cos_sim", cosine(F.col(vec_col), F.col("_qvec")))
    w2 = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        pool.withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= int(k))
        .select(qid_col, id_col, "hamming", "cos_sim", "rank")
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = 100,
    min_cos: float = 0.5,
) -> DataFrame:
    """All document pairs with tf/df-weighted cosine >= ``min_cos``:
    ``(doc_a, doc_b, cos)`` — the sparse all-pairs similarity join
    (Bayardo et al., WWW'07 shape) done relationally through an inverted
    index, with no dense vectors and no O(n^2) candidate step.

    Weighting: w(doc, term) = tf/df over the KEPT vocabulary — terms with
    2 <= df <= ``df_cap``.  The df cap is the scale lever: a term in k
    documents contributes k^2 candidate partials, so stopword-ish terms
    would dominate the postings self-join; capping df bounds per-term work
    at df_cap^2 and drops exactly the terms with no discriminative weight
    (idf ~ 0).  Similarity is DEFINED on the pruned space — the cap is
    part of the semantics, not an approximation knob.

    Determinism contract: tf/df division, products, sqrt and the final
    division are single IEEE ops (bit-stable on any engine); the two
    order-sensitive sums — the norm and the pair dot product — use the
    repo's sorted-fold pattern (DuckDB twin: ``sum(x ORDER BY x)``).

    Shape: tokenize+tf is one partial-agg shuffle, df one more, the
    postings self-join shuffles on term (AQE-skew-splittable; bounded by
    the cap), and the pair reduction is one final partial agg on
    (doc_a, doc_b).
    """
    from open_vector_tile_spark.functions.text import ws_tokens
    from open_vector_tile_spark.operators.graph import _fold_sum

    if df_cap < 2:
        raise ValueError(f"df_cap must be >= 2, got {df_cap}")
    tf = (
        docs.select(F.col(id_col).alias("doc"), F.explode(ws_tokens(text_col)).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).where(
        (F.col("df") >= 2) & (F.col("df") <= int(df_cap))
    )
    w = tf.join(dfreq, "term").select(
        "doc", "term", (F.col("tf") / F.col("df")).alias("w")
    )
    norms = (
        w.groupBy("doc")
        .agg(F.sqrt(_fold_sum(F.col("w") * F.col("w"))).alias("norm"))
        .where(F.col("norm") > 0)
    )
    a = w.select(F.col("doc").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        # merge hint: same ReusedExchange rationale as dedup's LSH self-join
        # (broadcast build would re-run the tf/df weighting chain twice)
        a.hint("merge")
        .join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(_fold_sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("norm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos")
        )
        .where(F.col("cos") >= float(min_cos))
    )
