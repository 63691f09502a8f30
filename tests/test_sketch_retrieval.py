"""KMV sketch + BM25 retrieval: decomposition equalities and a pure-Python
reference oracle (the driver's DuckDB twin covers the SQL parity axis)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.functions.sketch import (
    KMV_SPACE,
    kmv_distinct,
    kmv_merge,
    kmv_min_hashes,
)
from open_vector_tile_spark.operators.retrieval import bm25_topk, build_postings


def _py_kmv_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


@pytest.fixture(scope="module")
def items(spark):
    # two groups with very different cardinalities; duplicates on purpose
    rows = [("a", f"tok{i % 400}") for i in range(3000)] + [
        ("b", f"tok{i % 23}") for i in range(500)
    ]
    return spark.createDataFrame(rows, ["g", "item"])


def test_two_level_equals_single_level(spark, items):
    lo = kmv_min_hashes(items, ["g"], "item", k=32, fanout=1).toPandas()
    hi = kmv_min_hashes(items, ["g"], "item", k=32, fanout=16).toPandas()
    key = lambda p: sorted(map(tuple, p[["g", "_h", "_rn"]].values))  # noqa: E731
    assert key(lo) == key(hi)


def test_kmv_matches_python_reference(spark, items):
    got = {
        r["g"]: (r["n_kept"], r["kth_min"], r["est_distinct"])
        for r in kmv_distinct(items, ["g"], "item", k=32).collect()
    }
    for g, n in [("a", 400), ("b", 23)]:
        hashes = sorted({_py_kmv_hash(f"tok{i}") for i in range(n)})
        keep = hashes[:32]
        est = len(keep) if len(keep) < 32 else (31 * KMV_SPACE) // keep[-1]
        assert got[g] == (len(keep), keep[-1], est)


def test_kmv_exact_below_k_and_estimate_accuracy(spark):
    rows = [("g", f"x{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, ["g", "item"])
    exact = kmv_distinct(df, ["g"], "item", k=8192).collect()[0]
    assert exact["est_distinct"] == 5000  # m < k -> exact count
    est = kmv_distinct(df, ["g"], "item", k=256).collect()[0]["est_distinct"]
    assert abs(est - 5000) / 5000 < 3 / math.sqrt(256)  # ~3 sigma


def test_kmv_merge_equals_union_sketch(spark):
    a = spark.createDataFrame([("g", f"a{i}") for i in range(300)], ["g", "item"])
    b = spark.createDataFrame(
        [("g", f"a{i}") for i in range(150, 450)], ["g", "item"]
    )
    merged = kmv_merge(
        kmv_min_hashes(a, ["g"], "item", k=24),
        kmv_min_hashes(b, ["g"], "item", k=24),
        ["g"],
        k=24,
    )
    direct = kmv_min_hashes(a.unionByName(b), ["g"], "item", k=24)
    assert sorted(r["_h"] for r in merged.collect()) == sorted(
        r["_h"] for r in direct.collect()
    )


CORPUS = [
    (0, "spark shuffle join spark spark"),
    (1, "window window aggregate filter"),
    (2, "spark window customer order"),
    (3, "vector tile encode decode vector"),
    (4, "customer customer customer spark"),
    (5, "totally unrelated words here okay"),
]


def _py_bm25(query, k1=1.2, b=0.75):
    toks = {d: t.split() for d, t in CORPUS}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for term in query:
        df_t = sum(term in v for v in toks.values())
        if df_t == 0:
            continue
        idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
        for d, v in toks.items():
            tf = v.count(term)
            if tf:
                dl = len(v)
                out[d] = out.get(d, 0.0) + idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * dl / avgdl)
                )
    return out


def test_bm25_matches_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    got = bm25_topk(docs, ["spark", "customer"], k=10).collect()
    want = _py_bm25(["spark", "customer"])
    assert {r["doc_id"] for r in got} == set(want)
    for r in got:
        assert r["score"] == pytest.approx(round(want[r["doc_id"]], 6), abs=2e-6)
    ranks = sorted(got, key=lambda r: r["rank"])
    scores = [r["score"] for r in ranks]
    assert scores == sorted(scores, reverse=True)


def test_bm25_ignores_unknown_terms_and_dedups_query(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    one = bm25_topk(docs, ["vector"], k=10).collect()
    # exact, case-variant, and absent duplicates must all collapse
    dup = bm25_topk(docs, ["vector", "Vector", "VECTOR", "zzz_absent"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in one] == [
        (r["doc_id"], r["score"]) for r in dup
    ]
    assert {r["doc_id"] for r in one} == {3}


def test_bm25_empty_query_and_prebuilt_index(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    assert bm25_topk(docs, [], k=10).collect() == []
    idx = build_postings(docs)
    got = bm25_topk(docs, ["spark"], k=10, index=idx).collect()
    assert got == bm25_topk(docs, ["spark"], k=10).collect()


def test_kmv_k_bound(spark, items):
    with pytest.raises(ValueError):
        kmv_distinct(items, ["g"], "item", k=32769)


def test_postings_shapes(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    postings, doclen = build_postings(docs)
    p = {(r["doc_id"], r["term"]): r["tf"] for r in postings.collect()}
    assert p[(0, "spark")] == 3 and p[(4, "customer")] == 3
    dl = {r["doc_id"]: r["dl"] for r in doclen.collect()}
    assert dl == {d: len(t.split()) for d, t in CORPUS}


# ---------------------------------------------------------------------------
# HLL (portable registers)
# ---------------------------------------------------------------------------

from open_vector_tile_spark.functions.sketch import (  # noqa: E402
    HLL_BITS,
    hll_distinct,
    hll_registers,
)


def _hll_ref_registers(values, p):
    """Scalar reference: md5-prefix hash -> (bucket, rho) register max."""
    wbits = HLL_BITS - p
    regs = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)
        j, w = h >> wbits, h % (1 << wbits)
        rho = wbits + 1 if w == 0 else wbits + 1 - (len(bin(w)) - 2)
        regs[j] = max(regs.get(j, 0), rho)
    return regs


def test_hll_registers_match_python_reference(spark):
    vals = [f"item-{i*7919 % 3001}" for i in range(9000)]
    sdf = spark.createDataFrame([(v,) for v in vals], "item string").withColumn(
        "g", F.lit(1)
    )
    got = {
        (r["_j"]): r["_r"]
        for r in hll_registers(sdf, ["g"], "item", p=10).collect()
    }
    want = _hll_ref_registers(set(vals), 10)
    assert got == want


def test_hll_estimate_accuracy(spark):
    n_true = 20000
    sdf = (
        spark.range(0, 3 * n_true)
        .selectExpr(f"concat('v', id % {n_true}) AS item")
        .withColumn("g", F.lit(1))
    )
    est = hll_distinct(sdf, ["g"], "item", p=12).collect()[0]["est_distinct"]
    assert abs(est - n_true) / n_true < 0.05  # 1.04/sqrt(4096) ~ 1.6% std


def test_hll_small_range_linear_counting(spark):
    sdf = spark.range(0, 50).selectExpr("concat('x', id) AS item").withColumn(
        "g", F.lit(1)
    )
    row = hll_distinct(sdf, ["g"], "item", p=12).collect()[0]
    # far below 2.5m -> linear counting; with 50 distinct buckets ~ all hit
    assert abs(row["est_distinct"] - 50) < 3


def test_hll_p_bound(spark):
    df = spark.range(3).selectExpr("CAST(id AS STRING) AS item")
    with pytest.raises(ValueError):
        hll_registers(df, [], "item", p=15)


# ---------------------------------------------------------------------------
# hashed TF-IDF
# ---------------------------------------------------------------------------

from open_vector_tile_spark.operators.retrieval import tfidf_hashed  # noqa: E402


def _tfidf_ref(texts, dim):
    """Scalar reference: md5-bucket hashing trick, smooth idf, L2 norm."""
    tok = {i: [t for t in txt.lower().strip().split() if t] for i, txt in texts.items()}
    tok = {i: ts for i, ts in tok.items() if ts}
    n = len(tok)
    tfb = {}
    for i, ts in tok.items():
        for t in ts:
            b = int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % dim
            tfb[(i, b)] = tfb.get((i, b), 0) + 1
    dfb = {}
    for (_i, b) in tfb:
        dfb[b] = dfb.get(b, 0) + 1
    w = {k: tf * (math.log((n + 1) / (dfb[k[1]] + 1)) + 1) for k, tf in tfb.items()}
    out = {}
    for i in tok:
        nrm = math.sqrt(sum(v * v for k, v in w.items() if k[0] == i))
        for (di, b), v in w.items():
            if di == i:
                out[(i, b)] = round(v / nrm, 6)
    return out


def test_tfidf_matches_python_reference(spark):
    texts = {
        1: "the cat sat on the mat",
        2: "the dog sat on the log",
        3: "vectors are hashed into buckets buckets buckets",
        4: "   ",
        5: "cat dog",
    }
    sdf = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in tfidf_hashed(sdf, dim=32).collect()
    }
    want = _tfidf_ref(texts, 32)
    assert got == pytest.approx(want)
    assert not any(d == 4 for d, _ in got)  # blank doc yields no vector


def test_tfidf_unit_norm(spark):
    sdf = spark.range(0, 40).selectExpr(
        "id AS doc_id",
        "concat('alpha beta w', CAST(id % 7 AS STRING), ' gamma w', CAST(id % 11 AS STRING)) AS text",
    )
    out = tfidf_hashed(sdf, dim=64).toPandas()
    norms = out.groupby("doc_id").weight.apply(lambda s: (s**2).sum())
    assert ((norms - 1.0).abs() < 1e-4).all()


def test_tfidf_feeds_cosine_topk(spark):
    """The sparse output densifies into the ANN stack: most-similar doc by
    TF-IDF cosine is the one sharing rarer tokens."""
    sdf = spark.createDataFrame(
        [
            (1, "spark streaming shuffle"),
            (2, "spark streaming shuffle"),
            (3, "completely different words here"),
        ],
        "doc_id long, text string",
    )
    sparse = tfidf_hashed(sdf, dim=64).toPandas()
    import numpy as np

    dense = {}
    for d, grp in sparse.groupby("doc_id"):
        v = np.zeros(64)
        v[grp.bucket.to_numpy()] = grp.weight.to_numpy()
        dense[d] = v
    assert dense[1] @ dense[2] > 0.999
    assert dense[1] @ dense[3] < 0.1


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

from open_vector_tile_spark.functions.sketch import (  # noqa: E402
    cms_counters,
    cms_estimate,
)


def _cms_ref(values, width, depth):
    counters = {}
    for v, w in values:
        h = hashlib.md5(str(v).encode()).hexdigest()
        for i in range(depth):
            b = int(h[8 * i : 8 * i + 8], 16) % width
            counters[(i, b)] = counters.get((i, b), 0) + w
    return counters


def test_cms_counters_match_python_reference(spark):
    rows = [(f"k{i % 50}", 1) for i in range(2000)]
    sdf = spark.createDataFrame(rows, "item string, w int")
    got = {
        (r["_row"], r["_bucket"]): r["_cnt"]
        for r in cms_counters(sdf, "item", width=256, depth=3, weight_col="w").collect()
    }
    assert got == _cms_ref(rows, 256, 3)


def test_cms_estimate_overcounts_never_under(spark):
    import collections

    rows = [(f"h{i % 5}",) for i in range(5000)] + [
        (f"t{i}",) for i in range(3000)
    ]
    true = collections.Counter(v for (v,) in rows)
    sdf = spark.createDataFrame(rows, "item string")
    counters = cms_counters(sdf, "item", width=1 << 12, depth=4)
    qs = spark.createDataFrame(
        [(k,) for k in ["h0", "h1", "h4", "t7", "t2999", "absent"]], "item string"
    )
    est = {
        r["item"]: r["est_count"]
        for r in cms_estimate(counters, qs, "item", width=1 << 12, depth=4).collect()
    }
    for k, e in est.items():
        assert e >= true.get(k, 0)
    # heavy hitters near-exact at this width/load
    for k in ["h0", "h1", "h4"]:
        assert est[k] - true[k] <= 5


def test_cms_depth_bound(spark):
    df = spark.range(3).selectExpr("CAST(id AS STRING) AS item")
    with pytest.raises(ValueError):
        cms_counters(df, "item", depth=5)


# ---------------------------------------------------------------------------
# KMV set operations
# ---------------------------------------------------------------------------

from open_vector_tile_spark.functions.sketch import kmv_set_ops  # noqa: E402


def test_kmv_set_ops_accuracy(spark):
    # |A|=600, |B|=600, |A∩B|=300 -> J = 1/3, |A∪B| = 900
    a = spark.createDataFrame(
        [("g", f"v{i}") for i in range(600)], ["g", "item"]
    )
    b = spark.createDataFrame(
        [("g", f"v{i}") for i in range(300, 900)], ["g", "item"]
    )
    sa = kmv_min_hashes(a, ["g"], "item", k=256)
    sb = kmv_min_hashes(b, ["g"], "item", k=256)
    row = kmv_set_ops(sa, sb, ["g"], k=256).collect()[0]
    assert abs(row["jaccard_est"] - 1 / 3) < 0.12
    assert abs(row["est_union"] - 900) / 900 < 0.2
    assert abs(row["est_intersection"] - 300) / 300 < 0.35


def test_kmv_set_ops_exact_below_k(spark):
    # everything fits in the sketch -> union/intersection are EXACT
    a = spark.createDataFrame([("g", f"x{i}") for i in range(40)], ["g", "item"])
    b = spark.createDataFrame([("g", f"x{i}") for i in range(20, 60)], ["g", "item"])
    sa = kmv_min_hashes(a, ["g"], "item", k=256)
    sb = kmv_min_hashes(b, ["g"], "item", k=256)
    row = kmv_set_ops(sa, sb, ["g"], k=256).collect()[0]
    assert row["est_union"] == 60
    assert row["match_k"] == 20
    assert row["est_intersection"] == 20
    assert row["jaccard_est"] == pytest.approx(round(20 / 60, 6))


def test_kmv_set_ops_disjoint(spark):
    a = spark.createDataFrame([("g", f"a{i}") for i in range(50)], ["g", "item"])
    b = spark.createDataFrame([("g", f"b{i}") for i in range(50)], ["g", "item"])
    sa = kmv_min_hashes(a, ["g"], "item", k=64)
    sb = kmv_min_hashes(b, ["g"], "item", k=64)
    row = kmv_set_ops(sa, sb, ["g"], k=64).collect()[0]
    assert row["match_k"] == 0 and row["est_intersection"] == 0
    assert row["jaccard_est"] == 0.0


# ---------------------------------------------------------------------------
# extract_keywords


def test_extract_keywords_matches_python(spark):
    import math

    from open_vector_tile_spark.operators.retrieval import extract_keywords

    texts = {
        0: "apple banana apple cherry",
        1: "banana banana durian",
        2: "cherry durian elder elder elder",
        3: "apple",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {}
    for r in extract_keywords(df, k=2).collect():
        got.setdefault(r["doc_id"], []).append(r)
    # python reference
    toks = {i: t.split() for i, t in texts.items()}
    dfreq = {}
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] = dfreq.get(t, 0) + 1
    n = len(texts)
    for i, ts in toks.items():
        scores = {}
        for t in set(ts):
            scores[t] = (ts.count(t) / len(ts)) * math.log((1 + n) / (1 + dfreq[t]))
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        rows = sorted(got[i], key=lambda r: r["rank"])
        assert [(r["term"],) for r in rows] == [(t,) for t, _ in want]
        for r, (t, s) in zip(rows, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)
            assert r["tf"] == toks[i].count(t) and r["dfreq"] == dfreq[t]


def test_extract_keywords_min_df_and_validation(spark):
    from open_vector_tile_spark.operators.retrieval import extract_keywords

    df = spark.createDataFrame(
        [(0, "rare common common"), (1, "common common other")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["term"] for r in extract_keywords(df, k=1, min_df=2).collect()}
    assert got[0] == "common"  # 'rare' pruned by min_df
    with pytest.raises(ValueError):
        extract_keywords(df, k=0)
    with pytest.raises(ValueError):
        extract_keywords(df, min_df=0)


def test_lexical_stats_matches_python(spark):
    import math

    from open_vector_tile_spark.operators.retrieval import lexical_stats

    texts = {
        0: "a a a a",              # zero entropy
        1: "a b c d",              # max entropy ln(4)
        2: "x x y",                # mixed
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in lexical_stats(df).collect()}
    for i, t in texts.items():
        ts = t.split()
        tfs = {w: ts.count(w) for w in set(ts)}
        h = -sum((c / len(ts)) * math.log(c / len(ts)) for c in tfs.values())
        r = got[i]
        assert (r["dl"], r["types"]) == (len(ts), len(tfs))
        assert r["ttr"] == len(tfs) / len(ts)
        assert r["entropy"] == pytest.approx(h, abs=1e-12)
    assert got[0]["entropy"] == 0.0
    assert got[1]["entropy"] == pytest.approx(math.log(4))


def test_rrf_fuse_reference_and_semantics(spark):
    from open_vector_tile_spark.operators.retrieval import rrf_fuse
    import pytest as _pt

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
        ["query_id", "doc_id", "rank"],
    )
    b = spark.createDataFrame(
        [(0, 12, 1), (0, 10, 2), (0, 13, 3)], ["query_id", "doc_id", "rank"]
    )
    got = {
        (r["query"], r["doc"]): (r["n_lists"], r["rrf"], r["fused_rank"])
        for r in rrf_fuse([a, b], k=60).collect()
    }
    # python reference
    import collections

    ref = collections.defaultdict(float)
    nl = collections.Counter()
    for rows in ([(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
                 [(0, 12, 1), (0, 10, 2), (0, 13, 3)]):
        for q, d, rk in rows:
            ref[(q, d)] += 1.0 / (60 + rk)
            nl[(q, d)] += 1
    for key, score in ref.items():
        assert got[key][0] == nl[key]
        assert got[key][1] == _pt.approx(score, abs=0)
    # doc 12 (ranks 3+1) and doc 10 (1+2) fuse above single-list docs
    order = sorted(
        ((v[2], d) for (q, d), v in got.items() if q == 0)
    )
    assert [d for _, d in order][:2] in ([10, 12], [12, 10])
    with _pt.raises(ValueError):
        rrf_fuse([])
    with _pt.raises(ValueError):
        rrf_fuse([a], k=0)


def test_rrf_fuse_top_n_and_single_list(spark):
    from open_vector_tile_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, d, d + 1) for d in range(10)], ["query_id", "doc_id", "rank"]
    )
    got = rrf_fuse([a], top_n=3).collect()
    assert sorted(r["doc"] for r in got) == [0, 1, 2]
    assert all(r["n_lists"] == 1 for r in got)
