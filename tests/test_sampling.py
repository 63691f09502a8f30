"""Deterministic sampling / dataset splitting properties."""

import hashlib

import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.functions.sampling import (
    dataset_split,
    deterministic_sample,
)


def _docs(spark, n=4000, parts=8):
    return spark.range(0, n, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body "), F.col("id")).alias("text"),
        F.concat(F.lit("host"), (F.col("id") % 37)).alias("host"),
    )


def test_sample_is_partitioning_invariant(spark):
    a = deterministic_sample(_docs(spark, parts=2), F.col("text"), 0.25)
    b = deterministic_sample(_docs(spark, parts=16), F.col("text"), 0.25)
    ia = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    ib = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert ia == ib
    # rate is approximately honored (binomial, 4000 draws)
    assert 0.20 < len(ia) / 4000 < 0.30


def test_sample_matches_python_md5(spark):
    """The JVM draw equals a reference md5 computed in Python — engine-portable."""
    got = {
        r["doc_id"]
        for r in deterministic_sample(_docs(spark, 500), F.col("text"), 0.3)
        .select("doc_id")
        .collect()
    }
    thr = format(int(round(0.3 * (1 << 32))), "08x")
    want = {
        i
        for i in range(500)
        if hashlib.md5(f"doc body {i}".encode()).hexdigest()[:8] < thr
    }
    assert got == want


def test_split_no_leakage_and_proportions(spark):
    df = _docs(spark, 6000).withColumn("split", dataset_split(F.col("host")))
    # every host maps to exactly one split
    leaks = df.groupBy("host").agg(F.countDistinct("split").alias("k")).filter("k > 1")
    assert leaks.count() == 0
    # proportions at HOST level track the weights (37 hosts is small; loose bounds)
    by = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert by.get("train", 0) > by.get("val", 0)
    assert set(by) <= {"train", "val", "test"}


def test_split_banding_is_exact(spark):
    """Band edges: the label is a pure function of the hash prefix bands."""
    df = _docs(spark, 2000).withColumn("split", dataset_split(F.col("text"), (0.5, 0.5), ("a", "b")))
    rows = df.select("text", "split").collect()
    for r in rows:
        pref = hashlib.md5(r["text"].encode()).hexdigest()[:8]
        want = "a" if pref < format(1 << 31, "08x") else "b"
        assert r["split"] == want


def test_sample_rate_one_keeps_everything(spark):
    """rate=1.0 must keep ALL rows — the 9-char threshold string '100000000'
    would lexicographically exclude any md5 prefix not starting with '0'."""
    assert deterministic_sample(_docs(spark, 500), F.col("text"), 1.0).count() == 500
    # and a rate that rounds up to 2^32 behaves the same
    assert deterministic_sample(_docs(spark, 500), F.col("text"), 0.9999999999).count() == 500


def test_split_trailing_zero_weight(spark):
    """A zero trailing weight means its label must never appear (the cumulative
    band before it reaches 1.0 and must cover everything remaining)."""
    df = _docs(spark, 2000).withColumn(
        "split", dataset_split(F.col("host"), (0.5, 0.5, 0.0), ("train", "val", "test"))
    )
    counts = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts.get("test", 0) == 0
    assert counts["train"] > 0 and counts["val"] > 0
    assert counts["train"] + counts["val"] == 2000


def test_weighted_sample_properties(spark):
    """Determinism across partitionings; weight-monotone inclusion on
    average; zero/negative weights never selected."""
    import pandas as pd

    from open_vector_tile_spark.functions.sampling import weighted_sample

    pdf = pd.DataFrame({
        "id": range(400),
        "w": [0.0 if i % 100 == 7 else (10.0 if i % 4 == 0 else 1.0) for i in range(400)],
    })
    df1 = spark.createDataFrame(pdf).repartition(1)
    df8 = spark.createDataFrame(pdf).repartition(8, "id")
    k = 80
    s1 = sorted(r["id"] for r in weighted_sample(df1, k, F.col("w"), F.col("id")).collect())
    s8 = sorted(r["id"] for r in weighted_sample(df8, k, F.col("w"), F.col("id")).collect())
    assert s1 == s8 and len(s1) == k
    # no zero-weight row selected
    assert all(i % 100 != 7 for i in s1)
    # heavy rows (w=10, 25% of rows) should dominate the sample
    heavy = sum(1 for i in s1 if i % 4 == 0)
    assert heavy > k // 2, heavy


def test_weighted_sample_underfull_excludes_nonpositive(spark):
    """k larger than the positive-weight population: returns only the
    positive-weight rows, never backfills w<=0 ones (both variants)."""
    import pandas as pd

    from open_vector_tile_spark.functions.sampling import (
        weighted_sample,
        weighted_sample_per_group,
    )

    pdf = pd.DataFrame({
        "id": range(20),
        "g": ["a" if i < 10 else "b" for i in range(20)],
        "w": [1.0 if i % 5 == 0 else 0.0 for i in range(20)],
    })
    df = spark.createDataFrame(pdf)
    out = weighted_sample(df, 15, F.col("w"), F.col("id")).collect()
    assert len(out) == 4 and all(r["w"] > 0 for r in out)
    outg = weighted_sample_per_group(df, 9, F.col("w"), F.col("id"), "g").collect()
    assert len(outg) == 4 and all(r["w"] > 0 for r in outg)


@pytest.mark.slow
def test_epoch_shuffle_is_deterministic_permutation(spark):
    from open_vector_tile_spark.functions.sampling import epoch_shuffle

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = epoch_shuffle(df.repartition(7), F.col("doc_id"), seed=3).toPandas()
    # bijection onto 0..n-1
    assert sorted(a["epoch_rank"]) == list(range(1000))
    # partitioning-invariant
    b = epoch_shuffle(df.repartition(2), F.col("doc_id"), seed=3).toPandas()
    assert a.set_index("doc_id")["epoch_rank"].to_dict() == b.set_index("doc_id")[
        "epoch_rank"
    ].to_dict()
    # a different seed gives a different order (overwhelmingly)
    c = epoch_shuffle(df, F.col("doc_id"), seed=4).toPandas()
    assert a.set_index("doc_id")["epoch_rank"].to_dict() != c.set_index("doc_id")[
        "epoch_rank"
    ].to_dict()
    # matches the single-window reference order
    import hashlib

    def h(seed, k):
        return int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:12], 16)

    want = {k: r for r, k in enumerate(sorted(range(1000), key=lambda k: (h(3, k), k)))}
    assert a.set_index("doc_id")["epoch_rank"].to_dict() == want


def test_mix_weights_reference_and_properties(spark):
    import math

    import pytest as _pt

    from open_vector_tile_spark.functions.sampling import mix_weights

    rows = [("a",)] * 80 + [("b",)] * 15 + [("c",)] * 5
    df = spark.createDataFrame(rows, ["source"]).repartition(5)
    got = {
        r["source"]: (r["n"], r["p"], r["w"], r["boost"])
        for r in mix_weights(df, alpha=0.5).collect()
    }
    ns = {"a": 80, "b": 15, "c": 5}
    N = 100.0
    ss = {k: math.sqrt(n / N) for k, n in ns.items()}
    Z = 0.0
    for v in sorted(ss.values()):
        Z = Z + v
    for k, n in ns.items():
        p = n / N
        w = ss[k] / Z
        assert got[k] == (n, p, w, w / p), k  # bit-exact
    # tempering up-samples the tail and down-samples the head
    assert got["c"][3] > 1.0 > got["a"][3]
    assert sum(v[2] for v in got.values()) == _pt.approx(1.0)
    with _pt.raises(ValueError):
        mix_weights(df, alpha=0)
