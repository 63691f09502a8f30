"""Bloom join pruning (functions/bloom.py)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from open_vector_tile_spark.functions.bloom import (
    bloom_build,
    bloom_prune_join,
)


def _py_positions(key: str, m: int, k: int):
    h = hashlib.md5(key.encode()).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % m for i in range(k)]


def test_build_matches_python_reference(spark):
    keys = [f"k{i}" for i in range(100)]
    sdf = spark.createDataFrame([(s,) for s in keys], "key string")
    m, k = 1 << 10, 3
    row = bloom_build(sdf, "key", m_bits=m, k=k).collect()[0]["bloom"]
    want: dict[int, int] = {}
    for s in keys:
        for p in _py_positions(s, m, k):
            want[p // 64] = want.get(p // 64, 0) | (1 << (p % 64))
    # python ints >= 2^63 need the signed-int64 view
    want = {w: b - (1 << 64) if b >= (1 << 63) else b for w, b in want.items()}
    assert dict(row) == want


def test_no_false_negatives_and_low_fp(spark):
    m, k = 1 << 14, 3
    members = spark.range(0, 2000).selectExpr("concat('m', id) AS key")
    words = dict(bloom_build(members, "key", m_bits=m, k=k).collect()[0]["bloom"])

    def hit(key):
        return all(words.get(p // 64, 0) & (1 << (p % 64)) for p in _py_positions(key, m, k))

    assert all(hit(f"m{i}") for i in range(2000))  # zero false negatives
    fp = sum(hit(f"x{i}") for i in range(4000)) / 4000
    assert fp < 0.05  # m/n ~ 8 bits/key, k=3 -> ~3%


def test_prune_join_equals_plain_join(spark):
    left = spark.range(0, 5000).selectExpr(
        "concat('u', id % 700) AS key", "id AS lval"
    )
    right = spark.range(0, 90).selectExpr(
        "concat('u', id * 7) AS key", "id AS rval"
    )
    got = bloom_prune_join(left, right, "key").toPandas()
    want = left.join(right, "key").toPandas()
    key = lambda df: sorted(map(tuple, df[["key", "lval", "rval"]].values))  # noqa: E731
    assert key(got) == key(want)


def test_param_validation(spark):
    df = spark.range(3).selectExpr("CAST(id AS STRING) AS key")
    with pytest.raises(ValueError):
        bloom_build(df, "key", k=5)
    with pytest.raises(ValueError):
        bloom_build(df, "key", m_bits=100)


def test_null_keys_ignored(spark):
    pdf = pd.DataFrame({"key": ["a", None, "b"]})
    filt = bloom_build(spark.createDataFrame(pdf), "key", m_bits=256, k=2)
    assert len(filt.collect()[0]["bloom"]) > 0


def test_bloom_prune_join_user_bloom_column(spark):
    """A user column literally named 'bloom' on the fact side must survive
    the prune (internals ride in _bloom_* columns)."""
    left = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "key long, bloom string"
    )
    right = spark.createDataFrame([(1,), (3,)], "key long")
    out = bloom_prune_join(left, right, "key", m_bits=1 << 10, k=2)
    rows = {r["key"]: r["bloom"] for r in out.collect()}
    assert rows == {1: "x", 3: "z"}
