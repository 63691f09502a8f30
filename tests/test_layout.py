"""Layout keys and levers: the JVM Z-order key == numpy weave2d, the
Hilbert key == its Python reference, bucketing, global rank and STR
packing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.codec.kernels import weave2d
from open_vector_tile_spark.operators.layout import zorder_key


def test_zorder_key_matches_numpy_weave2d(spark):
    rng = np.random.default_rng(7)
    xs = rng.integers(0, 65536, 300)
    ys = rng.integers(0, 65536, 300)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], ["x", "y"]
    )
    got = [
        r["k"]
        for r in df.select(zorder_key(F.col("x"), F.col("y")).alias("k"))
        .collect()
    ]
    want = weave2d(xs, ys).astype(np.int64).tolist()
    assert got == want


def test_bucketed_join_has_no_exchange(spark):
    from open_vector_tile_spark.operators.layout import bucketed_join, write_bucketed

    a = spark.range(0, 5000).selectExpr("id % 400 AS k", "id AS a_val")
    b = spark.range(0, 1000).selectExpr("id % 400 AS k", "id * 7 AS b_val")
    write_bucketed(a, "t_bkt_a", ["k"], 8, sort_cols=["k"])
    write_bucketed(b, "t_bkt_b", ["k"], 8, sort_cols=["k"])
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bucketed_join(spark, "t_bkt_a", "t_bkt_b", ["k"])
            n = j.count()
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan  # co-located: zero shuffles
            assert "SortMergeJoin" in plan
            # correctness vs plain join of the source frames
            want = a.join(b, "k").count()
            assert n == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_bucketed_agg_has_no_exchange(spark):
    """groupBy on the bucket key also skips its shuffle — the layout pays
    for aggregations, not just joins."""
    from open_vector_tile_spark.operators.layout import write_bucketed

    a = spark.range(0, 3000).selectExpr("id % 97 AS k", "id AS v")
    write_bucketed(a, "t_bkt_g", ["k"], 8)
    try:
        agg = spark.table("t_bkt_g").groupBy("k").sum("v")
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert agg.count() == 97
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_g")


# ---------------------------------------------------------- global_rank / STR


def test_global_rank_matches_window(spark):
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from open_vector_tile_spark.operators.layout import global_rank

    rng = random.Random(59)
    rows = [(i, rng.uniform(0, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "rid long, v double").repartition(9)
    got = {
        r["rid"]: r["_rank"]
        for r in global_rank(df, ["v", "rid"], num_partitions=7).collect()
    }
    want = {
        r["rid"]: r["w"] - 1
        for r in df.withColumn(
            "w", F.row_number().over(Window.orderBy("v", "rid"))
        ).collect()
    }
    assert got == want
    # duplicate keys broken by the id tie-break still rank exactly
    rows2 = [(i, float(i % 3)) for i in range(60)]
    df2 = spark.createDataFrame(rows2, "rid long, v double")
    got2 = {
        r["rid"]: r["_rank"]
        for r in global_rank(df2, ["v", "rid"], num_partitions=5).collect()
    }
    want2 = {
        rid: rank
        for rank, (v, rid) in enumerate(sorted((v, rid) for rid, v in rows2))
    }
    assert got2 == want2


def _py_str_pack(rects, cap):
    import math

    n = len(rects)
    n_leaves = math.ceil(n / cap)
    n_slices = math.ceil(math.sqrt(n_leaves))
    slice_rows = math.ceil(n / n_slices)
    leaves_per_slice = math.ceil(slice_rows / cap)
    by_cx = sorted(rects, key=lambda r: ((r[1] + r[3]) / 2.0, r[0]))
    out = {}
    for rank, r in enumerate(by_cx):
        out[r[0]] = [rank // slice_rows]
    for s in {v[0] for v in out.values()}:
        in_slice = sorted(
            (r for r in rects if out[r[0]][0] == s),
            key=lambda r: ((r[2] + r[4]) / 2.0, r[0]),
        )
        for j, r in enumerate(in_slice):
            out[r[0]].append(s * leaves_per_slice + j // cap)
    return {k: tuple(v) for k, v in out.items()}


def test_str_pack_parity_and_mbrs(spark):
    import random

    from open_vector_tile_spark.operators.layout import str_pack

    rng = random.Random(61)
    rects = []
    for i in range(180):
        x, y = rng.uniform(0, 100), rng.uniform(0, 100)
        rects.append((i, x, y, x + rng.uniform(0.1, 5), y + rng.uniform(0.1, 5)))
    df = spark.createDataFrame(
        rects, "rid long, xmin double, ymin double, xmax double, ymax double"
    ).repartition(7)
    out = str_pack(df, leaf_capacity=8).collect()
    want = _py_str_pack(rects, 8)
    got = {r["rid"]: (r["slice"], r["leaf_id"]) for r in out}
    assert got == want
    # every rect inside its leaf MBR; leaf sizes respect capacity
    by_leaf = {}
    rd = {r[0]: r for r in rects}
    for r in out:
        by_leaf.setdefault(r["leaf_id"], []).append(r)
        rect = rd[r["rid"]]
        assert r["leaf_xmin"] <= rect[1] and r["leaf_ymin"] <= rect[2]
        assert r["leaf_xmax"] >= rect[3] and r["leaf_ymax"] >= rect[4]
        assert r["n_in_leaf"] <= 8
    for leaf, rows in by_leaf.items():
        assert len(rows) == rows[0]["n_in_leaf"]


def test_str_pack_validation(spark):
    import pytest as _pytest

    from open_vector_tile_spark.operators.layout import str_pack

    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.0, 1.0)],
        "rid long, xmin double, ymin double, xmax double, ymax double",
    )
    with _pytest.raises(ValueError):
        str_pack(df, leaf_capacity=0)
    with _pytest.raises(ValueError):
        str_pack(df.where("rid < 0"), leaf_capacity=4)


# ---------------------------------------------------------------------------
# Hilbert curve
# ---------------------------------------------------------------------------


def test_hilbert_python_reference_is_a_hilbert_curve():
    from open_vector_tile_spark.operators.layout import hilbert_d_py

    # order-1 base case: the U shape
    assert [hilbert_d_py(x, y, 1) for x, y in [(0, 0), (0, 1), (1, 1), (1, 0)]] == [
        0,
        1,
        2,
        3,
    ]
    # bijective on the full order-4 grid ...
    inv = {hilbert_d_py(x, y, 4): (x, y) for x in range(16) for y in range(16)}
    assert sorted(inv) == list(range(256))
    # ... and CONTINUOUS: consecutive keys are grid neighbors (the property
    # Z-order lacks — this is the whole point of the operator)
    for d in range(255):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


@pytest.mark.slow
def test_hilbert_spark_matches_python(spark):
    import numpy as np

    from open_vector_tile_spark.operators.layout import (
        hilbert_d_py,
        with_hilbert_key,
    )

    rng = np.random.default_rng(11)
    xs = rng.integers(0, 65536, 300)
    ys = rng.integers(0, 65536, 300)
    df = spark.createDataFrame(
        [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(xs, ys))],
        ["id", "x", "y"],
    )
    out = with_hilbert_key(df, "x", "y", order=16, key_col="hkey")
    got = {r["id"]: r["hkey"] for r in out.collect()}
    want = {i: hilbert_d_py(int(a), int(b), 16) for i, (a, b) in enumerate(zip(xs, ys))}
    assert got == want
    # corners at full order
    corner = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 65535), (2, 65535, 65535), (3, 65535, 0)],
        ["id", "x", "y"],
    )
    vals = {
        r["id"]: r["hkey"]
        for r in with_hilbert_key(corner, "x", "y", key_col="hkey").collect()
    }
    assert vals[0] == 0 and vals[3] == 2**32 - 1  # start and end of the curve

    # staged projections: the plan must stay LINEAR in the order, not
    # exponential (CollapseProject must not re-inline the per-level CASEs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 200_000


def test_hilbert_order_validation(spark):
    import pytest as _pytest

    from open_vector_tile_spark.operators.layout import with_hilbert_key

    df = spark.range(1).selectExpr("id AS x", "id AS y")
    with _pytest.raises(ValueError):
        with_hilbert_key(df, "x", "y", order=0)
    with _pytest.raises(ValueError):
        with_hilbert_key(df, "x", "y", order=32)


def test_hilbert_fewer_runs_than_zorder():
    """A bbox covers no more key-runs on the Hilbert curve than on the Z
    curve (the continuity advantage), measured exactly at order 6."""
    from open_vector_tile_spark.operators.layout import hilbert_d_py

    def runs(keys):
        ks = sorted(keys)
        return 1 + sum(1 for a_, b_ in zip(ks, ks[1:]) if b_ != a_ + 1)

    rng = np.random.default_rng(3)
    worse = 0
    for _ in range(40):
        x0, y0 = rng.integers(0, 48, 2)
        w, h = rng.integers(4, 16, 2)
        cells = [
            (x, y)
            for x in range(x0, min(64, x0 + w))
            for y in range(y0, min(64, y0 + h))
        ]
        hk = [hilbert_d_py(x, y, 6) for x, y in cells]
        zk = [
            int(weave2d(np.array([x]), np.array([y]))[0]) for x, y in cells
        ]
        if runs(hk) > runs(zk):
            worse += 1
    assert worse <= 8  # hilbert ties-or-wins on the overwhelming majority
