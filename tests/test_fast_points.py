"""Byte-equivalence of the vectorized bulk point encoder vs the generic
writer path, on randomized inputs (the contract is byte-for-byte identity),
and the tile sink's sorted-run walk across Arrow batches."""

import json

import numpy as np
import pandas as pd
import pytest

from open_vector_tile_spark.codec import BaseFeature, BaseLayer, VectorTile, write_ov_tile
from open_vector_tile_spark.codec.fast_points import encode_point_layer_tiles_bulk
from open_vector_tile_spark.operators.tiler import LayerSpec, _encode_rows


def generic_bytes(layer, extent, shape, props_rows, qx, qy, ids=None):
    rows = []
    for i in range(len(qx)):
        rows.append(
            {
                "zoom": 5,
                "tile_x": 1,
                "tile_y": 2,
                "layer": layer,
                "extent": extent,
                "ftype": 1,
                "geom_xy": [int(qx[i]), int(qy[i])],
                "props_json": json.dumps(props_rows[i]),
                **({"id": int(ids[i])} if ids is not None else {}),
            }
        )
    specs = {layer: LayerSpec(extent=extent, shape=dict(shape))}
    tile, _ = _encode_rows(rows, specs)
    return tile


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("with_ids", [False, True])
def test_fast_equals_generic_random(seed, with_ids):
    rng = np.random.RandomState(seed)
    n = int(rng.randint(1, 400))
    shape = {"url": "string", "lang": "string", "rank": "i64", "score": "f64", "ok": "bool"}
    urls = np.array([f"https://e{rng.randint(0,50)}.org/{rng.randint(0,30)}" for _ in range(n)], dtype=object)
    langs = np.array([["en","de","fr"][rng.randint(0,3)] for _ in range(n)], dtype=object)
    ranks = rng.randint(-20, 20, n).astype(np.int64)
    scores = np.round(rng.uniform(-5, 5, n), 2)
    oks = rng.randint(0, 2, n).astype(bool)
    qx = rng.randint(0, 4096, n)
    qy = rng.randint(0, 4096, n)
    ids = rng.randint(0, 10**9, n) if with_ids else None
    props_rows = [
        {"url": urls[i], "lang": langs[i], "rank": int(ranks[i]), "score": float(scores[i]), "ok": bool(oks[i])}
        for i in range(n)
    ]
    want = generic_bytes("pages", 4096, shape, props_rows, qx, qy, ids)
    (got,) = encode_point_layer_tiles_bulk(
        "pages", 4096, shape,
        {"url": urls, "lang": langs, "rank": ranks, "score": scores, "ok": oks},
        qx, qy, [n], ids=ids,
    )
    assert got == want, f"n={n} first diff at {next((i for i,(a,b) in enumerate(zip(got,want)) if a!=b), 'len')}"


def test_fast_decodes_correctly():
    n = 50
    qx = np.arange(n) * 10 % 4096
    qy = np.arange(n) * 17 % 4096
    urls = np.array([f"u{i%7}" for i in range(n)], dtype=object)
    (tile,) = encode_point_layer_tiles_bulk(
        "pages", 4096, {"url": "string"}, {"url": urls}, qx, qy, [n]
    )
    parsed = VectorTile(tile)
    layer = parsed.layers["pages"]
    assert len(layer) == n
    for i in range(n):
        f = layer.feature(i)
        assert f.geometry == [(int(qx[i]), int(qy[i]))]
        assert f.properties == {"url": urls[i]}


def test_fast_empty_shape():
    n = 10
    qx = np.arange(n); qy = np.arange(n)
    (got,) = encode_point_layer_tiles_bulk("l", 512, {}, {}, qx, qy, [n])
    want = generic_bytes("l", 512, {}, [{} for _ in range(n)], qx, qy)
    assert got == want


def _written(shape, props_rows, qx, qy) -> bytes:
    """The generic writer's tile of one point layer (no ids)."""
    feats = [BaseFeature(1, [(int(x), int(y))], p, None) for x, y, p in zip(qx, qy, props_rows)]
    return write_ov_tile([BaseLayer(name="pages", extent=4096, shape=dict(shape), features=feats)])


def test_null_key_gets_no_value_slot():
    """A "null" shape key has no column entry and no value slot, as in the
    generic writer; a slot for it shifted every later key (``b`` decoded
    as the layer name)."""
    shape = {"a": "null", "b": "string", "c": "f64", "d": "null"}
    rows = [{"a": None, "b": "x", "c": 1.5, "d": None}, {"a": None, "b": "y", "c": 1.5, "d": None}]
    qx, qy = np.array([1, 3]), np.array([2, 4])
    props = {
        "a": np.array([None, None], dtype=object),
        "b": np.array(["x", "y"], dtype=object),
        "c": np.array([1.5, 1.5]),
        "d": np.array([None, None], dtype=object),
    }
    (got,) = encode_point_layer_tiles_bulk("pages", 4096, shape, props, qx, qy, [2])
    assert got == _written(shape, rows, qx, qy)
    layer = VectorTile(got).layers["pages"]
    assert [layer.feature(i).properties for i in range(2)] == rows


@pytest.mark.parametrize(
    "shape", [{"s": "string"}, {"s": "string", "u": "u64", "f": "f32"}, {"n": "null"}, {}]
)
def test_empty_batch_equals_generic(shape):
    """A zero-row batch encodes the generic writer's empty layer (a string
    key used to raise ``KeyError``)."""
    props = {k: np.array([], dtype=object) for k in shape}
    empty = np.array([], dtype=np.int64)
    (got,) = encode_point_layer_tiles_bulk("pages", 4096, shape, props, empty, empty, [0])
    assert got == _written(shape, [], empty, empty)


def test_encode_point_tiles_spark_equals_generic(spark):
    """End-to-end Spark: the columnar bulk path and the generic path produce
    byte-identical tiles for the same input."""
    from open_vector_tile_spark.functions.text import geoparse
    from open_vector_tile_spark.operators import (
        encode_point_tiles,
        encode_tiles,
        points_to_features,
        points_to_features_columnar,
    )
    from open_vector_tile_spark.sources import pages_pdf

    pages = spark.createDataFrame(pages_pdf(600)).cache()
    pts = geoparse(pages)
    fast_feats, meta = points_to_features_columnar(
        pts, zoom=4, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    fast = {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in encode_point_tiles(fast_feats, meta).collect()
    }
    generic_feats = points_to_features(
        pts, zoom=4, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    generic = {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in encode_tiles(generic_feats, specs=meta["specs"]).collect()
    }
    assert set(fast) == set(generic)
    mismatches = [k for k in fast if fast[k] != generic[k]]
    assert mismatches == []


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bulk_cross_tile_equals_single_tile(seed):
    """Cross-tile bulk encoder: every tile byte-identical to the generic
    writer on that tile's rows alone, -0.0 floats included (the generic
    writer stores them as +0.0)."""
    rng = np.random.RandomState(seed)
    shape = {"name": "string", "rank": "u64", "score": "f64", "delta": "i64",
             "ok": "bool", "temp": "f32"}
    for trial in range(10):
        n_tiles = int(rng.randint(1, 40))
        counts = rng.randint(1, 20, size=n_tiles)
        n = int(counts.sum())
        props = {
            "name": np.array([f"s{rng.randint(6)}" for _ in range(n)], dtype=object),
            "rank": rng.randint(0, 5, n).astype(np.int64),
            "score": np.round(rng.randn(n), 2),
            "delta": rng.randint(-5, 5, n).astype(np.int64),
            "ok": rng.randint(0, 2, n).astype(np.int64),
            "temp": np.round(rng.randn(n).astype(np.float64), 1),
        }
        props["score"][::7] = -0.0
        props["temp"][3::7] = -0.0
        qx = rng.randint(0, 4096, n)
        qy = rng.randint(0, 4096, n)
        ids = np.arange(n, dtype=np.int64) if trial % 2 else None
        bulk = encode_point_layer_tiles_bulk(
            "pages", 4096, shape, props, qx, qy, counts, ids=ids
        )
        s = 0
        for t, c in enumerate(counts):
            e = s + int(c)
            rows = [
                {k: v[i].item() if k != "name" else v[i] for k, v in props.items()}
                for i in range(s, e)
            ]
            single = generic_bytes(
                "pages", 4096, shape, rows, qx[s:e], qy[s:e],
                ids=ids[s:e] if ids is not None else None,
            )
            assert bulk[t] == single, f"trial {trial} tile {t}"
            s = e


def test_encode_point_tiles_tiny_tile_regime(spark):
    """z12: thousands of 1-3 feature tiles — the cross-tile path must match
    the generic writer byte-for-byte in the regime it exists to accelerate."""
    from open_vector_tile_spark.functions.text import geoparse
    from open_vector_tile_spark.operators import (
        encode_point_tiles,
        encode_tiles,
        points_to_features,
        points_to_features_columnar,
    )
    from open_vector_tile_spark.sources import pages_pdf

    pages = spark.createDataFrame(pages_pdf(2000)).cache()
    pts = geoparse(pages)
    fast_feats, meta = points_to_features_columnar(
        pts, zoom=12, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    fast = {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in encode_point_tiles(fast_feats, meta).collect()
    }
    generic_feats = points_to_features(
        pts, zoom=12, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    generic = {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in encode_tiles(generic_feats, meta["specs"]).collect()
    }
    assert set(fast) == set(generic) and len(fast) > 500
    assert all(fast[k] == generic[k] for k in fast)


def _carry_inputs(spark, encoder):
    """A builder of one encoder's tiles frame, over inputs whose tiles hold
    more than 3 rows."""
    from open_vector_tile_spark.functions.text import geoparse
    from open_vector_tile_spark.operators import (
        encode_point_tiles,
        encode_tiles,
        images_to_tiles,
        points_to_features,
        points_to_features_columnar,
    )
    from open_vector_tile_spark.sources import pages_pdf

    if encoder == "images_to_tiles":
        rows = [
            (4, k % 3, k // 3, f"band{b}", "raw", 4, 4, bytes([k, b]) * 8)
            for k in range(6)
            for b in range(5)
        ]
        images = spark.createDataFrame(
            rows, "zoom int, tile_x long, tile_y long, name string, type string, "
            "width int, height int, image binary",
        )
        return lambda: images_to_tiles(images)
    # warc_ts is distinct per page: an id pins the order within each tile
    pts = geoparse(spark.createDataFrame(pages_pdf(300)))
    if encoder == "encode_tiles":
        feats = points_to_features(pts, zoom=3, layer="pages", id_col="warc_ts", props_cols=["url"])
        return lambda: encode_tiles(feats)
    feats, meta = points_to_features_columnar(
        pts, zoom=3, layer="pages", id_col="warc_ts", props_cols=["url", "lang"]
    )
    return lambda: encode_point_tiles(feats, meta)


@pytest.mark.parametrize("encoder", ["encode_tiles", "encode_point_tiles", "images_to_tiles"])
def test_tile_runs_carry_over_arrow_batches(spark, encoder):
    """Tiles whose rows span Arrow batches (3 rows per batch) encode once,
    with the bytes and feature count of a run at the session default."""
    build = _carry_inputs(spark, encoder)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def tiles() -> dict:
        got = build().collect()
        keys = [(r["zoom"], r["tile_x"], r["tile_y"]) for r in got]
        assert len(keys) == len(set(keys))
        return {k: (bytes(r["tile"]), r["n_features"]) for k, r in zip(keys, got)}

    want = tiles()
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        got = tiles()
    finally:
        spark.conf.set(conf, old)
    assert sum(n > 3 for _, n in want.values()) >= 3
    assert got == want


def test_encode_point_tiles_negative_zero_equals_generic(spark):
    """A Spark double -0.0 reaches the bulk path through Arrow and the
    generic path through to_json; both store +0.0."""
    from open_vector_tile_spark.operators import (
        encode_point_tiles,
        encode_tiles,
        points_to_features,
        points_to_features_columnar,
    )

    pts = spark.createDataFrame(
        [(float(i), float(i) / 2, -0.0 if i % 2 else 1.5) for i in range(12)],
        "lon double, lat double, score double",
    )
    feats, meta = points_to_features_columnar(pts, zoom=0, layer="p", props_cols=["score"])
    fast = [bytes(r["tile"]) for r in encode_point_tiles(feats, meta).collect()]
    generic_feats = points_to_features(pts, zoom=0, layer="p", props_cols=["score"])
    generic = [bytes(r["tile"]) for r in encode_tiles(generic_feats, meta["specs"]).collect()]
    assert len(fast) == 1 and fast == generic


@pytest.mark.parametrize("batch", ["3", "default"])
def test_null_ids_next_to_long_ids_equal_generic(spark, batch):
    """A null id writes no id in the bulk encoder as in the generic writer,
    also when a run carried from a batch holding the nulls is joined with
    the next batch's ids."""
    from open_vector_tile_spark.operators import (
        encode_point_tiles,
        encode_tiles,
        points_to_features,
        points_to_features_columnar,
    )

    big = [(1 << 60) + 2 * i + 1 for i in range(4)]  # not exact in float64
    pts = spark.createDataFrame(
        [(None, 1.0, 1.0), (None, 2.0, 2.0)] + [(b, 3.0, 3.0) for b in big],
        "doc_id long, lon double, lat double",
    )
    feats, meta = points_to_features_columnar(pts, zoom=0, layer="p", id_col="doc_id")
    generic_feats = points_to_features(pts, zoom=0, layer="p", id_col="doc_id")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch != "default":
        spark.conf.set(conf, batch)  # [null, null, big0] then [big1, big2, big3]
    try:
        (fast,) = [bytes(r["tile"]) for r in encode_point_tiles(feats, meta).collect()]
        (generic,) = [bytes(r["tile"]) for r in encode_tiles(generic_feats, meta["specs"]).collect()]
    finally:
        spark.conf.set(conf, old)
    assert fast == generic
    layer = VectorTile(fast).layers["p"]
    ids = [layer.feature(i).id for i in range(len(layer))]
    assert ids[:2] == [None, None]
    if batch != "default":
        assert set(big[1:]) <= set(ids)


@pytest.mark.parametrize("encoder", ["bulk", "generic"])
def test_null_id_keeps_long_ids_exact(spark, encoder):
    """One null id next to ids past 2**53 in one Arrow batch: the tile
    decodes the input ids exactly (pandas would turn a long column holding
    a null into float64 and round them)."""
    from open_vector_tile_spark.operators import (
        encode_point_tiles,
        encode_tiles,
        points_to_features,
        points_to_features_columnar,
    )

    big = [(1 << 60) + 2 * i + 1 for i in range(4)]  # not exact in float64
    pts = spark.createDataFrame(
        [(None, 1.0, 1.0)] + [(b, 3.0, 3.0) for b in big],
        "doc_id long, lon double, lat double",
    )
    if encoder == "bulk":
        feats, meta = points_to_features_columnar(pts, zoom=0, layer="p", id_col="doc_id")
        tiles = encode_point_tiles(feats, meta)
    else:
        tiles = encode_tiles(points_to_features(pts, zoom=0, layer="p", id_col="doc_id"))
    (tile,) = [bytes(r["tile"]) for r in tiles.collect()]
    layer = VectorTile(tile).layers["p"]
    ids = [layer.feature(i).id for i in range(len(layer))]
    assert ids.count(None) == 1
    assert sorted(i for i in ids if i is not None) == big
