"""Full-fidelity table-level decode (S1): encode->decode->re-encode byte
equality through Spark for every geometry family, MVT fixtures via
``decode_tiles``, and the grid/image companion scans.

Reference read walkers this pins: src/open/vectorFeature.ts:182-329 (lines/
polys with offsets + M-values), src/vectorTile.ts:104-121 (dual MVT/OVT +
grid/image tags).
"""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.codec import VectorTile, write_ov_tile
from open_vector_tile_spark.operators import (
    decode_grids,
    decode_images,
    decode_tiles,
    encode_tiles,
)
from open_vector_tile_spark.operators.decode import DECODED_SCHEMA
from open_vector_tile_spark.sources import grid_input, image_input

FIXTURES = "/root/reference/tests/fixtures"


def _mixed_feature_rows():
    """One tile's worth of rows in FEATURE_SCHEMA form covering points w/
    M-values, multi-lines w/ offsets + M-values, polys w/ hole + bbox +
    indices + tessellation, and their 3D twins (types 4/5/6)."""
    base = {"zoom": 3, "tile_x": 1, "tile_y": 2, "layer": "mix", "extent": 4096}
    rows = [
        # type 1: multi-point with per-vertex M-values
        dict(base, id=1, ftype=1, geom_xy=[10, 20, 30, 40], ring_lens=None,
             poly_lens=None, offsets=None, bbox=None, indices=None, tess_xy=None,
             props_json=json.dumps({"name": "a", "rank": 3}),
             mvals_json=json.dumps([{"w": 1}, {"w": 2}])),
        # type 2: two lines, one dashed (offset), M-values on both
        dict(base, id=2, ftype=2, geom_xy=[0, 0, 5, 5, 9, 2, 7, 7, 8, 8],
             ring_lens=[3, 2], poly_lens=None, offsets=[1.5, 0.0], bbox=None,
             indices=None, tess_xy=None, props_json=json.dumps({"name": "road"}),
             mvals_json=json.dumps([{"m": 1}, {"m": 2}, {"m": 3}, {"m": 4}, {"m": 5}])),
        # type 3: polygon with hole, bbox, earcut indices + tessellation
        dict(base, id=3, ftype=3,
             geom_xy=[0, 0, 10, 0, 10, 10, 0, 10, 2, 2, 4, 2, 4, 4],
             ring_lens=[4, 3], poly_lens=[2], offsets=None,
             bbox=[1.0, 2.0, 3.0, 4.0], indices=[0, 1, 2], tess_xy=[1, 1, 2, 2],
             props_json=json.dumps({"kind": "park"}), mvals_json=None),
        # type 4: 3D points
        dict(base, id=4, ftype=4, geom_xy=[1, 2, 3, 4, 5, 6], ring_lens=None,
             poly_lens=None, offsets=None, bbox=None, indices=None, tess_xy=None,
             props_json=json.dumps({"name": "p3"}), mvals_json=None),
        # type 5: 3D line with offset
        dict(base, id=5, ftype=5, geom_xy=[0, 0, 1, 2, 2, 2, 4, 4, 3],
             ring_lens=[3], poly_lens=None, offsets=[2.25], bbox=None,
             indices=None, tess_xy=None, props_json=json.dumps({"name": "l3"}),
             mvals_json=None),
        # type 6: 3D polygon (single ring), 3D bbox
        dict(base, id=6, ftype=6,
             geom_xy=[0, 0, 0, 8, 0, 1, 8, 8, 2, 0, 8, 1],
             ring_lens=[4], poly_lens=[1], offsets=None,
             bbox=[0.0, 0.0, 8.0, 8.0, 0.0, 2.0], indices=None, tess_xy=None,
             props_json=json.dumps({"name": "roof"}), mvals_json=None),
    ]
    return rows


def test_spark_full_roundtrip_byte_equality(spark):
    """encode -> decode -> re-encode is byte-identical for all six types."""
    from open_vector_tile_spark.operators.tiler import FEATURE_SCHEMA

    feats = spark.createDataFrame(_mixed_feature_rows(), FEATURE_SCHEMA)
    tiles1 = encode_tiles(feats).cache()
    decoded = decode_tiles(tiles1)
    # decoded rows are FEATURE_SCHEMA-compatible: re-encode directly
    tiles2 = encode_tiles(decoded.drop("source", "feature_index", "n_vertices"))
    a = tiles1.toPandas().iloc[0]
    b = tiles2.toPandas().iloc[0]
    assert bytes(a["tile"]) == bytes(b["tile"])
    assert a["n_features"] == b["n_features"] == 6

    # and fidelity of the decoded columns themselves
    d = decode_tiles(tiles1).toPandas().sort_values("id").reset_index(drop=True)
    assert list(d["ftype"]) == [1, 2, 3, 4, 5, 6]
    line = d[d.id == 2].iloc[0]
    assert list(line["ring_lens"]) == [3, 2]
    assert list(line["offsets"]) == [1.5, 0.0]
    # the layer mshape is merged across features (points contribute "w"),
    # so decode fills shape defaults — reference decodeValue semantics
    assert json.loads(line["mvals_json"]) == [
        {"w": 0, "m": 1}, {"w": 0, "m": 2}, {"w": 0, "m": 3},
        {"w": 0, "m": 4}, {"w": 0, "m": 5}]
    poly = d[d.id == 3].iloc[0]
    assert list(poly["poly_lens"]) == [2]
    # bbox is wire-quantized (F10) — dequantized floats are approximate,
    # but quantize(dequantize(q)) == q keeps the re-encode byte-identical
    assert list(poly["bbox"]) == pytest.approx([1.0, 2.0, 3.0, 4.0], abs=1e-4)
    assert list(poly["indices"]) == [0, 1, 2]
    assert list(poly["tess_xy"]) == [1, 1, 2, 2]
    p3 = d[d.id == 6].iloc[0]
    assert list(p3["bbox"]) == pytest.approx([0.0, 0.0, 8.0, 8.0, 0.0, 2.0], abs=1e-3)
    assert list(p3["geom_xy"]) == [0, 0, 0, 8, 0, 1, 8, 8, 2, 0, 8, 1]


@pytest.mark.skipif(not os.path.isdir(FIXTURES), reason="reference fixtures absent")
def test_decode_tiles_reads_mvt_fixture(spark):
    """decode_tiles handles wire tags 1/3 (MVT) — validated against the
    reference's committed OMT tile (src/vectorTile.ts:104-121)."""
    with open(os.path.join(FIXTURES, "14-8801-5371.vector.pbf"), "rb") as f:
        blob = f.read()
    tiles = spark.createDataFrame(
        [(14, 8801, 5371, bytearray(blob))],
        "zoom int, tile_x long, tile_y long, tile binary",
    )
    d = decode_tiles(tiles).toPandas()
    # parity with the direct codec parse
    parsed = VectorTile(blob)
    want = {name: len(layer) for name, layer in parsed.layers.items()}
    got = d.groupby("layer").size().to_dict()
    assert got == want
    assert set(d["source"]) == {"mvt"}
    # line/poly structure survives: every type-2/3 feature carries ring_lens
    lp = d[d.ftype.isin([2, 3])]
    assert len(lp) > 0
    assert lp["ring_lens"].map(lambda r: r is not None and len(r) > 0).all()
    # props decode to dicts
    assert d["props_json"].map(lambda s: isinstance(json.loads(s), dict)).all()
    # layer pruning still applies to MVT layers
    one = sorted(want)[0]
    only = decode_tiles(tiles, layers=[one]).toPandas()
    assert set(only["layer"]) == {one}
    # source family pruning
    assert decode_tiles(tiles, sources=("ovt",)).count() == 0


def test_decode_grids_and_images(spark):
    g = grid_input(size=16)
    img = image_input(size=32)
    blob = write_ov_tile(
        None,
        images=[img],
        grids=[{"name": g["name"], "size": g["size"], "data": g["data"], "extent": g["extent"]}],
    )
    tiles = spark.createDataFrame(
        [(5, 3, 4, bytearray(blob))], "zoom int, tile_x long, tile_y long, tile binary"
    )
    gd = decode_grids(tiles).toPandas()
    assert len(gd) == 1 and gd.iloc[0]["name"] == "elevation"
    assert gd.iloc[0]["size"] == 16
    # dequantized data matches the codec's own read
    parsed = VectorTile(blob)
    want = parsed.grids["elevation"].data()
    got = gd.iloc[0]["data"]
    assert len(got) == len(want) and abs(got[0] - want[0]) < 1e-12
    idf = decode_images(tiles).toPandas()
    assert len(idf) == 1
    r = idf.iloc[0]
    assert (r["name"], r["type"], r["width"], r["height"]) == ("satellite", "raw", 32, 32)
    assert bytes(r["image"]) == img["image"]
    # name pruning
    assert decode_grids(tiles, names=["nope"]).count() == 0


def _staircase(n, y=0):
    """``n`` vertices one unit apart along x: every delta packs into a
    1-byte varint, so the ring's points-column body is exactly ``n`` bytes
    (the first vertex too while ``y`` is at most 3)."""
    return [(i, y) for i in range(n)]


def _random_walk(n, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    xs = (2000 + np.cumsum(rng.randint(-300, 300, n))).tolist()
    ys = (2000 + np.cumsum(rng.randint(-300, 300, n))).tolist()
    return list(zip(xs, ys))


def _codec_layer():
    """One layer of every geometry family, built with the codec writer:
    single and multi points, lines and polygons with offsets, M-values and
    bbox, with rings of 1, 8, 9, crossover-straddling and 200+ vertices so
    the column cache holds packed bodies on both sides of the scalar/numpy
    crossover (``pbf.SCALAR_VARINT_MAX_BYTES``)."""
    from open_vector_tile_spark.codec import BaseFeature, BaseLayer, BaseLine
    from open_vector_tile_spark.codec.pbf import SCALAR_VARINT_MAX_BYTES as cross

    def line(pts, offset=0.0):
        return BaseLine(pts, offset=offset, mvalues=[{"w": i % 7} for i in range(len(pts))])

    def props(i):
        return {"name": f"f{i}", "rank": i}

    feats = [
        BaseFeature(1, [(5, 7)], props(1), id=1),
        BaseFeature(1, _staircase(8, 1), props(2), id=2,
                    mvalues=[{"w": i} for i in range(8)]),
        BaseFeature(2, [line(_staircase(9, 2), 1.5), line(_staircase(cross - 1, 3), 0.25)],
                    props(3), id=3, bbox=[1.0, 2.0, 3.0, 4.0]),
        BaseFeature(2, [line(_staircase(cross, 1), 2.0), line(_random_walk(240, 0))],
                    props(4), id=4, bbox=[-10.0, -5.0, 10.0, 5.0]),
        BaseFeature(3, [[line(_staircase(9, 3), 0.5), line(_random_walk(200, 1))],
                        [line(_random_walk(8, 2), 3.0)]],
                    props(5), id=5, bbox=[0.5, 0.5, 1.5, 1.5]),
    ]
    layer = BaseLayer(name="mix", extent=4096)
    for f in feats:
        layer.add_feature(f)
    return layer


def test_truncated_buffer_raises_typed_error():
    """Corrupt/truncated buffers raise TileDecodeError, not bare IndexError.

    Every cut of engine-built OVT (single points, multi-points, lines and
    polygons through the column cache) and MVT tiles is caught at parse
    time; the reference's OMT tile is an extra case when it is present."""
    import pytest

    from open_vector_tile_spark.codec import TileDecodeError, VectorTile, write_mvt

    ovt = write_ov_tile([_codec_layer()])
    mvt = write_mvt([_codec_layer()])
    assert len(VectorTile(ovt).layers["mix"]) == len(VectorTile(mvt).layers["mix"]) == 5
    for raw in (ovt, mvt):
        for cut in range(1, len(raw)):
            with pytest.raises(TileDecodeError):
                VectorTile(raw[:cut])
    reference = os.path.join(FIXTURES, "14-8801-5371.vector.pbf")
    if os.path.exists(reference):
        raw = open(reference, "rb").read()
        for cut in (1, 7, 100, len(raw) // 2, len(raw) - 3):
            with pytest.raises(TileDecodeError):
                VectorTile(raw[:cut])
    with pytest.raises(TileDecodeError):
        VectorTile(b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff")


def test_decode_tiles_on_error_skip(spark):
    """on_error='skip' drops corrupt tiles atomically and keeps good ones;
    the default fails loudly with the typed error in the task message."""
    import pytest
    from pyspark.sql import functions as F

    from open_vector_tile_spark.operators import decode_tiles, encode_tiles, points_to_features

    pts = spark.range(100).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
    )
    tiles = encode_tiles(
        points_to_features(pts, zoom=2, layer="docs", extent=4096, id_col="doc_id")
    ).select("zoom", "tile_x", "tile_y", "tile")
    good_feats = decode_tiles(tiles).count()
    assert good_feats == 100

    corrupt = tiles.withColumn(
        "tile",
        F.when(F.col("tile_x") % 2 == 0, F.expr("substring(tile, 1, 5)")).otherwise(
            F.col("tile")
        ),
    )
    n_good_tiles = tiles.filter("tile_x % 2 != 0").count()
    assert n_good_tiles > 0

    kept = decode_tiles(corrupt, on_error="skip")
    pdf = kept.select("tile_x").distinct().toPandas()
    assert set(pdf["tile_x"] % 2) == {1}  # only intact tiles survive
    assert kept.count() == decode_tiles(tiles.filter("tile_x % 2 != 0")).count()

    with pytest.raises(Exception, match="TileDecodeError|invalid tile"):
        decode_tiles(corrupt).count()


def test_ovt_to_base_reencode_byte_equal(spark):
    """ovt_tile_to_base_layers round-trip guarantees byte-identical re-encode
    for shape-homogeneous tiles (every feature carries the same property
    keys — all engine-built tiles qualify)."""
    from open_vector_tile_spark.codec import VectorTile, ovt_tile_to_base_layers, write_ov_tile
    from open_vector_tile_spark.operators import encode_tiles, points_to_features

    pts = spark.createDataFrame(
        [(i, i * 1.7 - 90.0, i * 0.9 - 40.0) for i in range(50)],
        "doc_id long, lon double, lat double",
    )
    tiles = encode_tiles(
        points_to_features(pts, zoom=1, layer="docs", extent=4096, id_col="doc_id")
    ).collect()
    assert tiles
    for r in tiles:
        blob = bytes(r["tile"])
        again = write_ov_tile(ovt_tile_to_base_layers(VectorTile(blob)))
        assert again == blob


def test_ovt_reencode_byte_equal_across_scalar_crossover():
    """decode -> re-encode is byte-identical for lines and polygons with
    offsets, M-values and bbox whose packed columns sit below, at and above
    the scalar/numpy decode crossover, and the decoded vertices are exact."""
    from open_vector_tile_spark.codec import (
        VectorTile,
        kernels as K,
        ovt_tile_to_base_layers,
        write_ov_tile,
    )
    from open_vector_tile_spark.codec.pbf import SCALAR_VARINT_MAX_BYTES as cross
    from open_vector_tile_spark.codec.pbf import pack_varints

    layer = _codec_layer()
    rings = [ln.points for f in layer.features if f.ftype == 2 for ln in f.geometry]
    rings += [ln.points for f in layer.features if f.ftype == 3 for p in f.geometry for ln in p]
    sizes = {len(pack_varints(K.weave_and_delta_encode(*zip(*r)))) for r in rings}
    assert {cross - 1, cross} <= sizes
    assert min(sizes) < cross < max(sizes)
    want = [list(r) for r in rings]

    blob = write_ov_tile([layer])
    tile = VectorTile(blob)
    assert write_ov_tile(ovt_tile_to_base_layers(tile)) == blob
    got_layer = tile.layers["mix"]
    got = [ln.points for f in got_layer.features() if f.ftype == 2 for ln in f.geometry]
    got += [
        ln.points for f in got_layer.features() if f.ftype == 3 for p in f.geometry for ln in p
    ]
    assert got == want
    assert got_layer.feature(1).geometry == _staircase(8, 1)
    assert [m["w"] for m in got_layer.feature(1).mvalues] == list(range(8))


@pytest.mark.skipif(not os.path.isdir(FIXTURES), reason="reference fixtures absent")
def test_ovt_to_base_reencode_byte_equal_reference():
    """Byte-identical re-encode for the reference's heterogeneous OMT tile
    too — the converter carries the decoded layer's exact shape instead of
    re-running last-write-wins inference over the type-sorted decode order
    (which can flip a float key to u64 and truncate values)."""
    from open_vector_tile_spark.codec import (
        VectorTile,
        mvt_tile_to_base_layers,
        ovt_tile_to_base_layers,
        write_ov_tile,
    )

    raw = open(os.path.join(FIXTURES, "14-8801-5371.vector.pbf"), "rb").read()
    ovt_bytes = write_ov_tile(mvt_tile_to_base_layers(VectorTile(raw)))
    once = write_ov_tile(ovt_tile_to_base_layers(VectorTile(ovt_bytes)))
    assert once == ovt_bytes


def test_merge_tilesets_layer_union(spark):
    """merge_tilesets: disjoint keys pass through byte-unchanged; shared keys
    carry the union of both sides' layers with all features intact."""
    from pyspark.sql import functions as F

    from open_vector_tile_spark.codec import VectorTile
    from open_vector_tile_spark.operators import (
        encode_tiles,
        merge_tilesets,
        points_to_features,
    )

    def tiles_for(ids, layer):
        pts = spark.createDataFrame(
            [(int(i), (i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1600) / 10.0 - 80.0) for i in ids],
            "doc_id long, lon double, lat double",
        )
        return encode_tiles(
            points_to_features(pts, zoom=2, layer=layer, extent=4096, id_col="doc_id")
        ).select("zoom", "tile_x", "tile_y", "tile")

    a = tiles_for(range(0, 60), "base").cache()
    b = tiles_for(range(30, 90), "overlay").cache()
    merged = {
        (r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in merge_tilesets(a, b).collect()
    }
    am = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in a.collect()}
    bm = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in b.collect()}
    assert set(merged) == set(am) | set(bm)
    for k, blob in merged.items():
        t = VectorTile(blob)
        want_layers = ({"base"} if k in am else set()) | ({"overlay"} if k in bm else set())
        assert set(t.layers) == want_layers, k
        if k in am:
            n_base = len(VectorTile(am[k]).layers["base"])
            assert len(t.layers["base"]) == n_base
        if k in bm:
            n_over = len(VectorTile(bm[k]).layers["overlay"])
            assert len(t.layers["overlay"]) == n_over
        if k in am and k not in bm:
            assert blob == am[k]  # one-sided tiles pass through byte-unchanged
        if k in bm and k not in am:
            assert blob == bm[k]


def test_merge_tilesets_prefer_resolves_collisions(spark):
    from open_vector_tile_spark.codec import VectorTile
    from open_vector_tile_spark.operators import (
        encode_tiles,
        merge_tilesets,
        points_to_features,
    )

    def tiles_for(ids):
        pts = spark.createDataFrame(
            [(int(i), (i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1600) / 10.0 - 80.0) for i in ids],
            "doc_id long, lon double, lat double",
        )
        return encode_tiles(
            points_to_features(pts, zoom=1, layer="docs", extent=4096, id_col="doc_id")
        ).select("zoom", "tile_x", "tile_y", "tile")

    a = tiles_for(range(0, 40)).cache()
    b = tiles_for(range(0, 80)).cache()  # same layer name, more features
    for prefer, src in (("a", a), ("b", b)):
        got = {
            (r["tile_x"], r["tile_y"]): bytes(r["tile"])
            for r in merge_tilesets(a, b, prefer=prefer).collect()
        }
        want = {
            (r["tile_x"], r["tile_y"]): len(VectorTile(bytes(r["tile"])).layers["docs"])
            for r in src.collect()
        }
        for k, n in want.items():
            assert len(VectorTile(got[k]).layers["docs"]) == n, (prefer, k)


def test_extract_layers_roundtrip(spark):
    """Extracting 'base' from a merged two-layer tileset reproduces the
    original single-layer tiles byte-for-byte (lossless IR + carried shape);
    tiles without the layer are dropped."""
    from pyspark.sql import functions as F

    from open_vector_tile_spark.operators import (
        encode_tiles,
        extract_layers,
        merge_tilesets,
        points_to_features,
    )

    def tiles_for(ids, layer):
        pts = spark.createDataFrame(
            [(int(i), (i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1600) / 10.0 - 80.0) for i in ids],
            "doc_id long, lon double, lat double",
        )
        return encode_tiles(
            points_to_features(pts, zoom=2, layer=layer, extent=4096, id_col="doc_id")
        ).select("zoom", "tile_x", "tile_y", "tile")

    a = tiles_for(range(0, 60), "base").cache()
    b = tiles_for(range(30, 90), "overlay").cache()
    merged = merge_tilesets(a, b)
    back = {
        (r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in extract_layers(merged, ["base"]).collect()
    }
    am = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in a.collect()}
    assert set(back) == set(am)
    for k in am:
        assert back[k] == am[k], k


def test_decode_grids_images_skip_corrupt(spark):
    """on_error='skip' on the grid/image scans drops a corrupt blob and
    keeps the job alive, matching decode_tiles' operational contract;
    the default still fails typed."""
    import pytest

    from open_vector_tile_spark.codec import TileDecodeError

    g = grid_input(size=16)
    img = image_input(size=32)
    blob = write_ov_tile(
        None,
        images=[img],
        grids=[{"name": g["name"], "size": g["size"], "data": g["data"], "extent": g["extent"]}],
    )
    torn = blob[: len(blob) // 2]
    tiles = spark.createDataFrame(
        [(5, 3, 4, bytearray(blob)), (5, 3, 5, bytearray(torn))],
        "zoom int, tile_x long, tile_y long, tile binary",
    )
    gd = decode_grids(tiles, on_error="skip").toPandas()
    assert len(gd) == 1 and gd.iloc[0]["tile_y"] == 4
    idf = decode_images(tiles, on_error="skip").toPandas()
    assert len(idf) == 1 and idf.iloc[0]["tile_y"] == 4
    with pytest.raises(Exception) as ei:
        decode_grids(tiles).toPandas()
    assert "TileDecodeError" in str(ei.value) or isinstance(ei.value, TileDecodeError)


def test_merge_output_composes_with_encoded_tiles(spark):
    """Merged/extracted tilesets carry TILE_SCHEMA (incl. n_features) so
    they union with freshly encoded tiles — the retile_incremental input
    contract."""
    from open_vector_tile_spark.operators import (
        encode_tiles,
        extract_layers,
        merge_tilesets,
        points_to_features,
    )

    pts = spark.createDataFrame(
        [(int(i), (i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1600) / 10.0 - 80.0) for i in range(40)],
        "doc_id long, lon double, lat double",
    )
    enc = encode_tiles(points_to_features(pts, zoom=2, layer="a", extent=4096, id_col="doc_id"))
    enc_b = encode_tiles(points_to_features(pts, zoom=3, layer="b", extent=4096, id_col="doc_id"))
    merged = merge_tilesets(
        enc.select("zoom", "tile_x", "tile_y", "tile"),
        enc_b.select("zoom", "tile_x", "tile_y", "tile"),
    )
    # schema-compatible union with encoder output
    assert set(merged.columns) == set(enc.columns)
    assert merged.unionByName(enc).count() == merged.count() + enc.count()
    # n_features matches the true decoded count per tile
    got = {(r["zoom"], r["tile_x"], r["tile_y"]): r["n_features"] for r in merged.collect()}
    want = {
        (r["zoom"], r["tile_x"], r["tile_y"]): r["n_features"]
        for r in enc.unionByName(enc_b).collect()
    }
    assert got == want and sum(got.values()) == 80
    ext = extract_layers(merged, keep=["a"]).collect()
    assert all(r["n_features"] > 0 for r in ext)
    assert sum(r["n_features"] for r in ext) == 40
