"""Multi-layer tiles: polygons/lines through the Spark tiler, MVT sink
flavor, and streaming incremental ingest."""

import numpy as np
import pytest

from open_vector_tile_spark.codec import VectorTile
from open_vector_tile_spark.codec.mvt import MvtLayer
from open_vector_tile_spark.functions import geo
from open_vector_tile_spark.functions.text import geoparse
from open_vector_tile_spark.operators import (
    encode_tiles,
    lines_to_features_dist,
    points_to_features,
    polygons_to_features_dist,
)
from open_vector_tile_spark.sources import pages_pdf, polygons_pdf

ZOOM = 3
POLY_PROPS = ["name", "kind", "rank"]


def _admin_features(spark, polys, **kw):
    """The polygon fixture's admin layer through the polygon featurizer."""
    return polygons_to_features_dist(
        spark.createDataFrame(polys), zoom=ZOOM, layer="admin", props_cols=POLY_PROPS, **kw
    )


def test_polygon_layer_roundtrip_with_hole(spark):
    polys = polygons_pdf()
    feats = _admin_features(spark, polys, extent=4096)
    tiles = encode_tiles(feats).toPandas()
    assert len(tiles) > 0
    # pick the polygon with a hole (poly_id 3) and verify ring structure
    target = polys[polys.poly_id == 3].iloc[0]
    rings = [np.asarray(r).reshape(-1, 2) for r in target["ring_xy"]]
    n = 1 << ZOOM
    found = False
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        layer = parsed.layers["admin"]
        for i in range(len(layer)):
            f = layer.feature(i)
            if f.id != 3:
                continue
            found = True
            assert f.ftype == 3
            got_rings = [ln.points for poly in f.geometry for ln in poly]
            assert len(got_rings) == 2  # outer + hole
            # exact quantization parity for the outer ring in this tile
            qx = np.floor((geo.merc_x_np(rings[0][:, 0]) * n - t["tile_x"]) * 4096 + 0.5)
            qy = np.floor((geo.merc_y_np(rings[0][:, 1]) * n - t["tile_y"]) * 4096 + 0.5)
            want = list(zip(qx.astype(int).tolist(), qy.astype(int).tolist()))
            assert got_rings[0] == want
    assert found


def test_degenerate_rings_dropped(spark):
    polys = polygons_pdf()
    feats = _admin_features(spark, polys)
    ids = {r["id"] for r in feats.select("id").distinct().collect()}
    assert 48 not in ids and 49 not in ids  # zero-area rings (classifyRings)


def test_lines_layer_roundtrip_with_offsets(spark):
    import pandas as pd

    lines = pd.DataFrame(
        [
            {"line_id": 1, "xy": [0.0, 0.0, 10.0, 10.0, 20.0, 5.0], "offset": 1.5, "road": "a"},
            {"line_id": 2, "xy": [-30.0, -30.0, -10.0, -20.0], "offset": 0.0, "road": "b"},
        ]
    )
    feats = lines_to_features_dist(
        spark.createDataFrame(lines), zoom=2, layer="roads", extent=4096
    )
    tiles = encode_tiles(feats).toPandas()
    seen = {}
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        layer = parsed.layers["roads"]
        for i in range(len(layer)):
            f = layer.feature(i)
            seen[f.id] = f
    assert seen[1].ftype == 2
    assert seen[1].geometry[0].offset == 1.5
    assert seen[2].geometry[0].offset == 0.0
    assert seen[1].properties == {"road": "a"}


def test_multi_layer_tile(spark):
    pages = spark.createDataFrame(pages_pdf(300))
    pts = points_to_features(
        geoparse(pages), zoom=ZOOM, layer="pages", extent=4096, props_cols=["url"]
    )
    polys = _admin_features(spark, polygons_pdf(), extent=4096)
    both = pts.unionByName(polys, allowMissingColumns=True)
    tiles = encode_tiles(both).toPandas()
    multi = 0
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        if {"pages", "admin"} <= set(parsed.layers):
            multi += 1
            # layers share one column cache; both decodable
            assert parsed.layers["pages"].feature(0).ftype == 1
            assert parsed.layers["admin"].feature(0).ftype == 3
    assert multi > 0


def test_mvt_sink_flavor(spark):
    pages = spark.createDataFrame(pages_pdf(200))
    feats = points_to_features(
        geoparse(pages), zoom=ZOOM, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    tiles = encode_tiles(feats, tile_format="mvt", mapbox_support=True).toPandas()
    total = 0
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        layer = parsed.layers["pages"]
        assert isinstance(layer, MvtLayer)
        for i in range(len(layer)):
            f = layer.feature(i)
            assert f.ftype == 1
            assert "url" in f.properties
            total += 1
    assert total == 200


@pytest.mark.slow
def test_streaming_available_now(spark, tmp_path):
    from open_vector_tile_spark.operators.resume import TileStore
    from open_vector_tile_spark.streaming import stream_pages_to_tiles

    src = str(tmp_path / "pages_src")
    spark.createDataFrame(pages_pdf(150)).write.mode("overwrite").parquet(src)
    store_root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream_pages_to_tiles(spark, src, store_root, ckpt, zoom=ZOOM)
    store = TileStore(store_root)
    tiles = store.read_tiles(spark)
    assert tiles.agg({"n_features": "sum"}).collect()[0][0] == 150
    # second AvailableNow run: no new files -> no new snapshots
    n_snaps = len(store.snapshots())
    stream_pages_to_tiles(spark, src, store_root, str(tmp_path / "ckpt"), zoom=ZOOM)
    assert len(store.snapshots()) == n_snaps
    # new files arrive -> only the delta is encoded
    spark.createDataFrame(pages_pdf(50, start=150)).write.mode("append").parquet(src)
    stream_pages_to_tiles(spark, src, store_root, str(tmp_path / "ckpt"), zoom=ZOOM)
    assert store.read_tiles(spark).agg({"n_features": "sum"}).collect()[0][0] >= 200


def test_mvalues_through_spark_tiler(spark):
    """FIXTURES.md §6: a line feature whose per-vertex M-values carry mShape
    {size: i64} must round-trip through the full Spark encode path."""
    import json

    import pandas as pd

    lines = pd.DataFrame(
        [
            {
                "line_id": 9,
                "xy": [1.0, 1.0, 2.0, 2.0, 3.0, 1.5],
                "offset": 0.0,
                "mvals_json": json.dumps([{"size": 1}, {"size": -7}, {"size": 42}]),
                "road": "m",
            }
        ]
    )
    from open_vector_tile_spark.operators import LayerSpec

    feats = lines_to_features_dist(
        spark.createDataFrame(lines), zoom=2, layer="m", extent=4096,
        mvals_json_col="mvals_json",
    )
    # mShape pinned like the reference test does (mirrors
    # tests/open_vector_tile/vectorFeature.test.ts:53-64): inference is
    # last-write-wins (shape.ts:320-322), so mixed-sign ints would infer u64
    specs = {"m": LayerSpec(extent=4096, mshape={"size": "i64"})}
    tiles = encode_tiles(feats, specs=specs).toPandas()
    f = None
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        layer = parsed.layers["m"]
        f = layer.feature(0)
    assert f is not None
    assert f.geometry[0].mvalues == [{"size": 1}, {"size": -7}, {"size": 42}]


def test_image_tiles_operator(spark):
    from open_vector_tile_spark.operators import images_to_tiles

    img = bytes(range(64)) * 4
    rows = [(4, 1, 2, "satellite", "raw", 16, 16, img), (4, 1, 2, "hillshade", "raw", 16, 16, img[::-1])]
    df = spark.createDataFrame(
        rows, "zoom int, tile_x long, tile_y long, name string, type string, width int, height int, image binary"
    )
    tiles = images_to_tiles(df).toPandas()
    assert len(tiles) == 1
    parsed = VectorTile(bytes(tiles["tile"].iloc[0]))
    assert set(parsed.images) == {"satellite", "hillshade"}
    assert parsed.images["satellite"].image() == img
    assert parsed.images["hillshade"].image() == img[::-1]


def test_spatial_join_salting_equivalence(spark):
    """J4: salted join returns the identical row set."""
    from open_vector_tile_spark.operators import spatial_join

    pages = spark.createDataFrame(pages_pdf(400))
    pts = geoparse(pages)
    polys = polygons_pdf()
    plain = spatial_join(pts, polys, zoom=4).select("url", "poly_id").toPandas()
    salted = spatial_join(pts, polys, zoom=4, salt=8).select("url", "poly_id").toPandas()
    assert set(map(tuple, plain.itertuples(index=False))) == set(
        map(tuple, salted.itertuples(index=False))
    )


def test_points3d_through_spark_tiler(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 20.0, 150.7), (2, 10.1, 20.1, -3.2)],
        "pid long, lon double, lat double, z double",
    )
    feats = points_to_features(df, zoom=4, layer="p3", extent=4096, z="z", id_col="pid")
    tiles = encode_tiles(feats).toPandas()
    seen = {}
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        layer = parsed.layers["p3"]
        for i in range(len(layer)):
            f = layer.feature(i)
            seen[f.id] = f
    assert seen[1].ftype == 4
    assert seen[1].geometry[0][2] == 151  # z half-up rounded
    assert seen[2].geometry[0][2] == -3


def test_exact_covering_subset_of_bbox_and_join_unchanged(spark):
    """Slab covering must be a subset of the bbox covering, never lose a
    tile that contains polygon area, and leave join results identical to a
    brute-force point-in-polygon test of every (point, polygon) pair."""
    from open_vector_tile_spark.functions.geo import (
        cover_bbox_np,
        cover_polygon_np,
        points_in_polygon_np,
    )
    from open_vector_tile_spark.operators import spatial_join

    polys = polygons_pdf()
    total_exact = total_bbox = 0
    for _, row in polys.iterrows():
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in row["ring_xy"]]
        outer = rings[0]
        ex, ey = cover_polygon_np(rings, 6)
        bx, by = cover_bbox_np(
            outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max(), 6
        )
        exact_set = set(zip(ex.tolist(), ey.tolist()))
        bbox_set = set(zip(bx.tolist(), by.tolist()))
        assert exact_set <= bbox_set
        total_exact += len(exact_set)
        total_bbox += len(bbox_set)
    assert total_exact < total_bbox  # genuinely tighter overall
    # join parity vs the brute-force-checked default path
    pages = spark.createDataFrame(pages_pdf(400))
    pts = geoparse(pages).cache()
    a = spatial_join(pts, polys, zoom=4).select("url", "poly_id").toPandas()
    p = pts.select("url", "lon", "lat").toPandas()
    brute = {
        (url, pid)
        for pid, rings in zip(polys["poly_id"], polys["ring_xy"])
        for url, hit in zip(
            p["url"],
            points_in_polygon_np(
                p["lon"], p["lat"], [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings]
            ),
        )
        if hit
    }
    assert brute and set(map(tuple, a.itertuples(index=False))) == brute
    from open_vector_tile_spark.operators.spatial_join import polygon_covering

    cov_bbox = polygon_covering(spark, polys, zoom=4, exact=False)
    cov_exact = polygon_covering(spark, polys, zoom=4, exact=True)
    assert cov_exact.count() <= cov_bbox.count()


def test_decode_tiles_roundtrip_and_layer_pruning(spark):
    from open_vector_tile_spark.operators import decode_tiles

    pages = spark.createDataFrame(pages_pdf(200))
    pts = points_to_features(
        geoparse(pages), zoom=ZOOM, layer="pages", extent=4096, props_cols=["url"]
    )
    polys = _admin_features(spark, polygons_pdf(), extent=4096)
    tiles = encode_tiles(pts.unionByName(polys, allowMissingColumns=True)).cache()
    decoded = decode_tiles(tiles).toPandas()
    assert set(decoded["layer"]) == {"pages", "admin"}
    assert (decoded[decoded.layer == "pages"]["ftype"] == 1).all()
    assert len(decoded[decoded.layer == "pages"]) == 200
    # full encode->decode round trip preserves the url property
    urls = {__import__("json").loads(p)["url"] for p in decoded[decoded.layer == "pages"]["props_json"]}
    assert len(urls) == 200
    # layer pruning
    only_pages = decode_tiles(tiles, layers=["pages"]).toPandas()
    assert set(only_pages["layer"]) == {"pages"}
    assert len(only_pages) == 200


def test_lines3d_and_polygons3d_roundtrip(spark):
    """3D lines (type 5) and 3D polygons (type 6) through the Spark tiler:
    z quantizes with the same JS half-up rule, offsets and M-values survive,
    and decode_tiles returns the exact 3D vertex stream (reference 3D
    read/write src/open/vectorFeature.ts:376-587)."""
    import json

    import pandas as pd

    from open_vector_tile_spark.operators import decode_tiles

    lines_pdf = pd.DataFrame(
        {
            "line_id": [1, 2],
            "xyz": [
                [10.0, 10.0, 100.2, 10.2, 10.1, 150.7, 10.4, 10.3, 90.0],
                [-20.0, 5.0, 0.0, -20.3, 5.2, 12.5],
            ],
            "offset": [1.25, 0.0],
            "mvals_json": [json.dumps([{"speed": 3}, {"speed": 4}, {"speed": 5}]), None],
            "kind": ["trail", "road"],
        }
    )
    f5 = lines_to_features_dist(
        spark.createDataFrame(lines_pdf), zoom=ZOOM, layer="l3", extent=4096,
        xy_col="xyz", mvals_json_col="mvals_json", dims=3,
    )
    polys_pdf = pd.DataFrame(
        {
            "poly_id": [7],
            "ring_xyz": [
                [
                    [30.0, 30.0, 5.0, 30.5, 30.0, 6.0, 30.5, 30.5, 7.0, 30.0, 30.5, 8.0],
                    [30.1, 30.1, 5.5, 30.2, 30.1, 5.5, 30.2, 30.2, 5.5],
                ]
            ],
            "mvals_json": [json.dumps([{"h": i} for i in range(7)])],
            "kind": ["roof"],
        }
    )
    f6 = polygons_to_features_dist(
        spark.createDataFrame(polys_pdf), zoom=ZOOM, layer="p3", extent=4096,
        rings_col="ring_xyz", mvals_json_col="mvals_json", dims=3,
    )
    tiles = encode_tiles(f5.unionByName(f6, allowMissingColumns=True)).cache()
    d = decode_tiles(tiles).toPandas()
    l1 = d[(d.layer == "l3") & (d.id == 1)].iloc[0]
    assert l1["ftype"] == 5
    assert len(l1["geom_xy"]) == 9  # 3 verts x 3 dims
    # z quantization: floor(z + 0.5)
    assert list(l1["geom_xy"])[2::3] == [100, 151, 90]
    assert list(l1["offsets"]) == [1.25]
    mv = __import__("json").loads(l1["mvals_json"])
    assert [m["speed"] for m in mv] == [3, 4, 5]
    p = d[d.layer == "p3"].iloc[0]
    assert p["ftype"] == 6
    assert list(p["ring_lens"]) == [4, 3] and list(p["poly_lens"]) == [2]
    assert len(p["geom_xy"]) == 21
    assert list(p["geom_xy"])[2::3] == [5, 6, 7, 8, 6, 6, 6]
    pmv = __import__("json").loads(p["mvals_json"])
    assert [m["h"] for m in pmv] == list(range(7))
    # byte-stable re-encode (full fidelity both ways)
    t2 = encode_tiles(
        decode_tiles(tiles).drop("source", "feature_index", "n_vertices")
    ).toPandas()
    t1 = tiles.toPandas()
    m1 = {(r.tile_x, r.tile_y): bytes(r.tile) for r in t1.itertuples()}
    m2 = {(r.tile_x, r.tile_y): bytes(r.tile) for r in t2.itertuples()}
    assert m1 == m2


def test_pyramid_matches_per_level_featurization(spark):
    """points_to_features over a zoom list == points_to_features per zoom,
    and the whole pyramid encodes in one pass with byte-identical tiles."""
    from pyspark.sql import functions as F

    pts = spark.range(400).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
    )
    zooms = (2, 3, 5)
    pyr = points_to_features(pts, zooms, layer="docs", extent=4096, id_col="doc_id")
    for z in zooms:
        want = sorted(
            map(
                tuple,
                points_to_features(pts, zoom=z, layer="docs", extent=4096, id_col="doc_id")
                .select("tile_x", "tile_y", "geom_xy", "id")
                .collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                pyr.filter(F.col("zoom") == z)
                .select("tile_x", "tile_y", "geom_xy", "id")
                .collect(),
            )
        )
        assert got == want

    pyr_rows = encode_tiles(pyr).collect()
    tiles_pyr = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in pyr_rows}
    assert len(tiles_pyr) == len(pyr_rows)  # no duplicate keys across zooms
    level_keys = set()
    for z in zooms:
        per_level = encode_tiles(
            points_to_features(pts, zoom=z, layer="docs", extent=4096, id_col="doc_id")
        )
        for r in per_level.collect():
            level_keys.add((z, r["tile_x"], r["tile_y"]))
            assert tiles_pyr[(z, r["tile_x"], r["tile_y"])] == bytes(r["tile"])
    assert set(tiles_pyr) == level_keys
