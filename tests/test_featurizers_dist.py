"""The featurizers of operators/tiler.py, pinned row- and byte-exact.

``lines_to_features_dist`` and ``polygons_to_features_dist`` run inside
mapInPandas on a Spark DataFrame of geometry arrays — no
createDataFrame(rows), no driver materialization.  ``points_to_features``
and ``points_to_features_columnar`` are JVM column expressions over one
projection (functions/geo.py:tile_project_col).

Up to commit dfb2d5a the tiler also carried driver-side ``iterrows`` twins
of both (``lines_to_features``, ``lines3d_to_features``,
``polygons_to_features``, ``polygons3d_to_features``), and these tests
compared the two paths.  The ``PINNED`` sha256s below were computed from
those twins at dfb2d5a, where the dist kernels gave the same values: one
of the sorted :func:`_norm_rows` of each fixture, one of its sorted
:func:`_tile_bytes` after ``encode_tiles``.  The remaining tests check the
degenerate-ring drop, that the plan has no driver-side scan, and that a
zoom list equals the union of single-zoom calls in one scan.

Up to commit 48d5f1d points had two more featurizers,
``points_to_features_pyramid`` (a zoom list) and ``points3d_to_features``
(``z``/``z_scale``), now arguments of ``points_to_features``; the
``points_*`` pins were computed from them and from the columnar path at
48d5f1d."""

import hashlib
import json
import math

import pandas as pd
import pytest

from open_vector_tile_spark.operators.tiler import (
    encode_point_tiles,
    encode_tiles,
    lines_to_features_dist,
    points_to_features,
    points_to_features_columnar,
    polygons_to_features_dist,
)
from open_vector_tile_spark.sources import polygons_pdf

ZOOM = 3

# fixture -> (sha256 of sorted _norm_rows, sha256 of sorted _tile_bytes)
PINNED = {
    "polygons_2d": (
        "e5621bb7b7a441883ac2857a3583201a903ea252765e3f16525aaee48bda59c5",
        "a8d07ccfe6e1c22b1dc0715db3b7ccd8ac9607acf159736e81f5ed100d0042d2",
    ),
    "null_props": (
        "90f45f7ccc10b0d257f8be21b5d34cdd7a26f6934c712505d1ccd98e7649d913",
        "b3f4cfee791c176fb7e17384d313547c8af4217e56c9df9cc72cf44dcb62e73d",
    ),
    "lines_2d": (
        "c4bc256f6035a11ba59eb3935a416e4304831c5cf069b5cd41a58a32088e8adc",
        "43e21befffb24438cf542bc73226e759213ed67e8642b1a46c658402a40a38be",
    ),
    "lines_mvalues": (
        "2fed1a36bdf3a99ea46e94ad0c94d5a9a7b8e4799d1ff6fb2d01238fd12bff6d",
        "5f5bdd0762dd9b5556ac6356531cd427a2d53aa899fb47eada755b25579761cb",
    ),
    "lines_3d": (
        "b63a4af335629dee48492b12a0ca19755463232db8da908ffde2b723e184937d",
        "bd96419e75d7d3a4a4b5ff8d13bb61943d66ecff337ed0b3fb43f41a022bc32d",
    ),
    "polygons_3d": (
        "f20e64038259f8058991b96823a99372730ef5fd3ee600beccbc42ec96c03409",
        "9df7fc7face11b6ee451dda18c9af35d51f64b35f0324a7ab137c911ea3642ab",
    ),
    # points, computed at 48d5f1d: points_to_features_pyramid(zooms=(2, 3, 5)),
    # points3d_to_features, and points_to_features_columnar's rows and
    # encode_point_tiles bytes
    "points_pyramid": (
        "78db46e71d874a018a7fc03015e51316c6cefe48d76812a46346072c9870ee60",
        "26a8ffb05f04373a8004b642652c5328ba10cc17536ac2b3063bac3f96465446",
    ),
    "points_3d": (
        "4e4d918459ed0d8d402ecb9d7e0d0dbed2c1ab2b6fb343ccb58c9fe9d00ff778",
        "2e6e2636b2a15529a3e2a34d54f82500743cea731b0309fe6748eecefeaa1878",
    ),
    "points_columnar": (
        "7ba9c4b163d2ce55ecaff4e254408a9d859a0e1e76ab6ea4072b55d802f4f0bd",
        "7d9a306fbff547921a82ee513e068bf5a24bd9b7b707116053ada32efaa3b863",
    ),
}


def _norm_rows(df):
    """Collected feature rows -> comparable tuples (props parsed, arrays as
    tuples), sorted."""
    out = []
    for r in df.collect():
        d = r.asDict()
        props = json.loads(d.get("props_json") or "{}")
        mv = d.get("mvals_json")
        out.append(
            (
                d["zoom"], d["tile_x"], d["tile_y"], d["layer"], d["extent"],
                d["id"], d["ftype"],
                tuple(d["geom_xy"] or []),
                tuple(d.get("ring_lens") or []),
                tuple(d.get("poly_lens") or []),
                tuple(d.get("offsets") or []),
                tuple(sorted(props.items())),
                json.dumps(json.loads(mv)) if mv else None,
            )
        )
    return sorted(out)


def _tile_bytes(feats):
    return sorted(
        (r["zoom"], r["tile_x"], r["tile_y"], bytes(r["tile"]))
        for r in encode_tiles(feats).collect()
    )


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _assert_pinned(feats, fixture):
    assert (_sha(_norm_rows(feats)), _sha(_tile_bytes(feats))) == PINNED[fixture]


def test_polygons_dist_matches_driver_rows_and_bytes(spark):
    sdf = spark.createDataFrame(polygons_pdf()).repartition(4)
    dist = polygons_to_features_dist(
        sdf, zoom=ZOOM, layer="admin", extent=4096,
        props_cols=["name", "kind", "rank"],
    )
    _assert_pinned(dist, "polygons_2d")


def test_polygons_dist_drops_degenerate_rings(spark):
    sdf = spark.createDataFrame(polygons_pdf())
    dist = polygons_to_features_dist(
        sdf, zoom=ZOOM, layer="admin", props_cols=["name", "kind", "rank"]
    )
    ids = {r["id"] for r in dist.select("id").distinct().collect()}
    assert 48 not in ids and 49 not in ids


def test_lines_dist_matches_driver_rows_and_bytes(spark):
    lines = pd.DataFrame(
        [
            {"line_id": 1, "xy": [0.0, 0.0, 10.0, 10.0, 20.0, 5.0], "offset": 1.5, "road": "a"},
            {"line_id": 2, "xy": [-30.0, -30.0, -10.0, -20.0], "offset": 0.0, "road": "b"},
            # crosses several z2 tiles -> multi-tile assignment exercised
            {"line_id": 3, "xy": [-120.0, 10.0, 60.0, 40.0], "offset": 0.0, "road": "c"},
        ]
    )
    dist = lines_to_features_dist(
        spark.createDataFrame(lines).repartition(3),
        zoom=2, layer="roads", extent=4096, props_cols=["road"],
    )
    _assert_pinned(dist, "lines_2d")


def test_lines_dist_mvalues_parity(spark):
    mv = [{"speed": 30}, {"speed": 50}, {"speed": 70}]
    sdf = spark.createDataFrame(
        pd.DataFrame(
            [{"line_id": 9, "xy": [0.0, 0.0, 5.0, 5.0, 9.0, 2.0], "offset": 0.0,
              "mvals_json": json.dumps(mv)}]
        )
    )
    dist = lines_to_features_dist(
        sdf, zoom=2, layer="m", extent=4096,
        mvals_json_col="mvals_json", props_cols=[],
    )
    _assert_pinned(dist, "lines_mvalues")


def test_lines3d_dist_matches_driver(spark):
    lines = pd.DataFrame(
        [
            {"line_id": 1, "xyz": [0.0, 0.0, 10.0, 10.0, 10.0, 20.0, 20.0, 5.0, 15.0], "kind": "x"},
            {"line_id": 2, "xyz": [-30.0, -30.0, 100.0, -10.0, -20.0, 110.0], "kind": "y"},
        ]
    )
    dist = lines_to_features_dist(
        spark.createDataFrame(lines), zoom=ZOOM, layer="l3", extent=4096,
        xy_col="xyz", props_cols=["kind"], dims=3, z_scale=2.0,
    )
    _assert_pinned(dist, "lines_3d")


def test_polygons3d_dist_matches_driver(spark):
    polys = pd.DataFrame(
        [
            {
                "poly_id": 1,
                "ring_xyz": [
                    [0.0, 0.0, 5.0, 8.0, 0.0, 6.0, 8.0, 8.0, 7.0, 0.0, 8.0, 5.5, 0.0, 0.0, 5.0]
                ],
                "zone": "a",
            },
            {
                "poly_id": 2,
                "ring_xyz": [
                    [20.0, 20.0, 1.0, 30.0, 20.0, 2.0, 30.0, 30.0, 3.0, 20.0, 20.0, 1.0],
                    [24.0, 24.0, 1.5, 26.0, 24.0, 1.5, 26.0, 26.0, 1.5, 24.0, 24.0, 1.5],
                ],
                "zone": "b",
            },
        ]
    )
    dist = polygons_to_features_dist(
        spark.createDataFrame(polys), zoom=ZOOM, layer="p3", extent=4096,
        rings_col="ring_xyz", props_cols=["zone"], dims=3, z_scale=2.0,
    )
    _assert_pinned(dist, "polygons_3d")


def test_dist_path_has_no_driver_scan(spark):
    """The plan must read from the distributed input (Scan over the parquet /
    in-memory relation), not a LocalTableScan of driver-built rows."""
    sdf = spark.range(0, 100, 1, 8).selectExpr(
        "id as poly_id",
        "array(array(double(id % 30), double(id % 20), double(id % 30 + 5), "
        "double(id % 20), double(id % 30 + 5), double(id % 20 + 5), "
        "double(id % 30), double(id % 20))) as ring_xy",
        "concat('p', id) as name",
    )
    dist = polygons_to_features_dist(sdf, zoom=4, layer="x", props_cols=["name"])
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert dist.count() > 0


def test_null_props_parity_driver_vs_dist(spark):
    """A None/NaN property is absent from props_json (to_json omits null
    struct fields, as the driver twins dropped null/NaN keys)."""
    import numpy as np

    polys = polygons_pdf().head(3).copy()
    polys.loc[polys.index[0], "kind"] = None
    polys.loc[polys.index[1], "rank"] = np.nan
    sdf = spark.createDataFrame(polys).repartition(2)
    dist = polygons_to_features_dist(
        sdf, zoom=ZOOM, layer="admin", extent=4096,
        props_cols=["name", "kind", "rank"],
    )
    _assert_pinned(dist, "null_props")
    # and the null key is genuinely absent, not "null"
    some = json.loads(dist.limit(50).collect()[0]["props_json"])
    assert "null" not in json.dumps(some)


def test_lines_pyramid_dist_equals_per_zoom_union(spark):
    """A zoom list == union of single-zoom calls, row for row, with
    clip+simplify active (the per-zoom thinning path)."""
    lines = pd.DataFrame(
        [
            {"line_id": 1, "xy": [-120.0, -40.0, -60.0, -39.9, 0.0, -40.0,
                                  60.0, 0.0, 100.0, 55.0], "road": "a"},
            {"line_id": 2, "xy": [10.0, 10.0, 12.0, 11.0, 14.0, 10.5], "road": "b"},
        ]
    )
    sdf = spark.createDataFrame(lines)
    zooms = [1, 3, 5]
    pyr = lines_to_features_dist(
        sdf, zooms, layer="r", props_cols=["road"], clip_buffer=64, simplify_px=4.0
    )
    per_zoom = None
    for z in zooms:
        part = lines_to_features_dist(
            sdf, zoom=z, layer="r", props_cols=["road"],
            clip_buffer=64, simplify_px=4.0,
        )
        per_zoom = part if per_zoom is None else per_zoom.unionByName(part)
    assert _norm_rows(pyr) == _norm_rows(per_zoom)
    assert _tile_bytes(pyr) == _tile_bytes(per_zoom)


def test_polygons_pyramid_dist_equals_per_zoom_union(spark):
    polys = polygons_pdf()
    sdf = spark.createDataFrame(polys).repartition(3)
    zooms = [2, 4]
    pyr = polygons_to_features_dist(
        sdf, zooms, layer="admin", props_cols=["name", "kind", "rank"],
        clip_buffer=0, simplify_px=2.0,
    )
    per_zoom = None
    for z in zooms:
        part = polygons_to_features_dist(
            sdf, zoom=z, layer="admin", props_cols=["name", "kind", "rank"],
            clip_buffer=0, simplify_px=2.0,
        )
        per_zoom = part if per_zoom is None else per_zoom.unionByName(part)
    assert _norm_rows(pyr) == _norm_rows(per_zoom)
    assert _tile_bytes(pyr) == _tile_bytes(per_zoom)


def test_pyramid_dist_one_scan(spark):
    """A zoom list reads the source once — a single mapInPandas over one
    scan, no per-zoom re-read (vs N scans for the union)."""
    sdf = spark.range(0, 50, 1, 4).selectExpr(
        "id AS line_id",
        "array(double(id % 30), double(id % 20), double(id % 30 + 8), "
        "double(id % 20 + 4)) AS xy",
    )
    pyr = lines_to_features_dist(sdf, [2, 3, 4], layer="x", props_cols=[])
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    zs = {r["zoom"] for r in pyr.select("zoom").distinct().collect()}
    assert zs == {2, 3, 4}


# ---------------------------------------------------------------------------
# points
# ---------------------------------------------------------------------------

MAX_LAT = 85.05112877980659


def _row_lat(y: int, z: int) -> float:
    """Latitude of the north edge of tile row ``y`` at zoom ``z``."""
    return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / (1 << z)))))


# the clamps (lon ±180, lat ±90 and ±MAX_LAT), the origin, and z5 tile edges
EDGES = [
    (-180.0, 0.0), (180.0, 0.0), (0.0, 90.0), (0.0, -90.0),
    (0.0, MAX_LAT), (0.0, -MAX_LAT), (0.0, 0.0),
] + [(-180.0 + 11.25 * k, _row_lat(k, 5)) for k in (1, 7, 16, 25, 31)]


def _points(spark):
    """400 points spread over the world, then ``EDGES``; a z value and
    typed property columns per point."""
    coords = [
        ((i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1600) / 10.0 - 80.0) for i in range(400)
    ] + EDGES
    rows = [
        (i, lon, lat, (i * 13 % 2000) / 10.0 - 100.0, ("en", "de", "fr")[i % 3],
         i % 7, i / 8.0, i % 2 == 0)
        for i, (lon, lat) in enumerate(coords)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, lon double, lat double, z double, lang string, rank int, "
        "score double, flag boolean",
    ).repartition(3)


def test_points_zoom_list_pinned(spark):
    feats = points_to_features(
        _points(spark), (5, 2, 3), layer="docs", id_col="doc_id", props_cols=["lang", "rank"]
    )
    _assert_pinned(feats, "points_pyramid")


def test_points3d_pinned(spark):
    feats = points_to_features(
        _points(spark), 4, layer="p3", id_col="doc_id", props_cols=["lang"],
        z="z", z_scale=2.5,
    )
    _assert_pinned(feats, "points_3d")


def test_points_columnar_pinned(spark):
    feats, meta = points_to_features_columnar(
        _points(spark), zoom=10, layer="pages", id_col="doc_id",
        props_cols=["lang", "rank", "score", "flag"],
    )
    rows = sorted(tuple(r) for r in feats.collect())
    tiles = sorted(
        (r["zoom"], r["tile_x"], r["tile_y"], bytes(r["tile"]))
        for r in encode_point_tiles(feats, meta).collect()
    )
    assert (_sha(rows), _sha(tiles)) == PINNED["points_columnar"]


def _featurize(spark, family, zoom):
    if family == "points":
        return points_to_features(_points(spark), zoom, layer="p", id_col="doc_id")
    if family == "lines":
        sdf = spark.createDataFrame(
            pd.DataFrame([{"line_id": 1, "xy": [-120.0, 10.0, 60.0, 40.0], "road": "c"}])
        )
        return lines_to_features_dist(sdf, zoom, layer="r", props_cols=["road"])
    sdf = spark.createDataFrame(polygons_pdf())
    return polygons_to_features_dist(sdf, zoom, layer="a", props_cols=["name"])


@pytest.mark.parametrize("family", ["points", "lines", "polygons"])
def test_zoom_list_is_sorted_and_deduped(spark, family):
    """All three featurizers read a zoom list one way: a repeated zoom
    emits each feature once per tile, and an empty list raises."""
    assert _norm_rows(_featurize(spark, family, [3, 3])) == _norm_rows(
        _featurize(spark, family, 3)
    )
    with pytest.raises(ValueError):
        _featurize(spark, family, [])


def _null_points(spark):
    return spark.createDataFrame(
        [(1, 10.0, 20.0, "a"), (2, None, 20.0, "b"), (3, 10.0, None, "c"), (4, None, None, "d")],
        "doc_id long, lon double, lat double, lang string",
    )


@pytest.mark.parametrize("zoom,levels", [(4, 1), ((2, 4), 2)])
def test_points_with_null_coordinate_dropped(spark, zoom, levels):
    """A null lon or lat has no tile: the point is dropped, not encoded at
    a clamped tile edge."""
    feats = points_to_features(_null_points(spark), zoom, layer="p", id_col="doc_id")
    assert [r["id"] for r in feats.collect()] == [1] * levels
    assert sum(r["n_features"] for r in encode_tiles(feats).collect()) == levels


def test_columnar_points_with_null_coordinate_dropped(spark):
    feats, meta = points_to_features_columnar(
        _null_points(spark), zoom=4, layer="p", id_col="doc_id", props_cols=["lang"]
    )
    assert [r["id"] for r in feats.collect()] == [1]
    tiles = encode_point_tiles(feats, meta).collect()
    assert [r["n_features"] for r in tiles] == [1]
