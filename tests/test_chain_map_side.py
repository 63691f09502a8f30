"""The flagship chain's fused map pass (``operators.pipeline._map_side``):
one ``mapInArrow`` pass per page batch gives the rows of the unfused
composition ``geoparse -> spatial_join(zoom=6) -> nearest_poi_col``, on
the generated pages plus edge pages (no mention, z6 tile edges, a hole,
overlapping polygons, the tile-straddling polygon 7, a degenerate ring),
with tiny Arrow batches, empty partitions and an empty POI table; and each
``upto`` cut-off keeps today's rows.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.functions.geo import points_in_polygon_np, points_in_ring_np
from open_vector_tile_spark.functions.text import geoparse
from open_vector_tile_spark.operators.knn import nearest_poi_col
from open_vector_tile_spark.operators.pipeline import _map_side
from open_vector_tile_spark.operators.spatial_join import spatial_join
from open_vector_tile_spark.sources import pages_spark, pois_pdf, polygons_pdf

ZOOM = 6
COLS = ["url", "lang", "lon", "lat", "poly_id", "near_poi"]


def _square(pid, x0, y0, x1, y1):
    return {"poly_id": pid, "ring_xy": [[x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]]}


def _polys() -> pd.DataFrame:
    """The fixture polygons plus squares around the tile-edge points: two
    overlapping ones over (0, 0), one across each antimeridian side, one
    near each mercator pole clamp, and a tall one over every z6 row edge."""
    extra = pd.DataFrame(
        [
            _square(100, -3.0, -3.0, 3.0, 3.0),
            _square(101, -1.0, -1.0, 4.0, 4.0),
            _square(102, 175.0, 0.0, 185.0, 20.0),
            _square(103, -185.0, 0.0, -175.0, 20.0),
            _square(104, 0.0, 80.0, 20.0, 89.9),
            _square(105, 0.0, -89.9, 20.0, -80.0),
            _square(106, 30.0, -84.0, 40.0, 84.0),
        ]
    )
    return pd.concat([polygons_pdf(), extra], ignore_index=True)


def _rings(pid):
    row = polygons_pdf().set_index("poly_id").loc[pid]
    return [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in row["ring_xy"]]


def _inner_point(ring):
    """The vertex mean of a ring (closing vertex dropped)."""
    return ring[:-1].mean(axis=0)


def _edge_points() -> dict:
    """url -> (lat, lon) of the named edge points."""
    pts = {
        "origin": (0.0, 0.0),
        "overlap": (1.0, 1.0),
        "east_edge": (10.0, 180.0),
        "west_edge": (10.0, -180.0),
        "north_clamp": (85.0511, 10.0),
        "south_clamp": (-85.0511, 10.0),
        "col_edge": (10.0, 33.75),  # z6 column 38's west edge
    }
    hole = _rings(3)[1]
    hx, hy = _inner_point(hole)
    pts["in_hole"] = (float(hy), float(hx))
    p7 = _rings(7)[0]
    x7, y7 = _inner_point(p7)
    pts["in_poly7"] = (float(y7), float(x7))
    x48, y48 = _rings(48)[0][0]
    pts["degenerate"] = (float(y48), float(x48))
    for y in range(1, 64):  # every z6 row edge inside square 106, +-1 ULP
        lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / 64))))
        if abs(lat) < 84.0:
            # (the neighbours of lat 0 print in exponent form: no mention)
            for d in (0,) if lat == 0.0 else (-1, 0, 1):
                pts[f"row_edge_{y}_{d}"] = (float(np.nextafter(lat, d * 90.0)) if d else lat, 35.0)
    return {f"https://edge.test/{k}": v for k, v in pts.items()}


def _edge_pages(spark, schema):
    rows = [
        (url, f"Edge {i}: events at ({lat!r}, {lon!r}) drew attention.")
        for i, (url, (lat, lon)) in enumerate(_edge_points().items())
    ]
    rows += [("https://edge.test/no_mention", "No coordinates here."), ("https://edge.test/null_text", None)]
    pdf = pd.DataFrame(
        {
            "url": [u for u, _ in rows],
            "warc_ts": pd.Timestamp("2025-01-01"),
            "html": [b"<html/>"] * len(rows),
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
        }
    )
    return spark.createDataFrame(pdf, schema=schema)


@pytest.fixture(scope="module")
def pages(spark):
    gen = pages_spark(spark, 2000, partitions=4)
    return gen.unionByName(_edge_pages(spark, gen.schema)).localCheckpoint()


def _unfused(pages, polys, pois):
    joined = spatial_join(geoparse(pages), polys, zoom=ZOOM)
    return joined.withColumn("near_poi", nearest_poi_col(pois)(F.col("lon"), F.col("lat")))


def _rows(df, cols=COLS):
    return sorted(map(tuple, df.select(*cols).collect()), key=repr)


def test_fused_rows_equal_unfused(pages):
    polys, pois = _polys(), pois_pdf(200)
    got = _rows(_map_side(pages, polys, pois, ZOOM))
    assert got == _rows(_unfused(pages, polys, pois))
    by_url = {}
    for url, _, _, _, pid, near in got:
        by_url.setdefault(url, set()).add(pid)
        assert near is not None
    edge = lambda name: by_url.get(f"https://edge.test/{name}", set())  # noqa: E731
    assert edge("origin") == {100, 101} and edge("overlap") == {100, 101}
    assert edge("east_edge") == {102} and edge("west_edge") == {103}
    assert edge("north_clamp") == {104} and edge("south_clamp") == {105}
    assert edge("col_edge") == {106}
    rows = [k for k in _edge_points() if "row_edge" in k]
    assert len(rows) > 50 and all(106 in by_url[u] for u in rows)
    assert 7 in edge("in_poly7")
    assert edge("in_hole") == set() and edge("degenerate") == set()
    assert edge("no_mention") == set() and edge("null_text") == set()


def test_matches_keep_page_order(spark):
    """Within a task the pass emits matches in page order (a page's
    polygons in covering order): the chain has no id sort key, so its
    within-tile feature order, and so its tile bytes, follow this order."""
    one = pages_spark(spark, 3000, partitions=1)
    got = [
        (int(r.url.rsplit("/", 1)[1]), r.poly_id)
        for r in _map_side(one, _polys(), None, ZOOM, upto="sjoin").collect()
    ]
    assert len(got) > 100 and got == sorted(got)


def test_numpy_cells_differ_from_jvm_cells_at_row_edges(spark):
    """The fused pass's numpy mercator rounds some points within an ULP of
    a z6 row edge into the neighbouring cell of the JVM's ``cell_col``; the
    row-edge pages above still match as in the unfused join, because the
    exact covering holds every cell a polygon touches."""
    from open_vector_tile_spark.functions.geo import cell_col, cell_id_np

    pts = [v for k, v in _edge_points().items() if "row_edge" in k]
    lat, lon = np.array(pts).T
    jvm = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat})).select(
        cell_col(F.col("lon"), F.col("lat"), ZOOM).alias("c")
    )
    assert (np.array([r.c for r in jvm.collect()]) != cell_id_np(lon, lat, ZOOM)).any()


def test_edge_fixture_points_are_where_named():
    """The hole point is inside polygon 3's outer ring and its hole; the
    polygon-7 point is inside polygon 7, which straddles lon 0."""
    pts = _edge_points()
    lat, lon = pts["https://edge.test/in_hole"]
    outer, hole = _rings(3)
    assert points_in_ring_np(np.array([lon]), np.array([lat]), outer)[0]
    assert points_in_ring_np(np.array([lon]), np.array([lat]), hole)[0]
    lat, lon = pts["https://edge.test/in_poly7"]
    assert points_in_polygon_np(np.array([lon]), np.array([lat]), _rings(7))[0]
    xs = _rings(7)[0][:, 0]
    assert xs.min() < 0.0 < xs.max()


def test_tiny_batches_and_empty_partitions(spark, pages):
    """Three-row Arrow batches, and a frame where most partitions are
    empty, give the same rows."""
    polys, pois = _polys(), pois_pdf(200)
    edges = _edge_pages(spark, pages.schema)
    named = edges.filter(~F.col("url").contains("row_edge"))
    sparse = named.repartition(2 * named.count())
    assert 0 in sparse.rdd.glom().map(len).collect()
    small = pages_spark(spark, 300, partitions=2).unionByName(edges)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for frame in (small, sparse):
            assert _rows(_map_side(frame, polys, pois, ZOOM)) == _rows(_unfused(frame, polys, pois))
    finally:
        spark.conf.set(key, old)


def test_empty_poi_table_gives_null_near_poi(pages):
    polys, pois = _polys(), pois_pdf(0)
    got = _rows(_map_side(pages, polys, pois, ZOOM))
    assert got and all(r[-1] is None for r in got)
    assert got == _rows(_unfused(pages, polys, pois))


def test_cutoffs_keep_todays_rows(pages):
    """Each ``upto`` frame has the columns its stage adds and the rows of
    the unfused prefix: every parsed page, then the matches, then the
    matches with ``near_poi``."""
    polys, pois = _polys(), pois_pdf(200)
    today = {
        "geoparse": geoparse(pages),
        "sjoin": spatial_join(geoparse(pages), polys, zoom=ZOOM),
        "nn_join": _unfused(pages, polys, pois),
    }
    for n, upto in enumerate(("geoparse", "sjoin", "nn_join")):
        fused = _map_side(pages, polys, pois, ZOOM, upto=upto)
        cols = COLS[: 4 + n]
        assert fused.columns == cols and set(cols) <= set(today[upto].columns)
        assert fused.count() == today[upto].count()
        assert _rows(fused, cols) == _rows(today[upto], cols)


def test_spatial_join_makes_no_broadcast(spark, pages, monkeypatch):
    """The refine's rings ride its closure: no broadcast variable is made
    (and so none outlives the call), and the rows are unchanged."""
    from pyspark import SparkContext

    polys = _polys()
    want = _rows(_map_side(pages, polys, None, ZOOM, upto="sjoin"), COLS[:5])
    calls = []
    real = SparkContext.broadcast
    monkeypatch.setattr(
        SparkContext, "broadcast", lambda self, value: calls.append(1) or real(self, value)
    )
    joined = spatial_join(geoparse(pages), polys, zoom=ZOOM)
    assert joined.count() == len(want)
    assert calls == []
    assert _rows(joined, COLS[:5]) == want
