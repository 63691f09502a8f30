"""The JVM column kernels of functions/geo.py, checked against their numpy
twins, and the driver queries that call them, pinned row-exact.

* Parity: ``quantize_lon_col``/``quantize_lat_col`` (F8),
  ``encode_offset_col`` (F11), ``remap_value_col`` (F13),
  ``transform_point_col`` (P13) and ``haversine_col`` give the same bits
  as ``codec/kernels.py`` and ``haversine_np`` on edge inputs: ±180, ±90,
  ±MAX_LAT, exact .5 rounding points, negative offsets and antipodal
  pairs.  On general inputs the haversine pair agrees to 1e-14 relative.
* Nulls: ``merc_y_col`` maps a null latitude to null, so ``hex_cell_cols``
  and ``tile_project_col`` give a null cell and tile.
* Pins: the driver queries that call these kernels once re-spelled the
  formulas inline.  ``PINNED`` holds the sha256 of the sorted ``repr`` of
  each query's collected rows at sf0.01, computed from those inline
  copies at commit 8634ebb; the kernels must give the same rows.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.codec import kernels as K
from open_vector_tile_spark.functions.geo import (
    EARTH_RADIUS_M,
    MAX_LAT,
    encode_offset_col,
    haversine_col,
    haversine_np,
    merc_x_col,
    merc_y_col,
    quantize_lat_col,
    quantize_lon_col,
    remap_value_col,
    tile_project_col,
    tile_xy_np,
    transform_point_col,
)
from open_vector_tile_spark.functions.hex import hex_cell_cols
from test_plan_shape import SF  # the sf0.01 dataset (TESTDATA.md)

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entry  # noqa: E402

Q = 16_777_215.0


def _half_points(scale: float, offset: float, ks) -> list:
    """Inputs x with (x + offset) * Q / scale exactly k + 0.5 (the JS
    half-up rounding point); candidates that do not land exactly are
    dropped."""
    out = []
    for k in ks:
        x = (k + 0.5) * scale / Q - offset
        if (x + offset) * Q / scale == k + 0.5:
            out.append(x)
    return out


LONS = [-180.0, 180.0, 0.0, -0.0, 179.9, -179.9, 12.345678, -97.5]
LATS = [-90.0, 90.0, MAX_LAT, -MAX_LAT, 0.0, -0.0, 45.0, -33.3]


def _collect_col(spark, values: list, expr) -> list:
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(values)], "i int, v double")
    return [r[0] for r in df.orderBy("i").select(expr(F.col("v"))).collect()]


def test_quantize_cols_match_kernels(spark):
    lons = LONS + _half_points(360.0, 180.0, range(0, 16_777_215, 999_983))
    lats = LATS + _half_points(180.0, 90.0, range(0, 16_777_215, 999_983))
    assert len(lons) > len(LONS) and len(lats) > len(LATS)  # .5 points exist
    assert _collect_col(spark, lons, quantize_lon_col) == K.quantize_lon(lons).tolist()
    assert _collect_col(spark, lats, quantize_lat_col) == K.quantize_lat(lats).tolist()


def test_encode_offset_col_matches_kernel(spark):
    offs = [0.0, -0.0, 1.2345, -1.2345, -0.0005, 0.0005, -1e-9, 2.5, -2.5, 123.456]
    assert _collect_col(spark, offs, encode_offset_col) == K.encode_offset(offs).tolist()


@pytest.mark.parametrize("vmin, vmax, extent", [(0.0, 8192.0, 8192), (-500.0, 1000.0, 8192)])
def test_remap_value_col_matches_kernel(spark, vmin, vmax, extent):
    # k + 0.5 in remapped units, plus both ends and an out-of-range value
    vals = [vmin + (k + 0.5) * (vmax - vmin) / extent for k in (0, 1, 7, 4095, 8190)]
    vals += [vmin, vmax, vmin - 1.0, 0.0]
    got = _collect_col(
        spark, vals, lambda c: remap_value_col(c, F.lit(vmin), F.lit(vmax), extent)
    )
    assert got == K.remap_value(vals, vmin, vmax, extent).tolist()


def test_transform_point_col_matches_kernel(spark):
    ps = [k / 8192.0 for k in (-3, -1, 0, 1, 3, 8191, 8192, 8193)] + [-0.0, 0.25, 1.0 / 3.0]
    assert _collect_col(spark, ps, lambda c: transform_point_col(c, 4096)) == (
        K.transform_point(ps, 4096).tolist()
    )


def test_haversine_col_matches_numpy(spark):
    pairs = [
        (0.0, 0.0, 180.0, 0.0),  # antipodal on the equator
        (-180.0, 0.0, 0.0, 0.0),
        (0.0, 90.0, 0.0, -90.0),  # pole to pole
        (10.0, MAX_LAT, -170.0, -MAX_LAT),  # antipodal at the clamp
        (12.3, 45.6, -167.7, -45.6),
        # near-antipodal pairs whose h the JVM rounds to 1 + 2**-51, so
        # sqrt(h) > 1: the cap at 1 keeps asin real
        (-104.52741590932375, 65.71885577781597, 75.47258416403331, -65.71885568632295),
        (159.57660551041062, -59.18664609328471, 339.57660554485125, 59.1866461712255),
        (0.0, 0.0, 0.0, 0.0),  # coincident
        (179.9, 10.0, -179.9, 10.0),  # across the antimeridian
        (-73.9857, 40.7484, 2.2945, 48.8584),
    ]
    df = spark.createDataFrame(
        [(i, *p) for i, p in enumerate(pairs)],
        "i int, lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = [
        r[0]
        for r in df.orderBy("i")
        .select(haversine_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")))
        .collect()
    ]
    want = haversine_np(*np.array(pairs).T).tolist()
    assert got == want
    assert got[0] == pytest.approx(math.pi * EARTH_RADIUS_M)


def test_haversine_col_near_numpy_on_random_pairs(spark):
    """Off the edge inputs the two chains differ by a few ulps: the column
    takes radians of each difference, numpy differences the radians."""
    rng = np.random.default_rng(7)
    pts = np.column_stack(
        [rng.uniform(-180, 180, 500), rng.uniform(-85, 85, 500),
         rng.uniform(-180, 180, 500), rng.uniform(-85, 85, 500)]
    )
    df = spark.createDataFrame(
        [(i, *map(float, p)) for i, p in enumerate(pts)],
        "i int, lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = np.array(
        [
            r[0]
            for r in df.orderBy("i")
            .select(haversine_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")))
            .collect()
        ]
    )
    np.testing.assert_allclose(got, haversine_np(*pts.T), rtol=1e-14, atol=0)


def test_haversine_col_passes_null_and_nan_through(spark):
    """A null coordinate gives a null distance and a NaN one a NaN distance,
    as in haversine_np, not the antipodal cap."""
    rows = [
        (0, None, 10.0, 20.0, 30.0),
        (1, 10.0, 20.0, 30.0, None),
        (2, 10.0, float("nan"), 30.0, 40.0),
        (3, float("nan"), 20.0, 30.0, 40.0),
        (4, 10.0, 20.0, 30.0, 40.0),
    ]
    df = spark.createDataFrame(rows, "i int, lon1 double, lat1 double, lon2 double, lat2 double")
    got = [
        r[0]
        for r in df.orderBy("i")
        .select(haversine_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")))
        .collect()
    ]
    assert got[:2] == [None, None]
    assert math.isnan(got[2]) and math.isnan(got[3])
    assert np.isnan(haversine_np(10.0, float("nan"), 30.0, 40.0))
    assert got[4] == haversine_np(10.0, 20.0, 30.0, 40.0)


@pytest.mark.parametrize("zoom", [0, 3, 12])
def test_numpy_tile_clamp_matches_tile_project_col(spark, zoom):
    """tile_xy_np (the numpy clamp ``tile_floor_np``) and tile_project_col
    put the world's edges on the same tiles."""
    pts = [(lon, lat) for lon in LONS for lat in LATS] + [(-180.1, 0.0), (180.1, 0.0)]
    df = spark.createDataFrame(
        [(i, *p) for i, p in enumerate(pts)], "i int, lon double, lat double"
    )
    tx, ty, _, _ = tile_project_col(F.col("lon"), F.col("lat"), zoom)
    got = [tuple(r) for r in df.orderBy("i").select(tx, ty).collect()]
    want_x, want_y = tile_xy_np(*np.array(pts).T, zoom)
    assert got == list(zip(want_x.tolist(), want_y.tolist()))


def test_null_lat_gives_null_mercator_hex_and_tile(spark):
    df = spark.createDataFrame([(1, 10.0, None), (2, 10.0, 20.0)], "i int, lon double, lat double")
    my = merc_y_col(F.col("lat"))
    c = hex_cell_cols(merc_x_col(F.col("lon")), my, 5)
    _, ty, _, my_z = tile_project_col(F.col("lon"), F.col("lat"), 4)
    rows = df.orderBy("i").select(
        my.alias("my"), c["hq"].alias("hq"), c["hr"].alias("hr"), ty.alias("ty"), my_z.alias("myz")
    ).collect()
    assert rows[0] == (None, None, None, None, None)
    assert all(v is not None for v in rows[1])


# sha256 of "\n".join(sorted(map(repr, rows))) at sf0.01, commit 8634ebb
PINNED = {
    "cell_assign": "18ec0cf4864aaabe6970ad1b726ca1880ac8918dec0098c20d1cb2a78a3eae1f",
    "gridding": "cd6bb46c62da2c95e77759b0223cce536f97207ed639d184583a1ff8a08cc48c",
    "tile_roundtrip_full": "01e52e9f1ff3c10c7fdad336ac6c6d2e435cee9354e24914630d81f107a4f41c",
    "clip_lines": "ef420493aa04a630ccd7b76be4c7fe58b8fc0ddb9841ffe9e18f821f67262eef",
    "hex_assign": "353442fe91b50410a28c80eda2a11aa60af85b05bcd3f84aedbb1cba4324026d",
    "hex_smooth": "29621a6607d045f247010ebeb6892a2907c6238811516f04bbb8a2bde563c603",
    "hex_knn": "11a6c42d8e2c915026e58b1b6057e0514b7ef547f555d00ca915c7a10ed12fe9",
    "geocode_tile": "64eda949786182d0cf2fe7a647d595fafa37ff1c057dc00053def44de76013a2",
    "label_cull": "80c43b9672da29e247c119bb789d8ae60d0edb5de31ad985107fabb2cc411269",
    "geo_fallback": "023746006cbb55bfb6fef67db0a4bfd824460d3f5c7ec9e0899fb3fefd0aba6d",
    "grid_pyramid": "baba917b8bfa23c7eeaaf7be9df9cf026b28cba48b7f239351f7091960042b3e",
    "tile_budget": "0f7d9043c671739c2791bbd66173a5db1082c34a44d967ed53a2bfc051b07337",
    "overzoom": "9bf69db5d8d742eb5382cd380b6080a56738dee05e78b01dba83aa16c8f294f2",
    "quantize": "4110e557c11597b3d189a7d41880580d803341a57cb65062aaab57c048ee9c17",
    "grid_remap": "5d1a5479053f46b456bdca318b903e9ac5f0ac214a393f810188ad3a9f8a308c",
    "knn_haversine": "8bece15d1c1bdedc9fc87be071837a31ef76f21659df80834af2852d58731dd1",
}


@pytest.mark.parametrize("name", list(PINNED))
def test_driver_query_rows_pinned(spark, name):
    rows = entry.queries()[name](spark, SF).collect()
    digest = hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()
    assert digest == PINNED[name]
