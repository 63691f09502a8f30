"""Hex cell index (functions/hex.py): nearest-center property, twin parity,
ring walk."""

from __future__ import annotations

import numpy as np
import pandas as pd

from open_vector_tile_spark.functions.hex import (
    hex_cell_cols,
    hex_cell_np,
    hex_cell_sql,
    hex_center_np,
    hex_disk_np,
    hex_ring_np,
    hex_size,
)


def test_cube_round_is_nearest_center():
    """Cube rounding must pick the hex whose center is nearest (that's the
    definition of the hex Voronoi cell)."""
    rng = np.random.default_rng(3)
    pts = rng.uniform(0.05, 0.95, size=(2000, 2))
    res = 4
    hq, hr = hex_cell_np(pts[:, 0], pts[:, 1], res)
    cx, cy = hex_center_np(hq, hr, res)
    d_own = np.hypot(pts[:, 0] - cx, pts[:, 1] - cy)
    # compare against all neighbors
    for dq, dr in [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]:
        nx, ny = hex_center_np(hq + dq, hr + dr, res)
        d_n = np.hypot(pts[:, 0] - nx, pts[:, 1] - ny)
        assert np.all(d_own <= d_n + 1e-12)


def test_centers_round_trip():
    qs, rs = np.meshgrid(np.arange(-10, 11), np.arange(-10, 11))
    qs, rs = qs.ravel(), rs.ravel()
    cx, cy = hex_center_np(qs, rs, 5)
    hq, hr = hex_cell_np(cx, cy, 5)
    assert np.array_equal(hq, qs) and np.array_equal(hr, rs)


def test_ring_sizes_and_distance():
    for k in range(0, 5):
        ring = hex_ring_np(3, -2, k)
        assert len(ring) == (1 if k == 0 else 6 * k)
        # axial hex distance == k for every ring cell
        for q, r in ring:
            dq, dr = q - 3, r - (-2)
            dist = (abs(dq) + abs(dr) + abs(dq + dr)) // 2
            assert dist == k
    disk = hex_disk_np(3, -2, 3)
    assert len(disk) == 1 + 3 * 3 * 4
    assert len({(q, r) for q, r in disk}) == len(disk)


def test_spark_numpy_parity(spark):
    import pyspark.sql.functions as F

    n = 500
    pdf = pd.DataFrame({"i": range(n)})
    pdf["mx"] = (pdf.i * 37 % 1000) / 1000.0
    pdf["my"] = (pdf.i * 53 % 1000) / 1000.0
    sdf = spark.createDataFrame(pdf)
    c = hex_cell_cols(F.col("mx"), F.col("my"), 6)
    got = (
        sdf.select("i", c["hq"].alias("hq"), c["hr"].alias("hr"))
        .orderBy("i")
        .toPandas()
    )
    hq, hr = hex_cell_np(pdf.mx.to_numpy(), pdf.my.to_numpy(), 6)
    assert np.array_equal(got.hq.to_numpy(), hq)
    assert np.array_equal(got.hr.to_numpy(), hr)


def test_sql_twin_matches_numpy():
    import duckdb

    con = duckdb.connect()
    sql = hex_cell_sql("mx", "my", 6)
    got = con.execute(
        f"""
        WITH t AS (
          SELECT i, (i*37 % 1000)/1000.0 AS mx, (i*53 % 1000)/1000.0 AS my
          FROM unnest(generate_series(0, 499)) AS s(i)
        )
        SELECT i, {sql['hq']} AS hq, {sql['hr']} AS hr FROM t ORDER BY i
        """
    ).df()
    mx = (np.arange(500) * 37 % 1000) / 1000.0
    my = (np.arange(500) * 53 % 1000) / 1000.0
    hq, hr = hex_cell_np(mx, my, 6)
    assert np.array_equal(got.hq.to_numpy(), hq)
    assert np.array_equal(got.hr.to_numpy(), hr)


def test_size_halves_per_res():
    assert hex_size(5) == hex_size(4) / 2


# ---------------------------------------------------------------------------
# quadkey + geodesic area (functions/geo.py)
# ---------------------------------------------------------------------------

import math

import pandas as pd
import pytest


def _quadkey_ref(tx, ty, zoom):
    """Microsoft Bing tile-system reference (scalar)."""
    key = ""
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if tx & mask:
            digit += 1
        if ty & mask:
            digit += 2
        key += str(digit)
    return key


def test_quadkey_matches_bing_reference(spark):
    import pyspark.sql.functions as F
    from open_vector_tile_spark.functions.geo import quadkey_col

    rows = [(tx, ty) for tx in range(8) for ty in range(8)]
    sdf = spark.createDataFrame(rows, "tx long, ty long")
    got = {
        (r["tx"], r["ty"]): r["qk"]
        for r in sdf.select(
            "tx", "ty", quadkey_col(F.col("tx"), F.col("ty"), 3).alias("qk")
        ).collect()
    }
    for tx, ty in rows:
        assert got[(tx, ty)] == _quadkey_ref(tx, ty, 3)
    # prefix nesting: child (2x, 2y) at z4 starts with parent's z3 key
    sdf4 = spark.createDataFrame([(6, 4)], "tx long, ty long")
    child = sdf4.select(
        quadkey_col(F.col("tx") * 2, F.col("ty") * 2, 4).alias("qk")
    ).collect()[0]["qk"]
    assert child.startswith(_quadkey_ref(6, 4, 3))


def test_geodesic_area_exact_for_latlon_rect(spark):
    from open_vector_tile_spark.functions.geo import (
        EARTH_RADIUS_M,
        geodesic_ring_area_m2,
    )

    rects = {
        1: (-45.0, -10.0, 45.0, 10.0),   # equatorial belt
        2: (10.0, 40.0, 20.0, 60.0),     # mid-latitude
        3: (0.0, 0.0, 0.01, 0.01),       # tiny (planar limit)
    }
    rows = []
    for rid, (lo1, la1, lo2, la2) in rects.items():
        ring = [(lo1, la1), (lo2, la1), (lo2, la2), (lo1, la2)]
        for k, (lo, la) in enumerate(ring):
            rows.append({"rid": rid, "seq": k, "lon": lo, "lat": la})
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        r["rid"]: r["area_m2"]
        for r in geodesic_ring_area_m2(sdf, ["rid"]).collect()
    }
    for rid, (lo1, la1, lo2, la2) in rects.items():
        # exact spherical area of a lat-lon quad: R^2 * dlam * (sin2 - sin1)
        want = (
            EARTH_RADIUS_M**2
            * math.radians(lo2 - lo1)
            * (math.sin(math.radians(la2)) - math.sin(math.radians(la1)))
        )
        assert got[rid] == pytest.approx(want, rel=1e-12)
    # tiny rect ~ planar product
    planar = (math.radians(0.01) * EARTH_RADIUS_M) ** 2
    assert got[3] == pytest.approx(planar, rel=1e-3)


def test_geodesic_area_orientation_invariant(spark):
    from open_vector_tile_spark.functions.geo import geodesic_ring_area_m2

    ring = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    rows = []
    for k, (lo, la) in enumerate(ring):
        rows.append({"rid": 1, "seq": k, "lon": lo, "lat": la})
    for k, (lo, la) in enumerate(reversed(ring)):
        rows.append({"rid": 2, "seq": k, "lon": lo, "lat": la})
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    got = {r["rid"]: r["area_m2"] for r in geodesic_ring_area_m2(sdf, ["rid"]).collect()}
    assert got[1] == got[2]


def _geohash_ref(lon, lat, precision):
    """Textbook bisection geohash encoder (scalar)."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lo = [-180.0, 180.0]
    la = [-90.0, 90.0]
    bits, out, even = 0, "", True
    ch = 0
    while len(out) < precision:
        if even:
            mid = (lo[0] + lo[1]) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lo[0] = mid
            else:
                ch <<= 1
                lo[1] = mid
        else:
            mid = (la[0] + la[1]) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                la[0] = mid
            else:
                ch <<= 1
                la[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out += b32[ch]
            bits, ch = 0, 0
    return out


def test_geohash_matches_reference(spark):
    import numpy as np
    import pyspark.sql.functions as F
    from open_vector_tile_spark.functions.geo import geohash_col

    rng = np.random.default_rng(41)
    pts = [(float(lo), float(la)) for lo, la in
           zip(rng.uniform(-180, 180, 300), rng.uniform(-90, 90, 300))]
    # classic known vector
    pts.append((-5.6, 42.6))  # geohash 'ezs42' at precision 5
    sdf = spark.createDataFrame(pts, "lon double, lat double")
    got5 = [r["gh"] for r in sdf.select(
        geohash_col(F.col("lon"), F.col("lat"), 5).alias("gh")).collect()]
    got6 = [r["gh"] for r in sdf.select(
        geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh")).collect()]
    for (lon, lat), g5, g6 in zip(pts, got5, got6):
        assert g5 == _geohash_ref(lon, lat, 5)
        assert g6 == _geohash_ref(lon, lat, 6)
        assert g6.startswith(g5)  # prefix property
    assert got5[-1] == "ezs42"


def test_geohash_precision_bound(spark):
    import pyspark.sql.functions as F
    from open_vector_tile_spark.functions.geo import geohash_col

    with pytest.raises(ValueError):
        geohash_col(F.lit(0.0), F.lit(0.0), 7)


def test_hex_smooth_matches_bruteforce(spark):
    import pyspark.sql.functions as F
    from open_vector_tile_spark.functions.hex import hex_smooth

    rng = np.random.default_rng(13)
    cells = {}
    for _ in range(120):
        q, r = int(rng.integers(-6, 7)), int(rng.integers(-6, 7))
        cells[(q, r)] = float(rng.integers(1, 100))
    pdf = pd.DataFrame(
        [{"hq": q, "hr": r, "v": v} for (q, r), v in cells.items()]
    )
    got = {
        (r["hq"], r["hr"]): r["smoothed"]
        for r in hex_smooth(spark.createDataFrame(pdf), "v").collect()
    }
    dirs = [(0, 0), (1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]
    assert set(got) == set(cells)
    for (q, r), v in cells.items():
        vals = [cells[(q + dq, r + dr)] for dq, dr in dirs if (q + dq, r + dr) in cells]
        assert got[(q, r)] == round(sum(vals) / len(vals), 6)


def test_hex_smooth_isolated_cell_is_identity(spark):
    from open_vector_tile_spark.functions.hex import hex_smooth

    pdf = pd.DataFrame([{"hq": 100, "hr": 100, "v": 7.0}])
    out = hex_smooth(spark.createDataFrame(pdf), "v").collect()
    assert out[0]["smoothed"] == 7.0


def test_hex_disk_join_matches_bruteforce(spark):
    import pyspark.sql.functions as F  # noqa: F401
    from open_vector_tile_spark.functions.hex import hex_disk_join

    rng = np.random.default_rng(29)
    lrows = [{"lid": i, "hq": int(rng.integers(-5, 6)), "hr": int(rng.integers(-5, 6))}
             for i in range(60)]
    rrows = [{"rid": i, "hq": int(rng.integers(-5, 6)), "hr": int(rng.integers(-5, 6))}
             for i in range(40)]
    out = hex_disk_join(
        spark.createDataFrame(pd.DataFrame(lrows)),
        spark.createDataFrame(pd.DataFrame(rrows)),
        k_disk=2,
    ).toPandas()
    got = set(zip(out.lid, out.rid_r))

    def dist(a, b):
        dq, dr = a[0] - b[0], a[1] - b[1]
        return (abs(dq) + abs(dr) + abs(dq + dr)) // 2

    want = {
        (lr["lid"], rr["rid"])
        for lr in lrows
        for rr in rrows
        if dist((lr["hq"], lr["hr"]), (rr["hq"], rr["hr"])) <= 2
    }
    assert got == want


# ---------------------------------------------------------------------------
# viewport_tiles


def _vp_df(spark, rows):
    return spark.createDataFrame(
        rows, "vid long, min_lon double, min_lat double, max_lon double, max_lat double, zoom int"
    )


def test_viewport_tiles_matches_numpy_cover(spark):
    """Parity with the numpy bbox cover (cover_bbox_np) over randomized
    non-crossing viewports at mixed zooms."""
    import random

    from open_vector_tile_spark.functions.geo import cover_bbox_np, viewport_tiles

    rng = random.Random(5)
    rows = []
    for i in range(40):
        lon = rng.uniform(-170, 165)
        lat = rng.uniform(-75, 75)
        rows.append(
            (i, lon, lat, lon + rng.uniform(0.1, 8), lat + rng.uniform(0.1, 6), rng.randrange(2, 7))
        )
    got = {}
    for r in viewport_tiles(_vp_df(spark, rows), max_tiles=100000).collect():
        assert not r["oversized"]
        got.setdefault(r["vid"], set()).add((r["tile_x"], r["tile_y"]))
    for vid, lon0, lat0, lon1, lat1, z in rows:
        txs, tys = cover_bbox_np(lon0, lat0, lon1, lat1, z)
        want = set(zip(txs.tolist(), tys.tolist()))
        assert got[vid] == want, f"viewport {vid} z{z}"
        assert len(want) > 0


def test_viewport_tiles_antimeridian_split(spark):
    from open_vector_tile_spark.functions.geo import viewport_tiles

    # crossing box at z3: x(175deg)=7, x(-175deg)=0 -> two ranges
    rows = [(1, 175.0, -5.0, -175.0, 5.0, 3)]
    got = viewport_tiles(_vp_df(spark, rows)).collect()
    xs = {r["tile_x"] for r in got}
    assert xs == {0, 7}
    assert all(not r["oversized"] for r in got)
    # n_tiles = 2 x-tiles * y-span
    yspan = len({r["tile_y"] for r in got})
    assert all(r["n_tiles"] == 2 * yspan for r in got)


def test_viewport_tiles_null_bound_covers_nothing(spark):
    """A viewport with a null bound emits no tile (no antimeridian split
    or clamped edge made up from the null); its neighbour is unaffected."""
    from open_vector_tile_spark.functions.geo import viewport_tiles

    rows = [
        (1, None, -5.0, 5.0, 5.0, 3),
        (2, -5.0, None, 5.0, 5.0, 3),
        (3, -5.0, -5.0, None, 5.0, 3),
        (4, -5.0, -5.0, 5.0, None, 3),
        (5, -5.0, -5.0, 5.0, 5.0, 3),
    ]
    got = viewport_tiles(_vp_df(spark, rows)).collect()
    assert {r["vid"] for r in got} == {5}
    assert len(got) == 4


def test_viewport_tiles_oversize_capped_explicitly(spark):
    from open_vector_tile_spark.functions.geo import viewport_tiles

    rows = [(1, -10.0, -10.0, 10.0, 10.0, 10), (2, 0.0, 0.0, 0.5, 0.5, 5)]
    got = viewport_tiles(_vp_df(spark, rows), max_tiles=16).collect()
    big = [r for r in got if r["vid"] == 1]
    assert len(big) == 1 and big[0]["oversized"] and big[0]["tile_x"] is None
    assert big[0]["n_tiles"] > 16
    small = [r for r in got if r["vid"] == 2]
    assert small and all(not r["oversized"] for r in small)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        viewport_tiles(_vp_df(spark, rows), max_tiles=0)


def test_viewport_tiles_crossing_box_in_one_tile_no_duplicates(spark):
    """Crossing box whose both edges land in tile x=0 at z0: the union is
    the full row, emitted once — not the same tile twice."""
    from open_vector_tile_spark.functions.geo import viewport_tiles

    rows = [(1, 175.0, -5.0, -175.0, 5.0, 0), (2, 10.0, -5.0, 9.99, 5.0, 3)]
    got = viewport_tiles(_vp_df(spark, rows)).collect()
    one = [(r["tile_x"], r["tile_y"]) for r in got if r["vid"] == 1]
    assert len(one) == len(set(one)) == 1  # z0: single world tile, once
    r1 = [r for r in got if r["vid"] == 1][0]
    assert r1["n_tiles"] == 1
    # z3 wrap-onto-itself: full row 0..7 once per y
    two = [(r["tile_x"], r["tile_y"]) for r in got if r["vid"] == 2]
    assert len(two) == len(set(two))
    assert {x for x, _ in two} == set(range(8))
