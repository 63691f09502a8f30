"""Great-circle densification (functions/geo.py geodesic_densify)."""

import math
import random

import pytest

from open_vector_tile_spark.functions.geo import geodesic_densify


def _py_densify(lon1, lat1, lon2, lat2, n):
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    h = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1))
        * math.cos(math.radians(lat2))
        * math.sin(dlon / 2) ** 2
    )
    sh = min(1.0, math.sqrt(h))
    om = 2.0 * math.asin(sh)
    so = math.sin(om)
    a = (
        math.cos(math.radians(lat1)) * math.cos(math.radians(lon1)),
        math.cos(math.radians(lat1)) * math.sin(math.radians(lon1)),
        math.sin(math.radians(lat1)),
    )
    b = (
        math.cos(math.radians(lat2)) * math.cos(math.radians(lon2)),
        math.cos(math.radians(lat2)) * math.sin(math.radians(lon2)),
        math.sin(math.radians(lat2)),
    )
    out = []
    for i in range(n + 1):
        if om == 0.0:
            out.append((i, lon1, lat1, False))
            continue
        if sh == 1.0:
            out.append((i, None, None, True))
            continue
        t = i / n
        f1 = math.sin((1.0 - t) * om) / so
        f2 = math.sin(t * om) / so
        x = f1 * a[0] + f2 * b[0]
        y = f1 * a[1] + f2 * b[1]
        z = f1 * a[2] + f2 * b[2]
        out.append(
            (
                i,
                math.degrees(math.atan2(y, x)),
                math.degrees(math.atan2(z, math.hypot(x, y))),
                False,
            )
        )
    return out


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "rid long, lon1 double, lat1 double, lon2 double, lat2 double"
    )


def test_meridian_midpoint(spark):
    df = _df(spark, [(1, 10.0, 0.0, 10.0, 60.0)])
    got = {
        r["seg_idx"]: (r["lon"], r["lat"])
        for r in geodesic_densify(df, id_cols=["rid"], n_segments=2).collect()
    }
    assert got[0][0] == pytest.approx(10.0, abs=1e-9)
    assert got[0][1] == pytest.approx(0.0, abs=1e-9)
    assert got[1] == (pytest.approx(10.0, abs=1e-9), pytest.approx(30.0, abs=1e-9))
    assert got[2] == (pytest.approx(10.0, abs=1e-9), pytest.approx(60.0, abs=1e-9))


def test_degenerate_cases(spark):
    rows = [(1, 5.0, 5.0, 5.0, 5.0), (2, 0.0, 0.0, 180.0, 0.0)]
    df = _df(spark, rows)
    got = {}
    for r in geodesic_densify(df, id_cols=["rid"], n_segments=3).collect():
        got.setdefault(r["rid"], []).append(
            (r["seg_idx"], r["lon"], r["lat"], r["degenerate"])
        )
    for i, lon, lat, deg in got[1]:
        assert (lon, lat, deg) == (5.0, 5.0, False)  # coincident: start point
    for i, lon, lat, deg in got[2]:
        assert (lon, lat, deg) == (None, None, True)  # antipodal: flagged


def test_null_and_nan_endpoints(spark):
    """A null endpoint gives null waypoints and a NaN one NaN waypoints;
    neither is flagged as an antipodal pair."""
    rows = [(1, 5.0, None, 10.0, 10.0), (2, 5.0, float("nan"), 10.0, 10.0)]
    got = {}
    for r in geodesic_densify(_df(spark, rows), id_cols=["rid"], n_segments=2).collect():
        got.setdefault(r["rid"], []).append((r["lon"], r["lat"], r["degenerate"]))
    assert got[1] == [(None, None, None)] * 3
    assert len(got[2]) == 3
    for lon, lat, deg in got[2]:
        assert math.isnan(lon) and math.isnan(lat) and deg is False


def test_randomized_parity_and_waypoint_geometry(spark):
    rng = random.Random(47)
    rows = [
        (
            i,
            rng.uniform(-170, 170),
            rng.uniform(-80, 80),
            rng.uniform(-170, 170),
            rng.uniform(-80, 80),
        )
        for i in range(60)
    ]
    df = _df(spark, rows)
    n = 5
    got = {}
    for r in geodesic_densify(df, id_cols=["rid"], n_segments=n).collect():
        got.setdefault(r["rid"], {})[r["seg_idx"]] = (r["lon"], r["lat"])
    for rid, lon1, lat1, lon2, lat2 in rows:
        want = _py_densify(lon1, lat1, lon2, lat2, n)
        for i, wlon, wlat, wdeg in want:
            glon, glat = got[rid][i]
            assert glon == pytest.approx(wlon, abs=1e-9), (rid, i)
            assert glat == pytest.approx(wlat, abs=1e-9), (rid, i)
    with pytest.raises(ValueError):
        geodesic_densify(df, id_cols=["rid"], n_segments=0)
