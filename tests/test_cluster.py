"""grid_cluster (cell DBSCAN) vs a pure-python grid-DBSCAN reference."""

from __future__ import annotations

import math
import random

import pytest

from open_vector_tile_spark.operators.cluster import grid_cluster

_OFF = 1 << 20
_SPAN = 1 << 22


def _key(cx, cy):
    return (cx + _OFF) * _SPAN + (cy + _OFF)


def _ref(points, cell_deg=1.0, min_pts=5):
    """points: [(pid, lon, lat)] -> {pid: (cx, cy, cluster|None, role)}."""
    cells = {}
    cell_of = {}
    for pid, lon, lat in points:
        c = (math.floor(lon / cell_deg), math.floor(lat / cell_deg))
        cell_of[pid] = c
        cells.setdefault(c, []).append(pid)
    core = {c for c, ps in cells.items() if len(ps) >= min_pts}
    # union-find over adjacent core cells, min-key labels
    parent = {c: c for c in core}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for cx, cy in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb != (cx, cy) and nb in core:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        a, b = sorted([ra, rb], key=lambda c: _key(*c))
                        parent[b] = a
    label = {c: _key(*find(c)) for c in core}
    out = {}
    for pid, lon, lat in points:
        c = cell_of[pid]
        if c in core:
            out[pid] = (*c, label[c], "core")
            continue
        nbs = [
            label[(c[0] + dx, c[1] + dy)]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and (c[0] + dx, c[1] + dy) in core
        ]
        if nbs:
            out[pid] = (*c, min(nbs), "border")
        else:
            out[pid] = (*c, None, "noise")
    return out


def _run(spark, points, **kw):
    df = spark.createDataFrame(points, "pid long, lon double, lat double")
    rows = grid_cluster(df, "pid", **kw).collect()
    return {
        r["pid"]: (r["cell_x"], r["cell_y"], r["cluster"], r["role"]) for r in rows
    }


def test_two_clumps_merge_and_noise(spark):
    pts = []
    # clump A: 8 points in cell (0,0); clump B: 6 points in adjacent (1,1)
    for i in range(8):
        pts.append((i, 0.1 + i * 0.05, 0.2))
    for i in range(6):
        pts.append((100 + i, 1.1 + i * 0.05, 1.3))
    # border point in empty cell (0,1) touching both clumps
    pts.append((200, 0.5, 1.5))
    # far-away noise
    pts.append((300, 50.5, -30.2))
    got = _run(spark, pts, cell_deg=1.0, min_pts=5)
    want = _ref(pts)
    assert got == want
    lbl = _key(0, 0)
    assert got[0] == (0, 0, lbl, "core")
    assert got[100] == (1, 1, lbl, "core")  # diagonal adjacency merges
    assert got[200] == (0, 1, lbl, "border")
    assert got[300][2:] == (None, "noise")


def test_border_takes_smallest_adjacent_cluster(spark):
    pts = []
    for i in range(5):
        pts.append((i, -0.5 + i * 0.01, 0.5))        # core cell (-1, 0)
    for i in range(5):
        pts.append((10 + i, 1.5 + i * 0.01, 0.5))    # core cell (1, 0), separate
    pts.append((99, 0.5, 0.5))                        # between both, cell (0,0)
    got = _run(spark, pts, cell_deg=1.0, min_pts=5)
    assert got == _ref(pts)
    assert got[99][3] == "border"
    assert got[99][2] == min(_key(-1, 0), _key(1, 0))


def test_randomized_matches_reference(spark):
    rng = random.Random(31)
    pts = []
    pid = 0
    for k in range(12):  # 12 clumps of 4-12 points
        cx, cy = rng.randrange(-170, 170), rng.randrange(-80, 80)
        for _ in range(rng.randrange(4, 13)):
            pts.append(
                (pid, cx + rng.random() * 2 - 0.5, cy + rng.random() * 2 - 0.5)
            )
            pid += 1
    for _ in range(60):  # scattered noise
        pts.append((pid, rng.uniform(-179, 179), rng.uniform(-79, 79)))
        pid += 1
    got = _run(spark, pts, cell_deg=1.0, min_pts=4)
    assert got == _ref(pts, cell_deg=1.0, min_pts=4)


@pytest.mark.slow
def test_repartition_invariant_and_negative_coords(spark):
    rng = random.Random(7)
    pts = [
        (i, rng.uniform(-179, -170), rng.uniform(-80, -70)) for i in range(80)
    ]
    df = spark.createDataFrame(pts, "pid long, lon double, lat double")
    a = {r["pid"]: r for r in grid_cluster(df, "pid", min_pts=3).collect()}
    b = {
        r["pid"]: r
        for r in grid_cluster(df.repartition(17), "pid", min_pts=3).collect()
    }
    assert {k: tuple(v) for k, v in a.items()} == {k: tuple(v) for k, v in b.items()}


def test_param_validation(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, lon double, lat double")
    with pytest.raises(ValueError, match="cell_deg"):
        grid_cluster(df, "pid", cell_deg=0.0)
    with pytest.raises(ValueError, match="min_pts"):
        grid_cluster(df, "pid", min_pts=0)
