"""Hexagonal cell indexing (H3-style) over the mercator plane.

The north-star pipeline assigns pages to "H3/S2 cells"; the ZXY mercator
cells in :mod:`.geo` are the S2-style square hierarchy.  This module adds
the hexagonal alternative: pointy-top axial coordinates with cube rounding
(the standard hex-grid algorithm, e.g. Red Blob Games' hexagon guide; H3
proper additionally warps cells onto an icosahedron — out of scope and
unnecessary for equal-area-ish bucketing of web pages).

Everything is expressed twice, deliberately:

* :func:`hex_cell_cols` — pure Spark column expressions (sqrt/floor/CASE,
  whole-stage codegen, no UDF).  Verbatim translatable to any SQL engine;
  the driver query `hex_assign` hash-matches it against DuckDB.
* :func:`hex_cell_np` — the numpy twin for Arrow-kernel callers (same
  arithmetic, bit-identical results — pytest pins Spark == numpy).

Hexes beat squares for neighborhood queries (6 equidistant neighbors, no
diagonal anisotropy); :func:`hex_ring_np` walks axial rings for the
cell-expansion pattern kNN uses.

Rounding is floor(x+0.5) everywhere — the repo-wide JS-half-up convention
(codec quantization uses the same), identical in Spark and DuckDB.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# mercator-unit circumradius of a resolution-r hex: the plane is 1.0 wide,
# so res r gives ~2^r hexes across (matching the ZXY zoom ladder roughly)
def hex_size(res: int) -> float:
    """Circumradius (mercator units) of a resolution-``res`` hex."""
    return 1.0 / (3.0 * (1 << res))


def _round_half_up(c: Column) -> Column:
    return F.floor(c + F.lit(0.5))


def hex_cell_cols(mx: Column, my: Column, res: int) -> dict[str, Column]:
    """Axial hex cell (hq, hr) of mercator point (mx, my) at ``res``.

    Pointy-top axial projection + cube rounding, all in one expression
    tree: fractional axial coords, per-component half-up rounding, then
    the largest-error component is recomputed from the other two (cube
    constraint q+r+s=0).  Returns {"hq", "hr"} as LONG columns."""
    s = F.lit(hex_size(res))
    qf = (F.sqrt(F.lit(3.0)) * mx / 3 - my / 3) / s
    rf = (2 * my / 3) / s
    sf = -qf - rf
    rq = _round_half_up(qf)
    rr = _round_half_up(rf)
    rs = _round_half_up(sf)
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    hq = F.when(fix_q, -rr - rs).otherwise(rq)
    hr = F.when(fix_r, -rq - rs).otherwise(rr)
    return {"hq": hq.cast("long"), "hr": hr.cast("long")}


def hex_cell_sql(mx_expr: str, my_expr: str, res: int) -> dict[str, str]:
    """The exact SQL twin of :func:`hex_cell_cols` (DuckDB/ANSI dialect) —
    kept next to the column version so the two can never drift."""
    s = repr(hex_size(res))
    qf = f"((sqrt(3.0) * ({mx_expr}) / 3 - ({my_expr}) / 3) / {s})"
    rf = f"((2 * ({my_expr}) / 3) / {s})"
    sf = f"(-{qf} - {rf})"
    rq, rr, rs = (f"floor({e} + 0.5)" for e in (qf, rf, sf))
    dq, dr, ds = (f"abs({r} - {e})" for r, e in ((rq, qf), (rr, rf), (rs, sf)))
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    fix_r = f"(NOT {fix_q} AND {dr} > {ds})"
    return {
        "hq": f"CAST(CASE WHEN {fix_q} THEN -{rr} - {rs} ELSE {rq} END AS BIGINT)",
        "hr": f"CAST(CASE WHEN {fix_r} THEN -{rq} - {rs} ELSE {rr} END AS BIGINT)",
    }


def hex_cell_np(mx, my, res: int) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of :func:`hex_cell_cols` (same arithmetic order, same
    half-up rounding — bit-identical to the column expressions)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    s = hex_size(res)
    qf = (math.sqrt(3.0) * mx / 3 - my / 3) / s
    rf = (2 * my / 3) / s
    sf = -qf - rf
    rq = np.floor(qf + 0.5)
    rr = np.floor(rf + 0.5)
    rs = np.floor(sf + 0.5)
    dq = np.abs(rq - qf)
    dr = np.abs(rr - rf)
    ds = np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    hq = np.where(fix_q, -rr - rs, rq).astype(np.int64)
    hr = np.where(fix_r, -rq - rs, rr).astype(np.int64)
    return hq, hr


def hex_center_np(hq, hr, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Mercator center of axial cell (hq, hr) — inverse of the fractional
    projection in :func:`hex_cell_np`."""
    s = hex_size(res)
    hq = np.asarray(hq, dtype=np.float64)
    hr = np.asarray(hr, dtype=np.float64)
    mx = (math.sqrt(3.0) * hq + math.sqrt(3.0) / 2 * hr) * s
    my = (1.5 * hr) * s
    return mx, my


_HEX_DIRS = np.array(
    [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)], dtype=np.int64
)


def hex_ring_np(hq: int, hr: int, k: int) -> np.ndarray:
    """Axial coordinates of the radius-``k`` ring around (hq, hr) — 6k
    cells (k=0 → the cell itself).  The expansion schedule for hex-grid
    kNN: ring 0, 1, 2, … until enough anchors are found."""
    if k == 0:
        return np.array([[hq, hr]], dtype=np.int64)
    out = np.empty((6 * k, 2), dtype=np.int64)
    # start k steps in direction 4 (-1, 1), then walk each of 6 sides
    cur = np.array([hq + _HEX_DIRS[4][0] * k, hr + _HEX_DIRS[4][1] * k])
    i = 0
    for side in range(6):
        for _ in range(k):
            out[i] = cur
            cur = cur + _HEX_DIRS[side]
            i += 1
    return out


def hex_disk_np(hq: int, hr: int, k: int) -> np.ndarray:
    """All cells within axial distance k (1 + 3k(k+1) cells)."""
    return np.concatenate([hex_ring_np(hq, hr, i) for i in range(k + 1)])


def hex_disk_join(
    left,
    right,
    k_disk: int,
    q_col: str = "hq",
    r_col: str = "hr",
    suffix: str = "_r",
):
    """Candidate join through the hex index: pair every left row with
    every right row whose cell lies within axial distance ``k_disk`` of
    the left row's cell.

    The disk offsets around the origin are STATIC (1 + 3k(k+1) of them —
    19 at k=2), so the expansion is one literal-array explode on the left
    side followed by an equi-join on the shifted cell — the hex analogue
    of the square cell-ring prefilter in operators/knn.py, as pure
    relational algebra.  Downstream re-ranks candidates exactly (driver
    query `hex_knn`: haversine + rank window, twin-oracled)."""
    offsets = [tuple(x) for x in hex_disk_np(0, 0, k_disk).tolist()]
    r_renamed = right.select(
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns]
    )
    ex = left.withColumn(
        "_o",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
                    for dq, dr in offsets
                ]
            )
        ),
    ).withColumn("_cq", F.col(q_col) + F.col("_o.dq")).withColumn(
        "_cr", F.col(r_col) + F.col("_o.dr")
    )
    joined = ex.join(
        r_renamed,
        (F.col("_cq") == F.col(f"{q_col}{suffix}"))
        & (F.col("_cr") == F.col(f"{r_col}{suffix}")),
    )
    return joined.drop("_o", "_cq", "_cr")


def hex_smooth(
    df,
    value_col: str,
    q_col: str = "hq",
    r_col: str = "hr",
    out_col: str = "smoothed",
):
    """Neighborhood smoothing on the hex grid: for every cell PRESENT in
    ``df``, the mean of ``value_col`` over the cell and its 6 axial
    neighbors (absent neighbors contribute nothing — the mean is over
    present cells, so edges don't bleed zeros).

    This is where hexes beat squares: all 6 neighbors are equidistant, so
    one unweighted ring IS an isotropic kernel (a square grid needs
    diagonal weights).  Relational shape: each cell broadcasts its value
    to itself + 6 shifted targets (one explode, 7× fan-out), one
    partial-agg shuffle on the target cell, then a semi join back onto the
    original cells — no UDF, verbatim SQL (driver oracle `hex_smooth`)."""
    dirs = [(0, 0)] + [tuple(d) for d in _HEX_DIRS.tolist()]
    contrib = df.select(
        F.col(q_col), F.col(r_col), F.col(value_col).alias("_v"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
                    for dq, dr in dirs
                ]
            )
        ).alias("_d"),
    ).select(
        (F.col(q_col) + F.col("_d.dq")).alias("_tq"),
        (F.col(r_col) + F.col("_d.dr")).alias("_tr"),
        "_v",
    )
    sums = contrib.groupBy("_tq", "_tr").agg(
        F.sum("_v").alias("_sum"), F.count("_v").alias("_n")
    )
    cells = df.select(q_col, r_col, value_col)
    return (
        cells.join(
            sums,
            (F.col(q_col) == F.col("_tq")) & (F.col(r_col) == F.col("_tr")),
        )
        .select(
            q_col,
            r_col,
            value_col,
            F.round(F.col("_sum") / F.col("_n"), 6).alias(out_col),
        )
    )
