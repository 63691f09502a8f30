"""Tile-boundary clipping — the missing stage between "assign feature to
every covered tile" and "quantize into the tile extent".

The reference library is a codec: it encodes whatever geometry it is given
and RELIES on the producer having clipped features to the tile + buffer
(vector-tile-spec README.md:411-413 — geometries may extend past the tile
edge only as far as the buffer).  Without ``clip_buffer``,
`lines/polygons_to_features_dist` emit the WHOLE geometry into every covered
tile, which is correct for round-trips but wrong at scale: a coastline
polyline spanning 40 tiles would carry all its vertices into each of the 40
tiles (O(tiles × vertices) bytes instead of O(vertices)).  This module
supplies the clip:

* :func:`segment_clip_cols` — Liang–Barsky parametric segment clipping as
  PURE COLUMN EXPRESSIONS (closed form: the enter/exit parameters are
  greatest/least over per-axis ratios, division handled by a dx=0 CASE).
  Stays inside whole-stage codegen and is expressible verbatim in any SQL
  engine — the driver oracle `clip_lines` hash-matches it against DuckDB.
* :func:`clip_ring_np` — Sutherland–Hodgman polygon clipping against an
  axis-aligned rectangle, vectorized per half-plane pass (4 passes of numpy
  over all vertices, no per-vertex Python).
* :func:`clip_polyline_np` — per-segment Liang–Barsky (one vectorized pass)
  + chained-part reassembly: a polyline that exits and re-enters the tile
  becomes a multi-line (multiple `ring_lens` entries), exactly what the OVT
  line feature encodes.

Scale shape: clipping is per-(feature, tile) map work — no shuffle, no
state; it runs inside the same `mapInPandas` pass that quantizes, so the
only plan change from enabling it is smaller Arrow batches downstream.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ._parallel import fan_out

_BIG = 1e300  # stand-in for ±inf that survives SQL translation verbatim


# ---------------------------------------------------------------------------
# Liang–Barsky as column expressions (JVM-side, SQL-twin-able)
# ---------------------------------------------------------------------------


def _axis_enter_exit(p1: Column, d: Column, lo: Column, hi: Column):
    """(t_enter, t_exit) of the segment against one slab lo<=coord<=hi.

    d == 0 degenerates to (−inf, +inf) when the segment lies inside the
    slab and (+inf, −inf) (empty interval) when outside — the closed-form
    trick that keeps the whole clip a single expression tree."""
    inside = (p1 >= lo) & (p1 <= hi)
    t_a = (lo - p1) / d
    t_b = (hi - p1) / d
    enter = F.when(d == 0.0, F.when(inside, F.lit(-_BIG)).otherwise(F.lit(_BIG))).otherwise(
        F.least(t_a, t_b)
    )
    exit_ = F.when(d == 0.0, F.when(inside, F.lit(_BIG)).otherwise(F.lit(-_BIG))).otherwise(
        F.greatest(t_a, t_b)
    )
    return enter, exit_


def segment_clip_cols(
    x1: Column,
    y1: Column,
    x2: Column,
    y2: Column,
    xmin: Column,
    ymin: Column,
    xmax: Column,
    ymax: Column,
) -> dict[str, Column]:
    """Liang–Barsky clip of segment (x1,y1)→(x2,y2) to the rect.

    Returns dict with ``kept`` (boolean) and ``cx1 cy1 cx2 cy2`` (clipped
    endpoints, only meaningful where kept).  Everything is IEEE-double
    arithmetic + greatest/least/CASE — bit-identical across Spark and
    DuckDB, which is what lets the driver hash-match the `clip_lines`
    oracle.  Degenerate zero-length segments are kept iff the point is
    inside the rect."""
    dx, dy = x2 - x1, y2 - y1
    ex, xx = _axis_enter_exit(x1, dx, xmin, xmax)
    ey, xy_ = _axis_enter_exit(y1, dy, ymin, ymax)
    t0 = F.greatest(F.lit(0.0), ex, ey)
    t1 = F.least(F.lit(1.0), xx, xy_)
    kept = t0 <= t1
    return {
        "kept": kept,
        "cx1": x1 + t0 * dx,
        "cy1": y1 + t0 * dy,
        "cx2": x1 + t1 * dx,
        "cy2": y1 + t1 * dy,
    }


# ---------------------------------------------------------------------------
# numpy kernels (used inside the featurizers' mapInPandas pass)
# ---------------------------------------------------------------------------


def clip_ring_np(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray:
    """Sutherland–Hodgman clip of one ring (n,2+) to an axis-aligned rect.

    Four half-plane passes; each pass is fully vectorized (numpy masks +
    interpolation over all edges at once, then an interleave/compress to
    rebuild the vertex list).  Extra columns beyond x,y (e.g. a z column)
    are linearly interpolated alongside.  Returns (m, ncols) — m == 0 when
    the ring is entirely outside.  Output rings are open (no repeated
    first vertex), matching the featurizers' ring convention."""
    planes = (
        (0, -1.0, -xmin),  # x >= xmin  ⇔ -x <= -xmin
        (0, 1.0, xmax),  # x <= xmax
        (1, -1.0, -ymin),
        (1, 1.0, ymax),
    )
    pts = np.asarray(ring, dtype=np.float64)
    for axis, sign, bound in planes:
        n = len(pts)
        if n == 0:
            return pts.reshape(0, ring.shape[1] if ring.ndim == 2 else 2)
        cur_in = sign * pts[:, axis] <= bound
        nxt = np.roll(pts, -1, axis=0)
        nxt_in = np.roll(cur_in, -1)
        denom = sign * (nxt[:, axis] - pts[:, axis])
        # avoid 0/0 on edges parallel to the plane (never selected below)
        safe = np.where(denom == 0.0, 1.0, denom)
        t = (bound - sign * pts[:, axis]) / safe
        inter = pts + t[:, None] * (nxt - pts)
        # each edge contributes: current vertex (if inside), then the
        # intersection (if the edge crosses the plane)
        emit_cur = cur_in
        emit_int = cur_in != nxt_in
        # interleave via a (2n, ncols) scratch + mask — no Python loop
        scratch = np.empty((2 * n, pts.shape[1]), dtype=np.float64)
        scratch[0::2] = pts
        scratch[1::2] = inter
        mask = np.empty(2 * n, dtype=bool)
        mask[0::2] = emit_cur
        mask[1::2] = emit_int
        pts = scratch[mask]
    # drop consecutive duplicates the plane intersections can introduce
    if len(pts) > 1:
        keep = np.ones(len(pts), dtype=bool)
        same = np.all(pts[1:, :2] == pts[:-1, :2], axis=1)
        keep[1:] = ~same
        if np.all(pts[0, :2] == pts[-1, :2]) and keep[-1] and len(pts) > 2:
            keep[-1] = False
        pts = pts[keep]
    return pts


def clip_polyline_np(
    line: np.ndarray,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    return_offsets: bool = False,
):
    """Clip one polyline (n,2+) to a rect → list of polyline parts.

    One vectorized Liang–Barsky pass over all n-1 segments, then a
    boundary-break scan that stitches consecutive kept segments back into
    parts: a new part starts where the previous segment was dropped or
    where its clipped exit point differs from this segment's clipped entry
    (the line left the rect and came back).  Extra columns interpolate
    linearly (z / M-value carriers).

    With ``return_offsets`` the result is ``(parts, offsets)`` where
    ``offsets[i]`` is the xy arc length from the ORIGINAL line's start to
    part i's first vertex — the quantity the reference's line-offset
    extension (VectorLineWithOffset, open-vector-tile
    src/vector-tile.spec.ts line offsets) stores so that dash patterns and
    labels survive tile clipping."""
    pts = np.asarray(line, dtype=np.float64)
    if len(pts) < 2:
        if len(pts) == 1 and xmin <= pts[0, 0] <= xmax and ymin <= pts[0, 1] <= ymax:
            return ([pts], [0.0]) if return_offsets else [pts]
        return ([], []) if return_offsets else []
    a, b = pts[:-1], pts[1:]
    d = b - a
    with np.errstate(divide="ignore", invalid="ignore"):
        t_lo_x = np.where(d[:, 0] != 0, (xmin - a[:, 0]) / d[:, 0], np.nan)
        t_hi_x = np.where(d[:, 0] != 0, (xmax - a[:, 0]) / d[:, 0], np.nan)
        t_lo_y = np.where(d[:, 1] != 0, (ymin - a[:, 1]) / d[:, 1], np.nan)
        t_hi_y = np.where(d[:, 1] != 0, (ymax - a[:, 1]) / d[:, 1], np.nan)
    in_x = (a[:, 0] >= xmin) & (a[:, 0] <= xmax)
    in_y = (a[:, 1] >= ymin) & (a[:, 1] <= ymax)
    ent_x = np.where(np.isnan(t_lo_x), np.where(in_x, -np.inf, np.inf), np.fmin(t_lo_x, t_hi_x))
    ext_x = np.where(np.isnan(t_lo_x), np.where(in_x, np.inf, -np.inf), np.fmax(t_lo_x, t_hi_x))
    ent_y = np.where(np.isnan(t_lo_y), np.where(in_y, -np.inf, np.inf), np.fmin(t_lo_y, t_hi_y))
    ext_y = np.where(np.isnan(t_lo_y), np.where(in_y, np.inf, -np.inf), np.fmax(t_lo_y, t_hi_y))
    t0 = np.maximum(0.0, np.maximum(ent_x, ent_y))
    t1 = np.minimum(1.0, np.minimum(ext_x, ext_y))
    kept = t0 <= t1
    if not kept.any():
        return ([], []) if return_offsets else []
    # ±inf params only occur on dropped segments — zero them so the
    # interpolation below never multiplies inf*0
    t0 = np.where(kept, t0, 0.0)
    t1 = np.where(kept, t1, 0.0)
    c1 = a + t0[:, None] * d
    # an unclipped exit (t1 == 1) is the segment's own endpoint — take b
    # verbatim rather than a + 1.0*d, which is NOT bitwise b in floats
    # (fl(a + (b-a)) != b), both for exact output coords and so the
    # contiguity test below can be parametric instead of coordinate-based
    c2 = np.where((t1 == 1.0)[:, None], b, a + t1[:, None] * d)
    idx = np.flatnonzero(kept)
    # a part break: previous segment missing, or chain broken (clipped).
    # Contiguity is parametric — previous segment ran to its end (t1 == 1)
    # and this one starts at its beginning (t0 == 0), i.e. both touch the
    # shared original vertex.  Comparing clipped COORDS for equality would
    # spuriously split fully-inside polylines on float rounding.
    prev_contig = np.zeros(len(idx), dtype=bool)
    if len(idx) > 1:
        adjacent = idx[1:] == idx[:-1] + 1
        joined = (t1[idx[:-1]] == 1.0) & (t0[idx[1:]] == 0.0)
        prev_contig[1:] = adjacent & joined
    seg_len = np.hypot(d[:, 0], d[:, 1])
    cum_before = np.concatenate([[0.0], np.cumsum(seg_len)[:-1]])
    parts: list[np.ndarray] = []
    offsets: list[float] = []
    start = 0
    for i in range(1, len(idx) + 1):
        if i == len(idx) or not prev_contig[i]:
            seg_ids = idx[start:i]
            # vertices: entry of first segment, then exit of each segment
            part = np.concatenate([c1[seg_ids[:1]], c2[seg_ids]])
            if len(part) >= 2:
                parts.append(part)
                s0 = seg_ids[0]
                offsets.append(float(cum_before[s0] + t0[s0] * seg_len[s0]))
            start = i
    return (parts, offsets) if return_offsets else parts


def clip_rings_np(
    rings: list[np.ndarray], xmin: float, ymin: float, xmax: float, ymax: float
) -> list[np.ndarray]:
    """Clip a polygon's rings (outer first) to a rect.  If the outer ring
    clips away entirely the polygon vanishes (holes can't survive without
    their shell); surviving holes are clipped independently — Sutherland–
    Hodgman against a convex window is exact per ring.  Rings reduced to
    fewer than 3 vertices are dropped."""
    if not rings:
        return []
    outer = clip_ring_np(rings[0], xmin, ymin, xmax, ymax)
    if len(outer) < 3:
        return []
    out = [outer]
    for hole in rings[1:]:
        c = clip_ring_np(hole, xmin, ymin, xmax, ymax)
        if len(c) >= 3:
            out.append(c)
    return out



def areal_interpolate(
    polys,
    *,
    id_col: str = "poly_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
    value_col: str = "value",
    cell_size: int = 4,
):
    """Areal-weighted interpolation (the dasymetric/zonal reaggregation
    step): allocate each polygon's value onto the grid cells it overlaps,
    proportionally to the EXACT intersection area — the standard answer to
    "re-aggregate census polygons onto the tile grid".

    -> one row per (polygon, overlapped cell): ``(id, cell_x, cell_y,
    area, weight, alloc)`` with ``weight = area / sum(area over the
    polygon)`` (weights sum to exactly 1 per polygon — normalizing by the
    clipped-area total, not the analytic polygon area, keeps holes and
    numeric dust out of the denominator) and ``alloc = value * weight``.

    Plan shape: candidate cells come from the polygon's own bbox — two
    ``sequence()`` explodes, output-proportional, no join; the exact
    intersection is ``clip_ring_np`` (the tiler's vectorized
    Sutherland-Hodgman) + shoelace inside ONE Arrow-batched pandas UDF;
    the only shuffle is the per-polygon normalization window.  Zero-area
    boundary cells are filtered AFTER clipping, so touching-but-disjoint
    cells never emit.  At 10^12 polygons the fan-out is bbox-bounded and
    the hot key is the polygon id — no global state anywhere.

    Bit-reproducibility precondition: ``weight``/``alloc`` divide by the
    per-polygon window SUM of clipped areas, and that sum's row order
    follows the physical partitioning (the input is fanned to data-sized
    width).  When every clipped area is exact in double — integer or
    dyadic ring coordinates clipped at integer cell bounds, as every
    current caller ships — the sum is exact in any order and results are
    bit-identical across partitionings.  Callers with general float
    coordinates get last-ulp weight variance across cluster widths (the
    usual unordered-float-aggregation caveat; sum(area) itself, not this
    operator, is the boundary).
    """
    if cell_size <= 0:
        raise ValueError(f"cell_size must be > 0, got {cell_size}")
    import pandas as pd
    from pyspark.sql import Window

    # Fan the scan out BEFORE the bbox explode + clip UDF: the kernel is a
    # per-row Python Sutherland-Hodgman (~0.1 ms/row after the ~6x cell
    # fan-out), so a single-row-group parquet input would otherwise run the
    # whole clip serially in the 1-task scan (measured 5.1 s -> 1.2 s at
    # sf0.1; same disease and same 16 KB/task density as the tiler's line/
    # polygon featurizers).  Row-order bit-safety: see the docstring's
    # exactness precondition on the per-polygon window SUM.
    polys = fan_out(polys, chunk=16 * 1024)

    cs = int(cell_size)

    @F.pandas_udf("double")
    def _clip_area(xs, ys, cx, cy):
        out = np.zeros(len(xs), dtype=np.float64)
        cxv = cx.to_numpy()
        cyv = cy.to_numpy()
        for i in range(len(xs)):
            ring = np.column_stack(
                [np.asarray(xs[i], dtype=np.float64), np.asarray(ys[i], dtype=np.float64)]
            )
            if len(ring) < 3:
                continue
            c = clip_ring_np(
                ring,
                cxv[i] * cs, cyv[i] * cs,
                (cxv[i] + 1) * cs, (cyv[i] + 1) * cs,
            )
            if len(c) < 3:
                continue
            x, y = c[:, 0], c[:, 1]
            out[i] = abs(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)) / 2.0
        return pd.Series(out)

    xs, ys = F.col(xs_col), F.col(ys_col)
    cands = (
        polys.withColumn(
            "_cx",
            F.explode(
                F.sequence(
                    F.floor(F.array_min(xs) / cs).cast("long"),
                    F.floor(F.array_max(xs) / cs).cast("long"),
                )
            ),
        )
        .withColumn(
            "_cy",
            F.explode(
                F.sequence(
                    F.floor(F.array_min(ys) / cs).cast("long"),
                    F.floor(F.array_max(ys) / cs).cast("long"),
                )
            ),
        )
        .withColumn("area", _clip_area(xs, ys, F.col("_cx"), F.col("_cy")))
        .filter(F.col("area") > 0.0)
    )
    w = Window.partitionBy(id_col)
    weight = F.col("area") / F.sum("area").over(w)
    return cands.select(
        F.col(id_col),
        F.col("_cx").alias("cell_x"),
        F.col("_cy").alias("cell_y"),
        "area",
        weight.alias("weight"),
        (F.col(value_col) * weight).alias("alloc"),
    )
