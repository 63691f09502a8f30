"""Per-feature geometry metrics over vertex-array columns: shoelace area,
centroid, perimeter, vertex count.

The reference keeps per-feature geometry as vertex runs and computes signed
ring area for winding-order decisions (src/mapbox/vectorLayer.ts signedArea,
mirrored in codec/mvt.py:20); this module lifts the same arithmetic to
table scale as a relational aggregate: explode the ring once, compute the
shoelace / centroid cross terms against the cyclic successor vertex, and
reduce with one partial-agg shuffle — no UDF, verbatim SQL (driver oracle
`polygon_metrics`).

Cross-engine determinism contract: polygon coordinates are QUANTIZED
integers (the tile grid — extent-quantized exactly like the codec), so
every shoelace / centroid cross term is an integer-valued double and their
sums are EXACT in any accumulation order — no sorted fold needed.  The one
irrational quantity, the perimeter's per-edge sqrt, is reduced with the
repo's sorted-fold pattern (sort_array + aggregate; DuckDB twin:
list_sum(list_sort(...))) so Spark and DuckDB produce bit-identical
doubles.

Conventions: rings may be passed open (first vertex not repeated) — the
cyclic successor closes them implicitly; a closed ring (duplicate last
vertex) yields identical sums because its wrap edge is degenerate.  Signed
area is positive for counter-clockwise rings in y-up coordinates (the
shoelace sign; tile-grid y-down flips the visual interpretation, same as
the reference's signedArea).  Centroid is the area centroid; degenerate
(zero-area) rings fall back to the vertex mean, flagged in ``degenerate``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._pins import Pins


def dissolve_boundary(
    df: DataFrame,
    group_cols: list[str],
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """Polygon dissolve (union of a tessellation) by boundary extraction:
    -> one row per OUTER-BOUNDARY edge, ``(*group_cols, x1, y1, x2, y2)``
    with canonical (lexicographically ordered) integer endpoints.

    Contract: within a group, the input rings form a valid tessellation —
    shared edges coincide EXACTLY (same endpoint pair, as produced by
    grid-derived polygons: marching-squares output, zonal cells, tile
    rectangles) and no ring is duplicated.  Then every interior edge is
    used exactly twice (once per side) and cancels; edges used once are
    the dissolved shape's boundary (holes included — they are boundary
    too).  Coordinates must be quantized integers (the tile grid), making
    edge identity exact — no float tolerance anywhere.

    Shape at 100 TB: the cyclic successor is computed MAP-SIDE with array
    ops (slice + arrays_zip — no per-ring window, so no shuffle before
    the reduction); the only shuffle is the partial-aggregated edge-use
    count on (group, edge).  A country-sized group with 10^8 cells is
    just a bigger hash-aggregate key range, not a skew hazard (edges are
    near-unique keys).

    Degenerate zero-length edges (closed rings that repeat the last
    vertex, single-vertex rings) are dropped before counting; rings with
    < 2 vertices contribute nothing.
    """
    n = F.size(F.col(xs_col))
    xs2 = F.concat(
        F.slice(F.col(xs_col), F.lit(2), n - 1), F.slice(F.col(xs_col), 1, 1)
    )
    ys2 = F.concat(
        F.slice(F.col(ys_col), F.lit(2), n - 1), F.slice(F.col(ys_col), 1, 1)
    )
    ex = df.where(n >= 2).select(
        *group_cols,
        F.explode(
            F.arrays_zip(
                F.col(xs_col).alias("x"),
                F.col(ys_col).alias("y"),
                xs2.alias("xn"),
                ys2.alias("yn"),
            )
        ).alias("_e"),
    ).select(
        *group_cols,
        F.col("_e.x").cast("long").alias("_x"),
        F.col("_e.y").cast("long").alias("_y"),
        F.col("_e.xn").cast("long").alias("_xn"),
        F.col("_e.yn").cast("long").alias("_yn"),
    )
    fwd = (F.col("_x") < F.col("_xn")) | (
        (F.col("_x") == F.col("_xn")) & (F.col("_y") < F.col("_yn"))
    )
    canon = ex.where((F.col("_x") != F.col("_xn")) | (F.col("_y") != F.col("_yn"))).select(
        *group_cols,
        F.when(fwd, F.col("_x")).otherwise(F.col("_xn")).alias("x1"),
        F.when(fwd, F.col("_y")).otherwise(F.col("_yn")).alias("y1"),
        F.when(fwd, F.col("_xn")).otherwise(F.col("_x")).alias("x2"),
        F.when(fwd, F.col("_yn")).otherwise(F.col("_y")).alias("y2"),
    )
    return (
        canon.groupBy(*group_cols, "x1", "y1", "x2", "y2")
        .agg(F.count("*").alias("_uses"))
        .where(F.col("_uses") == 1)
        .drop("_uses")
    )


def polygon_metrics(
    df: DataFrame,
    id_cols: list[str],
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """-> ``(*id_cols, n_vertices, area, perimeter, cx, cy, degenerate)``.

    ``xs_col``/``ys_col`` are equal-length numeric arrays (one ring per
    row).  area = signed shoelace / 2; (cx, cy) = area centroid (vertex
    mean when |area| = 0); perimeter = sum of edge lengths including the
    closing edge.  One explode + one partial-agg shuffle; all sums except
    the perimeter fold are exact integer arithmetic in doubles.

    Degenerate 1- and 2-vertex rings (common after aggressive clipping /
    simplification upstream) are NOT dropped: they come back with area 0,
    ``degenerate`` = 1, centroid = vertex mean, and the cyclic perimeter
    (2·|ab| for a 2-vertex ring, 0 for a single vertex) — every input row
    keeps exactly one output row, so join-backs never lose features.
    Empty rings (0 vertices) are the only rows filtered."""
    n = F.size(F.col(xs_col))
    ex = (
        df.withColumn("_n", n)
        .where(F.col("_n") >= 1)
        .select(
            *id_cols,
            "_n",
            F.posexplode(F.arrays_zip(F.col(xs_col), F.col(ys_col))).alias(
                "_i", "_v"
            ),
        )
        .select(
            *id_cols,
            "_n",
            "_i",
            F.col(f"_v.{xs_col}").cast("double").alias("_x"),
            F.col(f"_v.{ys_col}").cast("double").alias("_y"),
        )
    )
    w = Window.partitionBy(*id_cols).orderBy("_i")
    nxt_x = F.lead("_x").over(w)
    nxt_y = F.lead("_y").over(w)
    first_x = F.first("_x").over(
        Window.partitionBy(*id_cols).orderBy("_i").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    first_y = F.first("_y").over(
        Window.partitionBy(*id_cols).orderBy("_i").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    edges = ex.select(
        *id_cols,
        "_n",
        "_x",
        "_y",
        F.coalesce(nxt_x, first_x).alias("_xn"),
        F.coalesce(nxt_y, first_y).alias("_yn"),
    ).withColumn("_cross", F.col("_x") * F.col("_yn") - F.col("_xn") * F.col("_y"))
    agg = edges.groupBy(*id_cols).agg(
        F.first("_n").alias("n_vertices"),
        (F.sum("_cross") / F.lit(2.0)).alias("area"),
        F.sum((F.col("_x") + F.col("_xn")) * F.col("_cross")).alias("_cxs"),
        F.sum((F.col("_y") + F.col("_yn")) * F.col("_cross")).alias("_cys"),
        F.avg("_x").alias("_mx"),
        F.avg("_y").alias("_my"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.sqrt(
                        (F.col("_xn") - F.col("_x")) * (F.col("_xn") - F.col("_x"))
                        + (F.col("_yn") - F.col("_y")) * (F.col("_yn") - F.col("_y"))
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("perimeter"),
    )
    deg = F.col("area") == 0.0
    return agg.select(
        *id_cols,
        F.col("n_vertices").cast("int").alias("n_vertices"),
        "area",
        "perimeter",
        F.when(deg, F.col("_mx"))
        .otherwise(F.col("_cxs") / (F.lit(6.0) * F.col("area")))
        .alias("cx"),
        F.when(deg, F.col("_my"))
        .otherwise(F.col("_cys") / (F.lit(6.0) * F.col("area")))
        .alias("cy"),
        deg.cast("int").alias("degenerate"),
    )


def line_interpolate(
    lines: DataFrame,
    *,
    fraction: float,
    id_col: str = "line_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """Point at ``fraction`` of each polyline's length -> (id, x, y,
    total_len): the label-anchor / midpoint primitive for line layers
    (place a road name at 50%, a chevron every k%).

    Semantics: arc-length parameterization over the vertex chain;
    zero-length segments are skipped (the point lands on the next real
    segment); degenerate lines (single vertex, or all vertices equal)
    anchor at the FIRST vertex with total_len 0; empty vertex arrays
    yield null coordinates.

    Scale + determinism shape: segments are built INSIDE the array
    (slice+zip, the bigram-adjacency trick — map-side, no self-join);
    ONE window shuffle on the line key computes the running length in
    vertex order (sequential IEEE adds both engines replay exactly —
    cumulative sums must NOT be reassociated, so this is a window, not
    an agg); the containing segment is the row_number()=1 candidate and
    interpolation is pure column math.  ``t_seg = (target - cum_prev) /
    len`` is exact at the clamp points: target <= cum guarantees
    t_seg <= 1 and first-candidate selection guarantees cum_prev <
    target, so no epsilon handling is needed.
    """
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    # ragged xs/ys would null-pad arrays_zip and SILENTLY skip segments in
    # the running sum — fail the job loudly instead (guard woven into the
    # slice length so projection pruning cannot drop it)
    nseg = F.when(
        F.size(xs_col) != F.size(ys_col),
        F.raise_error(
            F.concat(
                F.lit("line_interpolate: ragged vertex arrays (|xs|="),
                F.size(xs_col).cast("string"),
                F.lit(", |ys|="),
                F.size(ys_col).cast("string"),
                F.lit(") for "),
                F.col(id_col).cast("string"),
            )
        ).cast("int"),
    ).otherwise(F.greatest(F.size(xs_col) - 1, F.lit(0)))
    segs = lines.select(
        id_col,
        F.posexplode(
            F.arrays_zip(
                F.slice(F.col(xs_col), 1, nseg).alias("x1"),
                F.slice(F.col(ys_col), 1, nseg).alias("y1"),
                F.slice(F.col(xs_col), 2, nseg).alias("x2"),
                F.slice(F.col(ys_col), 2, nseg).alias("y2"),
            )
        ).alias("i", "s"),
    ).select(
        id_col,
        "i",
        F.col("s.x1").alias("x1"),
        F.col("s.y1").alias("y1"),
        F.col("s.x2").alias("x2"),
        F.col("s.y2").alias("y2"),
    )
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    seg_len = F.sqrt(dx * dx + dy * dy)
    run = (
        Window.partitionBy(id_col)
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy(id_col)
    segs = (
        segs.withColumn("len", seg_len)
        .withColumn("cum", F.sum("len").over(run))
        # lengths are >= 0 so the running sum is nondecreasing: max == the
        # final cumulative value, and max is order-independent
        .withColumn("total", F.max("cum").over(whole))
    )
    target = F.lit(float(fraction)) * F.col("total")
    cand = segs.where((F.col("cum") >= target) & (F.col("len") > 0.0))
    w1 = Window.partitionBy(id_col).orderBy("i")
    hit = (
        cand.withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") == 1)
        .withColumn("_t", (target - (F.col("cum") - F.col("len"))) / F.col("len"))
        .select(
            id_col,
            (F.col("x1") + F.col("_t") * (F.col("x2") - F.col("x1"))).alias("_hx"),
            (F.col("y1") + F.col("_t") * (F.col("y2") - F.col("y1"))).alias("_hy"),
            F.col("total").alias("_tl"),
        )
    )
    # degenerate fallback: no qualifying segment (single vertex / all
    # zero-length) -> first vertex; empty arrays -> nulls (F.get is
    # out-of-bounds-safe where element_at would raise under ANSI)
    return lines.select(
        id_col, F.get(xs_col, 0).alias("_fx"), F.get(ys_col, 0).alias("_fy")
    ).join(hit, id_col, "left").select(
        id_col,
        F.coalesce("_hx", "_fx").alias("x"),
        F.coalesce("_hy", "_fy").alias("y"),
        F.coalesce("_tl", F.lit(0.0)).alias("total_len"),
    )


def _hull_chain_np(xs, ys):
    """Andrew monotone chain, STRICT turns: returns the hull vertices in
    CCW order starting at the lexicographically smallest point; collinear
    boundary points and duplicates are excluded (they are convex
    combinations of the corners, never strict vertices)."""
    import numpy as np

    pts = np.unique(np.stack([np.asarray(xs), np.asarray(ys)], axis=1), axis=0)
    if len(pts) <= 2:
        return pts

    def _half(ps):
        h = []
        for p in ps:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = _half(pts)
    upper = _half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def group_convex_hull(
    points: DataFrame,
    *,
    group_cols: list[str],
    x_col: str = "x",
    y_col: str = "y",
    prefilter: bool = True,
) -> DataFrame:
    """Strict convex hull per group -> (group..., vertex_idx, x, y), CCW
    from the lexicographically smallest vertex.  Collinear boundary
    points and duplicates are not vertices; a 1-point group emits one
    row, a collinear group its two extremes.

    Scale shape (the classic distributed hull):
    1. *local prune* (mapInPandas, map-side, optional): each Arrow batch
       replaces every group's points with that batch's local hull —
       correct because hull(S1 ∪ S2) = hull(hull(S1) ∪ hull(S2)), and a
       point strictly inside a local hull is a convex combination of
       other points, so it can never be a strict vertex of any superset.
       Shuffle input drops from O(N) to O(h · batches) rows per group.
    2. *group chain* (applyInPandas): monotone chain over the surviving
       handful of candidates per group.

    The hull itself is sequential, so this is the declared Pandas-UDF
    escape hatch — but only ever over prefiltered, hull-sized data.
    Exactness: integer-valued coordinates keep every cross product exact
    in float64 (|coord| < 2^26); the driver oracle re-derives the vertex
    set relationally (the O(n^3) all-pairs edge test) — an independent
    algorithm, not a chain replay.
    """
    import pandas as pd

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    sel = points.select(*group_cols, x_col, y_col)

    def _prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            # dropna=False: Spark's groupBy keeps a null-keyed group, so
            # the prune stage must too or prefilter=True would silently
            # drop whole groups with null keys
            for key, g in pdf.groupby(list(group_cols), sort=False, dropna=False):
                hull = _hull_chain_np(
                    g[x_col].to_numpy(), g[y_col].to_numpy()
                )
                kv = key if isinstance(key, tuple) else (key,)
                out = pd.DataFrame(
                    {x_col: hull[:, 0], y_col: hull[:, 1]}
                )
                for c, v in zip(group_cols, kv):
                    out[c] = v
                outs.append(out[list(pdf.columns)])
            yield pd.concat(outs, ignore_index=True)

    if prefilter:
        sel = sel.mapInPandas(_prune, sel.schema)

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in sel.schema if f.name in group_cols]
        + ["vertex_idx int", f"{x_col} double", f"{y_col} double"]
    )

    def _hull(key, pdf):
        hull = _hull_chain_np(pdf[x_col].to_numpy(), pdf[y_col].to_numpy())
        res = pd.DataFrame({c: [v] * len(hull) for c, v in zip(group_cols, key)})
        res["vertex_idx"] = pd.array(range(len(hull)), dtype="int32")
        res[x_col] = hull[:, 0].astype(float)
        res[y_col] = hull[:, 1].astype(float)
        return res

    return sel.groupBy(*group_cols).applyInPandas(_hull, out_schema)


def _orient(
    ax: Column, ay: Column, bx: Column, by: Column, px: Column, py: Column
) -> Column:
    """Sign-carrying integer cross product (b-a) x (p-a) — exact orientation."""
    return (bx - ax) * (py - ay) - (by - ay) * (px - ax)


def segment_intersection_join(
    segs: DataFrame,
    *,
    cell_size: int = 32,
    id_col: str = "seg_id",
    coords: tuple[str, str, str, str] = ("x1", "y1", "x2", "y2"),
) -> DataFrame:
    """All intersecting segment pairs ``(seg_a, seg_b)`` with seg_a < seg_b
    — endpoint touching and collinear overlap count as intersecting.

    The road-network / boundary-conflation primitive (where do two layers'
    linework cross?), done as a relational self-join — no sweep line, no
    UDF, no R-tree build:

    1. each segment explodes to its bbox's grid-cell cover (two bounded
       ``sequence`` generators — map-side, whole-stage codegen);
    2. candidate pairs come from ONE equi-join on the cell key — the only
       shuffle, hash-partitioned and AQE-skew-splittable;
    3. a pair sharing several cells is kept exactly once WITHOUT a
       distinct shuffle: only the report cell — the smallest cell of the
       two bboxes' intersection, ``(max(min_cx), max(min_cy))``, which
       both sides can compute locally — emits the pair;
    4. the exact test is the classic integer orientation predicate
       (cross-product signs + collinear bbox-overlap fallback) — exact in
       int64 for quantized coords, identical arithmetic on any engine.

    The DuckDB oracle runs the SAME predicate over the full length-bounded
    cross join, independently pinning the cell prefilter as loss-free.
    Coordinates must be non-negative longs (tile-grid quantized) so the
    floor/div cell math agrees across engines.
    """
    if cell_size <= 0:
        raise ValueError(f"cell_size must be positive, got {cell_size}")
    x1, y1, x2, y2 = [F.col(c).cast("long") for c in coords]
    cs = F.lit(int(cell_size))
    lo_x, hi_x = F.least(x1, x2), F.greatest(x1, x2)
    lo_y, hi_y = F.least(y1, y2), F.greatest(y1, y2)
    base = segs.select(
        F.col(id_col).alias("_id"),
        x1.alias("_x1"), y1.alias("_y1"), x2.alias("_x2"), y2.alias("_y2"),
        # floor, not cast-truncation: a cast rounds toward zero, so negative
        # coordinates would land one cell too high and intersecting pairs
        # straddling the origin would be silently missed
        F.floor(lo_x / cs).cast("long").alias("_cx0"),
        F.floor(hi_x / cs).cast("long").alias("_cx1"),
        F.floor(lo_y / cs).cast("long").alias("_cy0"),
        F.floor(hi_y / cs).cast("long").alias("_cy1"),
    )
    cells = base.withColumn(
        "_cx", F.explode(F.sequence(F.col("_cx0"), F.col("_cx1")))
    ).withColumn("_cy", F.explode(F.sequence(F.col("_cy0"), F.col("_cy1"))))
    a = cells.select(*[F.col(c).alias(f"a{c}") for c in cells.columns])
    b = cells.select(*[F.col(c).alias(f"b{c}") for c in cells.columns])
    pairs = a.join(
        b,
        (F.col("a_cx") == F.col("b_cx"))
        & (F.col("a_cy") == F.col("b_cy"))
        & (F.col("a_id") < F.col("b_id"))
        # report-cell dedup: both sides know their bbox min cell, so the
        # smallest shared candidate cell is computable without a distinct
        & (F.col("a_cx") == F.greatest("a_cx0", "b_cx0"))
        & (F.col("a_cy") == F.greatest("a_cy0", "b_cy0")),
    )
    ax, ay, bx, by = (F.col("a_x1"), F.col("a_y1"), F.col("a_x2"), F.col("a_y2"))
    cx, cy, dx, dy = (F.col("b_x1"), F.col("b_y1"), F.col("b_x2"), F.col("b_y2"))
    d1 = _orient(cx, cy, dx, dy, ax, ay)
    d2 = _orient(cx, cy, dx, dy, bx, by)
    d3 = _orient(ax, ay, bx, by, cx, cy)
    d4 = _orient(ax, ay, bx, by, dx, dy)
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )

    def _on_seg(px, py, qx, qy, rx, ry):
        return (
            (F.least(px, qx) <= rx) & (rx <= F.greatest(px, qx))
            & (F.least(py, qy) <= ry) & (ry <= F.greatest(py, qy))
        )

    touch = (
        ((d1 == 0) & _on_seg(cx, cy, dx, dy, ax, ay))
        | ((d2 == 0) & _on_seg(cx, cy, dx, dy, bx, by))
        | ((d3 == 0) & _on_seg(ax, ay, bx, by, cx, cy))
        | ((d4 == 0) & _on_seg(ax, ay, bx, by, dx, dy))
    )
    return pairs.where(proper | touch).select(
        F.col("a_id").alias("seg_a"), F.col("b_id").alias("seg_b")
    )



def line_merge(
    segments: DataFrame,
    *,
    seg_col: str = "seg_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    max_chain_len: int = 1 << 16,
) -> DataFrame:
    """ST_LineMerge analogue: stitch touching 2-point segments into maximal
    chains.  Two segment ends WELD when their shared endpoint has degree
    exactly 2 (and the two ends belong to different segments); junctions
    (degree >= 3), free ends, and self-loops all break chains.  Closed
    rings — components where every end welds — are FLAGGED, not ranked
    (``is_ring = true``, null chain columns): a ring has no canonical
    head, and downstream tiling usually wants rings routed to the polygon
    path anyway.

    -> one row per segment: ``(seg_id, chain_id, pos, chain_len,
    is_ring)`` where ``chain_id`` is the head segment's id, ``pos`` is the
    0-based rank along the chain from the head, and the head is the
    direction start with the smallest (seg_id, end) key — deterministic
    across runs, partitionings, and engines.

    Algorithm — directed half-edge pointer doubling, no per-chain walk:
    a traversal STATE is (segment, entry_end); its successor is the state
    entered through the weld at the exit end.  Chains of length L resolve
    in ceil(log2 L) self-join rounds (the redirect-resolution recipe,
    operators/redirects.py), each ONE shuffle on the jump key with
    per-round localCheckpoint + free.  The rank math is then SEG-LOCAL:
    for a segment's two states u0/u1 with terminal states t0/t1 and
    distances d0/d1, the two direction heads are flip(t1)/flip(t0)
    (flip = XOR 1 on the state key), the canonical head is their min,
    pos = the OPPOSITE state's distance, and chain_len = d0 + d1 + 1 —
    no join against a chain table at all.  State count is exactly 2 rows
    per segment; payloads never travel.

    The reference's tile pipeline has no cross-feature geometry assembly
    (features are encoded independently — open-vector-tile
    writeOVLayer path); this operator extends the engine for the
    generalization step a 100 TB road/boundary corpus needs before
    per-zoom simplification.
    """
    if max_chain_len < 1:
        raise ValueError(f"max_chain_len must be >= 1, got {max_chain_len}")
    import math

    seg = F.col(seg_col).cast("long")
    node0 = F.concat_ws(",", F.col(ax), F.col(ay))
    node1 = F.concat_ws(",", F.col(bx), F.col(by))
    ends = segments.select(
        seg.alias("seg"), F.lit(0).alias("e"), node0.alias("node")
    ).unionByName(
        segments.select(
            seg.alias("seg"), F.lit(1).alias("e"), node1.alias("node")
        )
    )
    # weld nodes: exactly two incident ends, from two DIFFERENT segments
    # (a self-loop contributes both its ends; min.seg == max.seg kills it)
    pairs = (
        ends.groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("deg"),
            F.min(F.struct("seg", "e")).alias("lo"),
            F.max(F.struct("seg", "e")).alias("hi"),
        )
        .filter((F.col("deg") == 2) & (F.col("lo.seg") != F.col("hi.seg")))
    )
    # state key = seg*2 + entry_end; the state EXITING at end e of seg s is
    # s*2 + (1-e), and it continues into the weld partner entered at ITS end
    succ = pairs.select(
        (F.col("lo.seg") * 2 + (1 - F.col("lo.e"))).alias("st"),
        (F.col("hi.seg") * 2 + F.col("hi.e")).alias("succ"),
    ).unionByName(
        pairs.select(
            (F.col("hi.seg") * 2 + (1 - F.col("hi.e"))).alias("st"),
            (F.col("lo.seg") * 2 + F.col("lo.e")).alias("succ"),
        )
    )
    with Pins() as pins:
        states = pins.pin(
            segments.select(F.explode(F.array(seg * 2, seg * 2 + 1)).alias("st"))
            .join(succ, on="st", how="left")
            .select(
                "st",
                F.col("succ").alias("nxt"),
                F.when(F.col("succ").isNull(), F.col("st")).alias("term"),
                F.when(F.col("succ").isNull(), F.lit(0))
                .otherwise(F.lit(1))
                .cast("long")
                .alias("d"),
            )
        )
        rounds = max(1, math.ceil(math.log2(max(2, max_chain_len)))) + 1
        for _ in range(rounds):
            hop = states.select(
                F.col("st").alias("nxt"),
                F.col("nxt").alias("_n2"),
                F.col("term").alias("_t2"),
                F.col("d").alias("_d2"),
            )
            stepped = pins.pin(
                states.join(hop, on="nxt", how="left").select(
                    "st",
                    F.when(F.col("term").isNotNull(), F.lit(None).cast("long"))
                    .otherwise(F.col("_n2"))
                    .alias("nxt"),
                    F.coalesce(F.col("term"), F.col("_t2")).alias("term"),
                    F.when(F.col("term").isNotNull(), F.col("d"))
                    .otherwise(F.col("d") + F.coalesce(F.col("_d2"), F.lit(0)))
                    .alias("d"),
                )
            )
            pending = stepped.filter(F.col("term").isNull()).count()
            pins.free(states)
            states = stepped
            if pending == 0:
                break
        pins.keep(states)  # the seg assembly below reads it
    # ring states never resolve within the budget: term stays null.  Seg
    # assembly: pivot the two states onto one row, then pure column math.
    per_seg = (
        states.groupBy((F.col("st") / 2).cast("long").alias("seg"))
        .agg(
            F.max(F.when(F.col("st") % 2 == 0, F.col("term"))).alias("t0"),
            F.max(F.when(F.col("st") % 2 == 0, F.col("d"))).alias("d0"),
            F.max(F.when(F.col("st") % 2 == 1, F.col("term"))).alias("t1"),
            F.max(F.when(F.col("st") % 2 == 1, F.col("d"))).alias("d1"),
            F.max(F.when(F.col("st") % 2 == 0, F.col("term").isNull())).alias(
                "r0"
            ),
            F.max(F.when(F.col("st") % 2 == 1, F.col("term").isNull())).alias(
                "r1"
            ),
        )
    )
    f0 = F.col("t1").bitwiseXOR(F.lit(1))  # head state of direction 0
    f1 = F.col("t0").bitwiseXOR(F.lit(1))  # head state of direction 1
    is_ring = F.col("r0") | F.col("r1")
    head = F.least(f0, f1)
    return per_seg.select(
        F.col("seg").alias(seg_col),
        F.when(~is_ring, (head / 2).cast("long")).alias("chain_id"),
        F.when(
            ~is_ring, F.when(f0 <= f1, F.col("d1")).otherwise(F.col("d0"))
        ).alias("pos"),
        F.when(~is_ring, F.col("d0") + F.col("d1") + 1).alias("chain_len"),
        is_ring.alias("is_ring"),
        # canonical-direction state of this seg: direction 0 iff its head is
        # the canonical one — direction 0 enters at end 0, i.e. traverses
        # a->b; null for rings
        F.when(~is_ring, f0 <= f1).alias("forward"),
    )


def merge_chain_points(
    segments: DataFrame,
    merged: DataFrame,
    *,
    seg_col: str = "seg_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
) -> DataFrame:
    """Materialize ``line_merge`` chains as ordered vertex arrays:
    -> (chain_id, n_segs, xs, ys) with each segment contributing its
    points in traversal orientation (``forward`` a->b, else b->a) and the
    shared weld vertex deduplicated, so a chain of n segments yields
    n + 1 vertices.  Ring-flagged segments are excluded (no canonical
    order to materialize).

    ONE shuffle on chain_id; the per-chain sort is a sorted partial
    aggregation (array_sort over (pos, points) structs), so chains never
    hit a window or a driver loop.
    """
    j = merged.filter(~F.col("is_ring")).join(
        segments.select(
            F.col(seg_col).cast("long").alias(seg_col),
            F.col(ax).alias("_ax"),
            F.col(ay).alias("_ay"),
            F.col(bx).alias("_bx"),
            F.col(by).alias("_by"),
        ),
        on=seg_col,
    )
    first = F.when(F.col("forward"), F.struct(F.col("_ax").alias("x"), F.col("_ay").alias("y"))).otherwise(
        F.struct(F.col("_bx").alias("x"), F.col("_by").alias("y"))
    )
    second = F.when(F.col("forward"), F.struct(F.col("_bx").alias("x"), F.col("_by").alias("y"))).otherwise(
        F.struct(F.col("_ax").alias("x"), F.col("_ay").alias("y"))
    )
    rows = j.select(
        "chain_id",
        F.col("pos"),
        # the head segment contributes both vertices; every later segment
        # only its EXIT vertex (its entry equals the previous exit)
        F.when(
            F.col("pos") == 0, F.array(first, second)
        ).otherwise(F.array(second)).alias("pts"),
    )
    agg = rows.groupBy("chain_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("pts")))
                ),
                lambda s: s["pts"],
            )
        ).alias("_pts"),
    )
    return agg.select(
        "chain_id",
        "n_segs",
        F.transform(F.col("_pts"), lambda p: p["x"]).alias("xs"),
        F.transform(F.col("_pts"), lambda p: p["y"]).alias("ys"),
    )



def fix_winding(
    df: DataFrame,
    *,
    xs_col: str = "xs",
    ys_col: str = "ys",
    hole_col: str | None = None,
    outer_positive: bool = True,
) -> DataFrame:
    """Polygon ring hygiene before tiling (the reference encoder assumes
    sane rings — classifyRings/signedArea, reference codec/mvt paths):
    normalize each ring row in ONE map-side pass, no shuffle, no Python.

    Three repairs, in order:
    1. drop an explicit closing vertex (last == first) — rings are stored
       open, closure is implicit;
    2. drop consecutive duplicate vertices (simplification/clip residue);
    3. reverse the ring when its signed area has the wrong sign for its
       role: outers must satisfy ``area2 > 0`` when ``outer_positive``
       (shoelace, y-up; pass False for y-down tile space), holes the
       opposite.  ``hole_col`` names an optional boolean column; absent
       means every row is an outer.  Zero-area (collinear) rings are
       never reversed.

    Appends ``xs_fixed, ys_fixed, area2, reversed, n_dropped,
    degenerate`` (degenerate = fewer than 3 distinct vertices after
    cleaning; such rings are returned cleaned but unreversed).  ``area2``
    is TWICE the signed area after repair — exact integer arithmetic for
    integer coordinates.
    """
    is_hole = F.col(hole_col) if hole_col else F.lit(False)

    # Every intermediate array below is MATERIALIZED as a column before it
    # is referenced again (r6, guide 1.2/7.3 planning-time): the original
    # single nested expression spelled each intermediate out at every use
    # site — `clean` alone appeared six times, each copy carrying the
    # whole dedup-filter subtree, which carried `opened` twice, which
    # carried `pts0` three times — an exponentially sized tree that cost
    # the DRIVER 10-27 s of analysis/optimization per query (measured:
    # one 6-vertex row took 27 s wall, all planning).  Named columns keep
    # the tree linear; CollapseProject declines to inline a non-cheap
    # alias referenced more than once, so the shape survives
    # optimization.  The per-row expressions are identical — results are
    # unchanged (winding tests + fix_winding oracle pin this).
    pts0 = F.zip_with(
        F.col(xs_col).cast("array<long>"),
        F.col(ys_col).cast("array<long>"),
        lambda x, y: F.struct(x.alias("x"), y.alias("y")),
    )
    tmp = df.withColumn("_pts0", pts0)
    n0 = F.size(F.col("_pts0"))
    # 1. explicit closure: drop the last vertex when it equals the first
    closed = (n0 >= 2) & (
        F.element_at(F.col("_pts0"), -1) == F.element_at(F.col("_pts0"), 1)
    )
    tmp = tmp.withColumn(
        "_opened",
        F.when(closed, F.slice(F.col("_pts0"), 1, n0 - 1)).otherwise(
            F.col("_pts0")
        ),
    )
    # 2. keep index 0 and every vertex different from its predecessor; the
    # when() guard keeps element_at(pts, 0) (an ANSI error — SQL arrays
    # are 1-based) from ever evaluating on the first element
    tmp = tmp.withColumn(
        "_clean",
        F.filter(
            F.col("_opened"),
            lambda p, i: F.when(i == F.lit(0), F.lit(True)).otherwise(
                p != F.element_at(F.col("_opened"), i)
            ),
        ),
    )
    clean = F.col("_clean")
    n = F.size(clean)
    # cyclic shoelace: pair each vertex with its cyclic successor
    # greatest() guard: slice length must be >= 0 under ANSI even for
    # empty rings
    succ = F.concat(
        F.slice(clean, 2, F.greatest(n - 1, F.lit(0))),
        F.slice(clean, 1, 1),
    )
    tmp = tmp.withColumn(
        "_area2",
        F.aggregate(
            F.zip_with(
                clean,
                succ,
                lambda a, b: a["x"] * b["y"] - b["x"] * a["y"],
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ),
    ).withColumn("_degenerate", F.size(F.array_distinct(clean)) < 3)
    area2 = F.col("_area2")
    degenerate = F.col("_degenerate")
    want_pos = F.lit(bool(outer_positive)) != is_hole  # XOR
    wrong = F.when(want_pos, area2 < 0).otherwise(area2 > 0)
    tmp = tmp.withColumn("_rev", ~degenerate & wrong)
    rev = F.col("_rev")
    tmp = tmp.withColumn("_fixed", F.when(rev, F.reverse(clean)).otherwise(clean))
    fixed = F.col("_fixed")
    tmp = tmp.select(
        "*",
        F.transform(fixed, lambda p: p["x"]).alias("xs_fixed"),
        F.transform(fixed, lambda p: p["y"]).alias("ys_fixed"),
        F.when(rev, -area2).otherwise(area2).alias("area2"),
        rev.alias("reversed"),
        (F.size(F.col("_pts0")) - n).cast("long").alias("n_dropped"),
        degenerate.alias("degenerate"),
    )
    return tmp.drop(
        "_pts0", "_opened", "_clean", "_area2", "_degenerate", "_rev", "_fixed"
    )
