"""Raster gridding (A8) + grid-layer sink (S9).

points-with-value -> per-tile size×size cell means -> ``array<float>`` grid
per tile -> grid layer bytes (codec.write_grid_data semantics: min/max scan,
remap to [0,extent], zigzag-delta, src/open/gridLayer.ts:72-100).

Aggregation is Spark-native hash agg (partial map-side combine, then final):
``groupBy(zoom, tile_x, tile_y, px, py).avg(value)``; only the final
pivot-to-array + byte encode touch Python (Arrow-grouped).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import write_grid_data
from ..functions.geo import tile_project_col

GRID_TILE_SCHEMA = "zoom int, tile_x long, tile_y long, tile binary, n_cells long, n_bytes long"


def _grid_cells(points: DataFrame, zoom: int, size: int, lon: str, lat: str) -> tuple:
    """(points with both coordinates, tile_x, tile_y, px, py): each point's
    tile and its cell of the tile's size×size grid.  A point with a null
    lon or lat has no cell, so it is dropped."""
    lon, lat = F.col(lon), F.col(lat)
    tx, ty, mx, my = tile_project_col(lon, lat, zoom)
    # clamp BOTH ends: merc_y at the MAX_LAT clamp can come out a hair
    # below 0 (-8e-16), making floor() = -1 — a negative index that numpy
    # would silently wrap to the wrong grid cell downstream
    px = F.greatest(F.lit(0), F.least(F.lit(size - 1), F.floor((mx - tx) * size))).cast("int")
    py = F.greatest(F.lit(0), F.least(F.lit(size - 1), F.floor((my - ty) * size))).cast("int")
    return points.where(lon.isNotNull() & lat.isNotNull()), tx, ty, px, py


def grid_aggregate(
    points: DataFrame,
    zoom: int,
    size: int,
    value: str = "value",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """-> (zoom, tile_x, tile_y, px, py, mean_value, n) long-form grid cells.

    One shuffle on the full grid key; avg gets a map-side partial.  Points
    with a null coordinate are not counted.
    """
    points, tx, ty, px, py = _grid_cells(points, zoom, size, lon, lat)
    return (
        points.select(
            F.lit(zoom).alias("zoom"),
            tx.alias("tile_x"),
            ty.alias("tile_y"),
            px.alias("px"),
            py.alias("py"),
            F.col(value).alias("v"),
        )
        .groupBy("zoom", "tile_x", "tile_y", "px", "py")
        .agg(F.avg("v").alias("mean_value"), F.count("*").alias("n"))
    )


def grid_tiles(
    cells: DataFrame, size: int, extent: int = 8192, name: str = "grid", fill: float = 0.0
) -> DataFrame:
    """Long-form cells -> one OVT grid tile per (zoom, tile_x, tile_y)."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        grid = np.full(size * size, fill, dtype=np.float64)
        idx = pdf["py"].to_numpy(dtype=np.int64) * size + pdf["px"].to_numpy(dtype=np.int64)
        grid[idx] = pdf["mean_value"].to_numpy(dtype=np.float64)
        blob = write_grid_data(name, size, grid, extent)
        tile = _wrap_grid_tile(blob)
        return pd.DataFrame(
            {
                "zoom": [int(pdf["zoom"].iloc[0])],
                "tile_x": [int(pdf["tile_x"].iloc[0])],
                "tile_y": [int(pdf["tile_y"].iloc[0])],
                "tile": [tile],
                "n_cells": [len(pdf)],
                "n_bytes": [len(tile)],
            }
        )

    return cells.groupBy("zoom", "tile_x", "tile_y").applyInPandas(encode, GRID_TILE_SCHEMA)


def _wrap_grid_tile(grid_message: bytes) -> bytes:
    """Wrap a grid message as a full tile buffer (field 6, src/vectorTile.ts:177-181)."""
    from ..codec.pbf import PbfWriter

    pbf = PbfWriter()
    pbf.write_bytes_field(6, grid_message)
    return pbf.commit()


def zonal_stats(
    cells: DataFrame,
    zones: DataFrame,
    x: str = "gx",
    y: str = "gy",
    value: str = "v",
    zone_id: str = "zone_id",
) -> DataFrame:
    """Raster zonal statistics: per zone rectangle, aggregate the grid
    cells whose center coordinate falls inside it (closed bounds) —
    count / sum / mean / min / max of ``value`` (value stats skip
    NULL cells; ``n_cells`` counts all joined cells).

    ``zones`` is dim-table sized ``(zone_id, gx_min, gx_max, gy_min,
    gy_max)`` in the same grid coordinates as ``cells`` — it broadcasts, so
    the big raster side never shuffles for the join (the only Exchange is
    the final per-zone partial agg, ≤ n_zones rows after map-side
    combine).  Overlapping zones are fine: a cell contributes to every
    zone containing it.  The range predicate makes this a broadcast
    nested-loop join with a bounded build side; at larger zone counts switch to
    the chunked ``bbox_join`` (degenerate left boxes) which trades the BNL
    for one grid-keyed shuffle per side."""
    cond = (
        (F.col(x) >= F.col("gx_min"))
        & (F.col(x) <= F.col("gx_max"))
        & (F.col(y) >= F.col("gy_min"))
        & (F.col(y) <= F.col("gy_max"))
    )
    j = cells.join(F.broadcast(zones), on=cond, how="inner")
    # n_cells counts every joined cell; the value stats (sum/mean/min/max)
    # are over NON-NULL values only — F.avg skips nulls like min/max do,
    # so mean never mixes a null-skipping numerator with an all-rows count
    return j.groupBy(zone_id).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(value).alias("total"),
        F.avg(value).alias("mean"),
        F.min(value).alias("vmin"),
        F.max(value).alias("vmax"),
    )


def grid_pyramid(
    cells: DataFrame,
    size: int,
    levels: int,
    value_sum: str = "value_sum",
    count: str = "n",
) -> DataFrame:
    """Raster overview pyramid — the grid-layer sibling of the vector
    tile pyramid (GDAL/COG overviews): level k halves resolution k times,
    so a parent cell aggregates a 2^k x 2^k block of base cells, with
    blocks crossing tile borders assembling from up to 4 child tiles.

    Input: long-form base cells (zoom, tile_x, tile_y, px, py) carrying a
    MERGEABLE pair (``value_sum``, ``count``) — means don't average
    across levels, sums and counts do; ``mean_value`` is emitted per
    output cell as sum/count.

    ALL levels in ONE pass: each base cell explodes into `levels` rows
    keyed by its ancestor cell (global-pixel shift arithmetic), then one
    partial-aggregated shuffle builds every overview simultaneously —
    the same one-scan/one-shuffle trick as the vector featurizer
    pyramids, vs one scan per level for the naive loop.  Determinism:
    integer measures sum exactly in any order; float measures are exact
    per IEEE addition order only (use integer-scaled measures where the
    replay matters).

    Requires power-of-two ``size`` (grid sizes in the OVT spec are) and
    emits levels 1..levels with zoom decreasing (rows where the level
    would underflow zoom 0 are dropped per row, so a mixed-zoom input is
    safe)."""
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    if size < 2 or (size & (size - 1)) != 0:
        raise ValueError(f"size must be a power of two >= 2, got {size}")
    k = F.col("_k")
    scale = F.pow(F.lit(2.0), k)  # exact for small integer k
    gx = F.col("tile_x") * size + F.col("px")
    gy = F.col("tile_y") * size + F.col("py")
    gpx = F.floor(gx / scale).cast("long")
    gpy = F.floor(gy / scale).cast("long")
    exploded = (
        cells.select(
            F.explode(F.sequence(F.lit(1), F.lit(levels))).alias("_k"),
            "zoom",
            "tile_x",
            "tile_y",
            "px",
            "py",
            F.col(value_sum).alias("_vs"),
            F.col(count).alias("_n"),
        )
        .filter(F.col("zoom") - k >= 0)
        .select(
            (F.col("zoom") - k).cast("int").alias("zoom"),
            F.floor(gpx / size).cast("long").alias("tile_x"),
            F.floor(gpy / size).cast("long").alias("tile_y"),
            (gpx % size).cast("int").alias("px"),
            (gpy % size).cast("int").alias("py"),
            "_vs",
            "_n",
        )
    )
    out = exploded.groupBy("zoom", "tile_x", "tile_y", "px", "py").agg(
        F.sum("_vs").alias(value_sum), F.sum("_n").alias(count)
    )
    return out.withColumn(
        "mean_value", F.col(value_sum).cast("double") / F.col(count)
    )


def kernel_offsets(
    radius: int, sigma: float, scale: int = 1 << 20
) -> list[tuple[int, int, int]]:
    """Integer-scaled gaussian kernel weights for :func:`heatmap_grid`:
    [(dx, dy, round(exp(-(dx^2+dy^2)/(2 sigma^2)) * scale))], zero-weight
    taps dropped.  Computed ONCE at plan time in python and embedded as
    literals in both the Spark plan and the SQL oracle — exp() never runs
    inside either engine, so there is no libm-parity question and the
    density sums are exact integers."""
    import math

    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    if sigma <= 0:
        raise ValueError(f"sigma must be > 0, got {sigma}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    out = []
    for dx in range(-radius, radius + 1):
        for dy in range(-radius, radius + 1):
            w = round(math.exp(-(dx * dx + dy * dy) / (2.0 * sigma * sigma)) * scale)
            if w > 0:
                out.append((dx, dy, w))
    return out


def heatmap_grid(
    points: DataFrame,
    zoom: int,
    size: int,
    lon: str = "lon",
    lat: str = "lat",
    radius: int = 2,
    sigma: float = 1.0,
    scale: int = 1 << 20,
) -> DataFrame:
    """Kernel-density heatmap on the tile grid — the cartographic layer
    behind every 'activity map': each point splats a gaussian kernel onto
    its neighborhood of grid cells, kernels crossing tile borders land in
    the neighbor tile (global-pixel arithmetic, same as grid_pyramid).

    -> (zoom, tile_x, tile_y, px, py, density_int, density): density_int
    is the EXACT integer sum of scaled kernel taps (deterministic on any
    partitioning/engine); density = density_int / scale.

    Scale shape: pure Catalyst — one explode by the (2r+1)^2 literal
    kernel (taps are plan constants from :func:`kernel_offsets`, no exp()
    at runtime) and ONE partial-aggregated shuffle on the target cell.
    Out-of-world taps are dropped (no wraparound smear at the
    antimeridian — the mercator world does not wrap in pixel space), and
    so are points with a null coordinate."""
    taps = kernel_offsets(radius, sigma, scale)
    world = (1 << zoom) * size
    points, tx, ty, px, py = _grid_cells(points, zoom, size, lon, lat)
    tap_arr = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(w).alias("w"))
            for dx, dy, w in taps
        ]
    )
    base = points.select(
        (tx * size + px).alias("gx"), (ty * size + py).alias("gy"),
        F.explode(tap_arr).alias("t"),
    ).select(
        (F.col("gx") + F.col("t.dx")).alias("tgx"),
        (F.col("gy") + F.col("t.dy")).alias("tgy"),
        F.col("t.w").alias("w"),
    ).filter(
        (F.col("tgx") >= 0) & (F.col("tgx") < world)
        & (F.col("tgy") >= 0) & (F.col("tgy") < world)
    )
    out = (
        base.select(
            F.floor(F.col("tgx") / size).cast("long").alias("tile_x"),
            F.floor(F.col("tgy") / size).cast("long").alias("tile_y"),
            (F.col("tgx") % size).cast("int").alias("px"),
            (F.col("tgy") % size).cast("int").alias("py"),
            "w",
        )
        .groupBy("tile_x", "tile_y", "px", "py")
        .agg(F.sum("w").alias("density_int"))
    )
    return out.select(
        F.lit(zoom).alias("zoom"),
        "tile_x",
        "tile_y",
        "px",
        "py",
        "density_int",
        (F.col("density_int").cast("double") / F.lit(float(scale))).alias("density"),
    )


def idw_grid(
    points: DataFrame,
    *,
    cell_size: float,
    radius: float,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str = "value",
    max_cells_per_point: int = 4096,
) -> DataFrame:
    """Inverse-distance-weighted surface interpolation (Shepard's method,
    power p=2) -> ``(gx, gy, n_pts, est)``: every grid cell whose CENTER
    lies within ``radius`` of at least one sample point gets the estimate
    ``sum(v/d^2) / sum(1/d^2)`` over the in-radius samples; a sample
    exactly AT the center short-circuits to that sample's value (minimum
    value on exact ties — deterministic).

    The point→raster half of the raster↔vector family (grid_aggregate
    bins, idw_grid interpolates — the elevation/temperature-surface op a
    tile server renders as hillshade or isolines via marching_squares).

    Scale shape: each sample explodes to the grid cells of its
    radius-disk bbox (bounded by ``max_cells_per_point`` — raise_error
    guard woven into the sequence bound, the snap_to_segments contract),
    then ONE partial-agg shuffle on the cell key.  Since p=2, the weight
    is ``1/d2`` — no sqrt anywhere.  Float determinism: both weighted
    sums are sorted folds (collect_list + sort_array + left fold; DuckDB
    twin ``sum(x ORDER BY x)``), so the estimate is bit-stable under any
    partitioning and replays exactly in the oracle.
    """
    if radius <= 0:
        raise ValueError(f"radius must be > 0, got {radius}")
    if cell_size <= 0:
        raise ValueError(f"cell_size must be > 0, got {cell_size}")
    cs = float(cell_size)
    r = float(radius)

    # cells whose center (gx+0.5)*cs could be within radius: bbox cover
    gx_lo = F.floor((F.col(x_col) - r) / cs - 0.5).cast("long")
    gx_hi = F.floor((F.col(x_col) + r) / cs + 0.5).cast("long")
    gy_lo = F.floor((F.col(y_col) - r) / cs - 0.5).cast("long")
    gy_hi = F.floor((F.col(y_col) + r) / cs + 0.5).cast("long")
    n_cells = (gx_hi - gx_lo + 1) * (gy_hi - gy_lo + 1)
    gx_hi_guarded = F.when(
        n_cells > F.lit(int(max_cells_per_point)),
        F.raise_error(
            F.concat(
                F.lit("idw_grid: point cover exceeds "),
                F.lit(str(int(max_cells_per_point))),
                F.lit(" cells; raise cell_size or lower radius"),
            )
        ).cast("long"),
    ).otherwise(gx_hi)

    ex = (
        points.select(x_col, y_col, value_col, gx_lo.alias("_gxl"),
                      gx_hi_guarded.alias("_gxh"), gy_lo.alias("_gyl"),
                      gy_hi.alias("_gyh"))
        .withColumn("gx", F.explode(F.sequence(F.col("_gxl"), F.col("_gxh"))))
        .withColumn("gy", F.explode(F.sequence(F.col("_gyl"), F.col("_gyh"))))
    )
    cx = (F.col("gx").cast("double") + F.lit(0.5)) * F.lit(cs)
    cy = (F.col("gy").cast("double") + F.lit(0.5)) * F.lit(cs)
    dx = F.col(x_col) - cx
    dy = F.col(y_col) - cy
    cand = ex.withColumn("_d2", dx * dx + dy * dy).where(
        F.col("_d2") <= F.lit(r * r)
    )
    v = F.col(value_col).cast("double")
    # weights guarded at projection: an exact hit (d2 = 0) must not even
    # EVALUATE the division — ANSI mode raises DIVIDE_BY_ZERO
    pos = F.col("_d2") > 0.0
    cand = cand.select(
        "gx",
        "gy",
        F.col("_d2"),
        v.alias("_v"),
        F.when(pos, v / F.col("_d2")).alias("_wv"),
        F.when(pos, F.lit(1.0) / F.col("_d2")).alias("_w"),
    )

    def _fold(col):
        return F.aggregate(
            F.sort_array(F.collect_list(col)), F.lit(0.0), lambda a, x: a + x
        )

    agg = cand.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).cast("long").alias("n_pts"),
        F.min("_d2").alias("_mind2"),
        F.min(F.when(F.col("_d2") == 0.0, F.col("_v"))).alias("_exact"),
        _fold(F.col("_wv")).alias("_swv"),
        _fold(F.col("_w")).alias("_sw"),
    )
    return agg.select(
        "gx",
        "gy",
        "n_pts",
        F.when(F.col("_mind2") == 0.0, F.col("_exact"))
        .otherwise(F.col("_swv") / F.col("_sw"))
        .alias("est"),
    )


# ---------------------------------------------------------------------------
# terrain derivatives: Horn slope + analytic hillshade
# ---------------------------------------------------------------------------


def terrain_derivatives(
    grid: DataFrame,
    *,
    x_col: str = "gx",
    y_col: str = "gy",
    z_col: str = "elev",
    cellsize: float = 1.0,
    z_factor: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
) -> DataFrame:
    """Slope + hillshade over an INTEGER elevation raster (the terrain-tile
    classic: DEM grid in, shaded-relief grid out, ready for the grid/image
    tile sinks).  Returns interior cells only (all 8 neighbors present) as
    ``(x, y, p, q, slope, hillshade)`` where p/q are Horn's dz/dx, dz/dy,
    ``slope = sqrt(p²+q²)`` (the tangent of the slope angle) and
    ``hillshade`` is the classic 0-255 shaded-relief byte.

    Scale shape: Horn's 3×3 stencil is position-weighted, so unlike the
    Gi*/Moran neighborhood SUM it can't reuse a single undirected
    neighbor join — instead each cell scatter-contributes ``(z·wx, z·wy)``
    to its 8 neighbors through ONE explode + ONE partial-agg shuffle on
    the cell key (8 rows in-flight per cell, combined map-side), then an
    equi-join back to the grid keeps true interior cells.  Elevations are
    integers, so both weighted sums are EXACT on any partitioning and the
    one double chain that follows is fixed:

        p  = px / (8·cell·zf⁻¹…)             (one division each)
        hs = ((lz − p·lx) − q·ly) / sqrt((1 + p·p) + q·q)   (N·L, trig-free)

    The light vector (lx, ly, lz) is computed from azimuth/altitude in
    plan-time Python — the trig never executes in EITHER engine, so the
    driver oracle replays the whole thing bit-for-bit (same literals, same
    association, IEEE sqrt in both).  hillshade = floor(255·max(0,hs)+0.5).
    """
    import math as _m

    if cellsize <= 0:
        raise ValueError(f"cellsize must be > 0, got {cellsize}")
    az = _m.radians(azimuth_deg)
    alt = _m.radians(altitude_deg)
    # sun unit vector; x east, y north (grid +y = north), z up
    lx = _m.cos(alt) * _m.sin(az)
    ly = _m.cos(alt) * _m.cos(az)
    lz = _m.sin(alt)
    denom = 8.0 * float(cellsize) / float(z_factor)

    # Horn weights by the SOURCE's offset relative to the target cell
    offs = [
        (dx, dy, dx * (2 if dy == 0 else 1), dy * (2 if dx == 0 else 1))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(wx).alias("wx"),
                F.lit(wy).alias("wy"),
            )
            for dx, dy, wx, wy in offs
        ]
    )
    z = F.col(z_col).cast("long")
    scattered = (
        grid.select(
            F.col(x_col).cast("long").alias("_sx"),
            F.col(y_col).cast("long").alias("_sy"),
            z.alias("_sz"),
            F.explode(pairs).alias("_o"),
        )
        .select(
            # the source must sit at target + (dx, dy) to carry weight
            # w(dx, dy): target = source - offset
            (F.col("_sx") - F.col("_o.dx")).alias("_tx"),
            (F.col("_sy") - F.col("_o.dy")).alias("_ty"),
            (F.col("_sz") * F.col("_o.wx")).alias("_cx"),
            (F.col("_sz") * F.col("_o.wy")).alias("_cy"),
        )
        .groupBy("_tx", "_ty")
        .agg(
            F.sum("_cx").alias("_px8"),
            F.sum("_cy").alias("_py8"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") == 8)
    )
    cells = grid.select(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    )
    j = cells.join(
        scattered,
        (F.col("x") == F.col("_tx")) & (F.col("y") == F.col("_ty")),
        "inner",
    )
    p = F.col("_px8").cast("double") / F.lit(denom)
    q = F.col("_py8").cast("double") / F.lit(denom)
    d = j.select("x", "y", p.alias("p"), q.alias("q"))
    slope = F.sqrt(F.col("p") * F.col("p") + F.col("q") * F.col("q"))
    hs = (
        (F.lit(lz) - F.col("p") * F.lit(lx)) - F.col("q") * F.lit(ly)
    ) / F.sqrt((F.lit(1.0) + F.col("p") * F.col("p")) + F.col("q") * F.col("q"))
    return d.select(
        "x",
        "y",
        "p",
        "q",
        slope.alias("slope"),
        F.floor(F.lit(255.0) * F.greatest(F.lit(0.0), hs) + F.lit(0.5))
        .cast("int")
        .alias("hillshade"),
    )
