"""Geospatial cell indexing + geometry predicates.

Cell scheme: web-mercator ZXY tiles (public slippy-map tiling). A cell id at
resolution ``z`` packs ``(z, x, y)`` into one int64: ``(z << 58) | (x << 29) | y``
(supports z <= 28).  This doubles as the engine's tile key, so the spatial
join's cell prefilter (SURVEY §2.4 J1) and the tiler's shuffle key
(north_rule: shuffle on (zoom, tile_x, tile_y)) are the same partitioning —
one shuffle serves both.

Two implementations of each transform:
- Column-expression (JVM-side, whole-stage-codegen) for the hot path:
  :func:`tile_project_col` is THE lon/lat -> tile projection (every
  featurizer, gridder, cell key and driver query builds on it);
  :func:`cell_col` packs its tile.  The haversine, F8/F11/F13 and P13
  column kernels below are likewise the only JVM spelling of each
  formula.  Pure pyspark.sql Column trees (no Python UDF).
- numpy (:func:`tile_xy_np`, with :func:`tile_floor_np` the one numpy tile
  clamp) for use inside Arrow UDFs (PIP refinement, kNN kernels) and for
  the pytest oracles.

The exact point-in-polygon test re-expresses the reference's ring-orientation
semantics (signed area / classifyRings, reference src/mapbox/vectorFeature.ts:
357-395): a point is inside a polygon when it is inside the outer ring and
outside every hole; ray-casting is winding-agnostic.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

try:  # Spark optional: numpy paths usable without it (pytest oracles)
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    _HAS_SPARK = True
except ImportError:  # pragma: no cover
    _HAS_SPARK = False

MAX_LAT = 85.05112877980659  # web-mercator clamp
_Z_SHIFT = 58
_X_SHIFT = 29

# ---------------------------------------------------------------------------
# numpy cell kernels
# ---------------------------------------------------------------------------


def merc_x_np(lon) -> np.ndarray:
    """lon -> [0,1) web-mercator x."""
    return (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0


def merc_y_np(lat) -> np.ndarray:
    """lat -> [0,1) web-mercator y (clamped)."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    s = np.sin(np.radians(lat))
    return 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * math.pi)


def tile_floor_np(v, zoom: int):
    """Mercator coordinate(s) times 2^zoom -> tile index, clamped to
    [0, 2^zoom - 1], still as float (a NaN stays NaN until the caller's
    integer cast)."""
    return np.clip(np.floor(v), 0, (1 << zoom) - 1)


def tile_xy_np(lon, lat, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << zoom
    tx = tile_floor_np(merc_x_np(lon) * n, zoom).astype(np.int64)
    ty = tile_floor_np(merc_y_np(lat) * n, zoom).astype(np.int64)
    return tx, ty


def cell_id_np(lon, lat, zoom: int) -> np.ndarray:
    tx, ty = tile_xy_np(lon, lat, zoom)
    return pack_cell_np(zoom, tx, ty)


def pack_cell_np(zoom, tx, ty) -> np.ndarray:
    return (
        (np.int64(zoom) << np.int64(_Z_SHIFT))
        | (np.asarray(tx, dtype=np.int64) << np.int64(_X_SHIFT))
        | np.asarray(ty, dtype=np.int64)
    )


def unpack_cell_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    mask = np.int64((1 << _X_SHIFT) - 1)
    return c >> np.int64(_Z_SHIFT), (c >> np.int64(_X_SHIFT)) & mask, c & mask


def cover_polygon_np(rings: list, zoom: int):
    """Tiles intersecting a polygon (outer ring), by per-tile-row slab spans:
    for each tile row, x-extent of the outer ring clipped to the row's slab.
    A strict subset of the bbox covering for non-rectangular shapes
    (conservative superset of the exact cover — the PIP refinement stays
    exact); holes never extend coverage, so only ring 0 matters."""
    outer = np.asarray(rings[0], dtype=np.float64)
    n = 1 << zoom
    px = merc_x_np(outer[:, 0]) * n
    py = merc_y_np(outer[:, 1]) * n
    if len(px) >= 2 and px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    x1, y1 = px, py
    x2, y2 = np.roll(px, -1), np.roll(py, -1)
    row_lo = int(tile_floor_np(py.min(), zoom))
    row_hi = int(tile_floor_np(py.max(), zoom))
    txs_out, tys_out = [], []
    for row in range(row_lo, row_hi + 1):
        lo, hi = float(row), float(row + 1)
        # edges overlapping the slab [lo, hi)
        emin, emax = np.minimum(y1, y2), np.maximum(y1, y2)
        sel = (emax >= lo) & (emin <= hi)
        if not sel.any():
            continue
        ax, ay, bx, by = x1[sel], y1[sel], x2[sel], y2[sel]
        # clip each edge segment to the slab, track x extremes
        with np.errstate(divide="ignore", invalid="ignore"):
            t_lo = np.clip((lo - ay) / (by - ay), 0.0, 1.0)
            t_hi = np.clip((hi - ay) / (by - ay), 0.0, 1.0)
        t_lo = np.where(np.isfinite(t_lo), t_lo, 0.0)
        t_hi = np.where(np.isfinite(t_hi), t_hi, 1.0)
        xa = ax + (bx - ax) * t_lo
        xb = ax + (bx - ax) * t_hi
        xmin = min(xa.min(), xb.min())
        xmax = max(xa.max(), xb.max())
        c0 = int(tile_floor_np(xmin, zoom))
        c1 = int(tile_floor_np(xmax, zoom))
        cols = np.arange(c0, c1 + 1, dtype=np.int64)
        txs_out.append(cols)
        tys_out.append(np.full(len(cols), row, dtype=np.int64))
    if not txs_out:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(txs_out), np.concatenate(tys_out)


def cover_bbox_np(lon_min, lat_min, lon_max, lat_max, zoom: int):
    """All (tx, ty) tiles intersecting a lon/lat bbox (polygon covering)."""
    x0, y1 = tile_xy_np([lon_min], [lat_min], zoom)  # lat_min -> larger ty
    x1, y0 = tile_xy_np([lon_max], [lat_max], zoom)
    txs = np.arange(int(x0[0]), int(x1[0]) + 1, dtype=np.int64)
    tys = np.arange(int(y0[0]), int(y1[0]) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(txs, tys)
    return gx.ravel(), gy.ravel()


# ---------------------------------------------------------------------------
# Spark column expressions (JVM-side; mirror the numpy math exactly)
# ---------------------------------------------------------------------------

if _HAS_SPARK:

    def merc_x_col(lon: Column) -> Column:
        return (lon + F.lit(180.0)) / F.lit(360.0)

    def merc_y_col(lat: Column) -> Column:
        """lat -> [0,1) web-mercator y (clamped); null for a null lat.  The
        clamp is sign(lat) * min(MAX_LAT, |lat|), exact for every finite
        lat: ``least`` skips a null but ``signum`` carries it, and no
        conditional hides the chain from codegen's common-subexpression
        elimination (sin/ln run once per row)."""
        clamped = F.signum(lat) * F.least(F.lit(MAX_LAT), F.abs(lat))
        s = F.sin(F.radians(clamped))
        return F.lit(0.5) - F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(4.0 * math.pi)

    def _tile_index_col(m: Column, nmax) -> Column:
        """floor(m) clamped to [0, nmax] as a long; null for a null m.
        ``greatest``/``least`` skip nulls, so the clamp alone would put one
        on an edge tile; adding 0 * floor(m) (exact long arithmetic)
        carries the null through without a conditional."""
        t = F.floor(m)
        return F.greatest(F.lit(0), F.least(nmax, t)) + t * F.lit(0)

    def tile_project_col(lon: Column, lat: Column, zoom) -> tuple:
        """-> (tile_x, tile_y, mx, my): the tile of each point and its
        mercator x/y times 2^zoom (P13 quantizes ``mx - tile_x``).  ``zoom``
        is an int or an integer Column (then 2^zoom is ``pow``, exact in
        double).  A null lon (lat) gives a null tile_x and mx (tile_y and
        my).  Every output is unconditional, so a projection selecting
        several of them evaluates the mercator chain once per row."""
        if isinstance(zoom, Column):
            n = F.pow(F.lit(2.0), zoom)
            nmax = (n - F.lit(1.0)).cast("long")
        else:
            n, nmax = F.lit(float(1 << zoom)), F.lit((1 << zoom) - 1)
        mx = merc_x_col(lon) * n
        my = merc_y_col(lat) * n
        return _tile_index_col(mx, nmax), _tile_index_col(my, nmax), mx, my

    def cell_col(lon: Column, lat: Column, zoom: int) -> Column:
        """Packed cell id at ``zoom``; null when lon or lat is null."""
        tx, ty, _, _ = tile_project_col(lon, lat, zoom)
        return pack_cell_col(F.lit(zoom), tx, ty)

    def pack_cell_col(zoom: Column, tx: Column, ty: Column) -> Column:
        return (
            F.shiftleft(zoom.cast("long"), _Z_SHIFT)
            .bitwiseOR(F.shiftleft(tx.cast("long"), _X_SHIFT))
            .bitwiseOR(ty.cast("long"))
        )

    def quantize_lon_col(lon: Column) -> Column:
        """F8: 24-bit quantization as a pure column expr (src/util.ts:322-324)."""
        return F.floor((lon + F.lit(180.0)) * F.lit(16777215.0) / F.lit(360.0) + F.lit(0.5)).cast(
            "long"
        )

    def quantize_lat_col(lat: Column) -> Column:
        return F.floor((lat + F.lit(90.0)) * F.lit(16777215.0) / F.lit(180.0) + F.lit(0.5)).cast(
            "long"
        )

    def encode_offset_col(offset: Column) -> Column:
        """F11 (src/base/vectorFeature.ts:609-611)."""
        return F.floor(offset * F.lit(1000.0)).cast("long")

    def remap_value_col(value: Column, vmin: Column, vmax: Column, extent: int) -> Column:
        """F13 grid remap (src/open/gridLayer.ts:98-100)."""
        return F.floor((value - vmin) * F.lit(float(extent)) / (vmax - vmin) + F.lit(0.5)).cast(
            "long"
        )

    def transform_point_col(p: Column, extent: int) -> Column:
        """P13 extent quantization (src/base/vectorFeature.ts:584-602), JS
        half-up rounding, as an int."""
        return F.floor(p * F.lit(float(extent)) + F.lit(0.5)).cast("int")

    def quadkey_col(tx: Column, ty: Column, zoom: int) -> Column:
        """Bing-maps quadkey of tile (tx, ty) at ``zoom`` — one base-4
        digit per level, MSB first (the key scheme behind the reference's
        `bing` benchmark fixture; Microsoft Bing tile system).  Pure
        shift/mask/concat column expression; quadkeys prefix-nest (a
        child's key starts with its parent's), which is what makes them a
        directory layout / range-scan key for tilesets."""
        if zoom < 1:
            raise ValueError(f"quadkey needs zoom >= 1, got {zoom}")
        digits = [
            (
                F.shiftright(tx.cast("long"), i).bitwiseAND(F.lit(1))
                + F.shiftright(ty.cast("long"), i).bitwiseAND(F.lit(1)) * 2
            ).cast("string")
            for i in range(zoom - 1, -1, -1)
        ]
        return F.concat(*digits)

    GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def geohash_col(lon: Column, lat: Column, precision: int = 6) -> Column:
        """Standard geohash (Niemeyer; the Elasticsearch/Lucene cell key):
        lon/lat bisection bits interleaved lon-first, 5 bits per base-32
        character.  Implemented as quantize → Morton spread (the same
        mask chain as the Z-order layout key, layout.py:spread_bits16) →
        per-character shift/mask + substring into the base-32 alphabet —
        all codegen column exprs, SQL-twin-able verbatim.  ``precision``
        in characters, even values ≤ 12 keep the bit split symmetric
        (this implementation supports 1..6: 15+15 interleaved bits)."""
        if not 1 <= precision <= 6:
            raise ValueError(f"precision must be in [1, 6], got {precision}")
        from ..operators.layout import spread_bits16

        nbits = 15
        lonq = F.greatest(
            F.lit(0),
            F.least(
                F.lit((1 << nbits) - 1),
                F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << nbits))),
            ),
        ).cast("long")
        latq = F.greatest(
            F.lit(0),
            F.least(
                F.lit((1 << nbits) - 1),
                F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << nbits))),
            ),
        ).cast("long")
        # 30-bit Morton code, lon bits in the odd (higher) positions: the
        # MSB is lon's top bisection bit, exactly geohash's lon-first order
        mort = F.shiftleft(spread_bits16(lonq), 1).bitwiseOR(spread_bits16(latq))
        chars = [
            F.substring(
                F.lit(GEOHASH_B32),
                (F.shiftright(mort, 25 - 5 * k).bitwiseAND(F.lit(31)) + 1).cast("int"),
                1,
            )
            for k in range(precision)
        ]
        return F.concat(*chars)

    def geodesic_ring_area_m2(
        vertices: "DataFrame",  # noqa: F821
        id_cols: list,
        seq_col: str = "seq",
        lon_col: str = "lon",
        lat_col: str = "lat",
    ):
        """Spherical ring area (m²) from an exploded OPEN-ring vertex table
        — the geodesic counterpart of planar shoelace, per Chamberlain &
        Duquette (JPL 2007; the turf.js/PostGIS spherical-excess
        approximation):

            area = |Σ_edges rad(λ2−λ1)·(2 + sin φ1 + sin φ2)| · R²/2

        The wrap edge (last→first) comes from a first_value window, the
        per-edge terms sum with the repo's sorted-fold so the double is
        bit-stable across engines, and the whole thing is one shuffle on
        the ring key (driver oracle `geodesic_area`)."""
        from pyspark.sql import Window

        w = Window.partitionBy(*id_cols).orderBy(seq_col)
        wall = (
            Window.partitionBy(*id_cols)
            .orderBy(seq_col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        lon2 = F.coalesce(F.lead(lon_col).over(w), F.first(lon_col).over(wall))
        lat2 = F.coalesce(F.lead(lat_col).over(w), F.first(lat_col).over(wall))
        # wrap the edge's longitude delta into [-180, 180): an edge from
        # 179 to -179 is a 2-degree step, not -358 — without the wrap a
        # ring straddling the antimeridian is off by orders of magnitude.
        # floor-based wrap (not %) so Spark and DuckDB agree on negatives.
        dl = lon2 - F.col(lon_col)
        dl = dl - F.lit(360.0) * F.floor((dl + F.lit(180.0)) / F.lit(360.0))
        term = F.radians(dl) * (
            F.lit(2.0) + F.sin(F.radians(F.col(lat_col))) + F.sin(F.radians(lat2))
        )
        per_edge = vertices.withColumn("_term", term)
        return per_edge.groupBy(*id_cols).agg(
            (
                F.abs(
                    F.aggregate(
                        F.sort_array(F.collect_list("_term")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                * F.lit(EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0)
            ).alias("area_m2")
        )


# ---------------------------------------------------------------------------
# distance + point-in-polygon (numpy, used inside Arrow UDFs)
# ---------------------------------------------------------------------------

EARTH_RADIUS_M = 6_371_008.8


def haversine_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters, vectorized + broadcastable."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def points_in_ring_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: are points inside the ring (winding-agnostic)?

    px/py: (n,) point coords.  ring: (m, 2) closed or open ring.
    Fully vectorized over n*m edge tests.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    x1, y1 = ring[:, 0], ring[:, 1]  # (m,)
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    px = np.asarray(px, dtype=np.float64)[:, None]  # (n,1)
    py = np.asarray(py, dtype=np.float64)[:, None]
    crosses = (y1 > py) != (y2 > py)  # edge straddles the horizontal ray
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hit = crosses & (px < xint)
    return (hit.sum(axis=1) % 2).astype(bool)


def points_in_polygon_np(px, py, rings: list) -> np.ndarray:
    """Exact PIP with holes: inside outer ring (ring 0) and outside every
    hole (reference hole semantics via classifyRings winding,
    src/mapbox/vectorFeature.ts:357-381).  Degenerate (zero-area) rings are
    dropped, matching the reference."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    if len(px) == 0:
        return np.zeros(0, dtype=bool)
    live = [r for r in rings if _ring_area(r) != 0.0]
    if not live:
        return np.zeros(len(px), dtype=bool)
    inside = points_in_ring_np(px, py, np.asarray(live[0]))
    for hole in live[1:]:
        inside &= ~points_in_ring_np(px, py, np.asarray(hole))
    return inside


def _ring_area(ring) -> float:
    r = np.asarray(ring, dtype=np.float64)
    if len(r) >= 2 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    xp, yp = np.roll(x, 1), np.roll(y, 1)
    return float(np.sum((xp - x) * (y + yp)))


if _HAS_SPARK:

    def _haversine_sin_half(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
        """sin(w/2) of the central angle w between two points, capped at 1
        (the haversine chain :func:`haversine_col` and
        :func:`geodesic_densify` share).  A null or NaN coordinate passes
        through as null or NaN: Spark's ``least`` skips a null and orders
        NaN above 1.0, so it would turn either into the antipodal cap."""
        dlat = F.radians(lat2 - lat1)
        dlon = F.radians(lon2 - lon1)
        h = (
            F.sin(dlat / 2) ** 2
            + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
        )
        s = F.sqrt(h)
        return F.when((s > 1.0) & ~F.isnan(s), F.lit(1.0)).otherwise(s)

    def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
        """Great-circle meters as a pure column expression: the JVM twin of
        :func:`haversine_np`.  It takes radians of each coordinate
        difference where numpy differences the radians, so the two can
        differ by a few ulps (the driver's SQL twins follow this order)."""
        return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(_haversine_sin_half(lon1, lat1, lon2, lat2))

    def viewport_tiles(
        viewports: "DataFrame",
        min_lon: str = "min_lon",
        min_lat: str = "min_lat",
        max_lon: str = "max_lon",
        max_lat: str = "max_lat",
        zoom: str = "zoom",
        max_tiles: int = 4096,
    ) -> "DataFrame":
        """The tile server's inverse query: a (bbox, zoom) viewport ->
        the exploded set of (tile_x, tile_y) keys that cover it — what a
        map client requests per frame, and the key set a tileset scan
        prunes on.

        Per-row ``zoom`` (different clients at different zooms in one
        table).  Antimeridian-crossing viewports (min_lon > max_lon)
        split into two x-ranges — the standard slippy-map convention.
        Pure column expressions end-to-end (pow/floor/sequence/explode,
        no Python, no shuffle): cover size is data, not plan, so the
        whole frontier of viewport requests fans out map-side.

        No silent caps: a viewport covering more than ``max_tiles`` tiles
        emits ONE row with NULL tile_x/tile_y and ``oversized=true``
        instead of exploding (the caller decides whether to re-request at
        a lower zoom); every output row carries ``n_tiles`` so the cap is
        auditable.  A viewport with a null bound covers no tile: its
        ``n_tiles`` is null and it emits no row.
        """
        if max_tiles < 1:
            raise ValueError(f"max_tiles must be >= 1, got {max_tiles}")
        x0, y1, _, _ = tile_project_col(F.col(min_lon), F.col(min_lat), F.col(zoom))
        x1, y0, _, _ = tile_project_col(F.col(max_lon), F.col(max_lat), F.col(zoom))
        last = (F.pow(F.lit(2.0), F.col(zoom)) - F.lit(1.0)).cast("long")
        # crossing box whose two arcs land in overlapping tile ranges
        # (x1 >= x0 — e.g. both edges inside ONE tile at low zoom, or a
        # near-global box): the union is the full x row; emitting both
        # ranges would duplicate tiles and overcount n_tiles
        ranges = (
            F.when(
                F.col(min_lon) <= F.col(max_lon),
                F.array(F.struct(x0.alias("a"), x1.alias("b"))),
            )
            .when(
                x1 >= x0,
                F.array(F.struct(F.lit(0).cast("long").alias("a"), last.alias("b"))),
            )
            .otherwise(
                F.array(
                    F.struct(x0.alias("a"), last.alias("b")),
                    F.struct(F.lit(0).cast("long").alias("a"), x1.alias("b")),
                )
            )
        )
        xspan = F.aggregate(
            ranges, F.lit(0).cast("long"), lambda acc, r: acc + r["b"] - r["a"] + 1
        )
        base = (
            viewports.withColumn("_rs", ranges)
            .withColumn("_y0", y0)
            .withColumn("_y1", y1)
            .withColumn("n_tiles", xspan * (y1 - y0 + 1))
        )
        keep = [c for c in viewports.columns]
        ok = (
            base.filter(F.col("n_tiles") <= max_tiles)
            .select(*keep, "n_tiles", "_y0", "_y1", F.explode("_rs").alias("_r"))
            .select(
                *keep,
                "n_tiles",
                "_y0",
                "_y1",
                F.explode(F.sequence(F.col("_r.a"), F.col("_r.b"))).alias("tile_x"),
            )
            .select(
                *keep,
                "n_tiles",
                F.explode(F.sequence(F.col("_y0"), F.col("_y1"))).alias("tile_y"),
                "tile_x",
            )
            .select(*keep, "n_tiles", "tile_x", "tile_y", F.lit(False).alias("oversized"))
        )
        big = base.filter(F.col("n_tiles") > max_tiles).select(
            *keep,
            "n_tiles",
            F.lit(None).cast("long").alias("tile_x"),
            F.lit(None).cast("long").alias("tile_y"),
            F.lit(True).alias("oversized"),
        )
        return ok.unionByName(big)

    def geodesic_densify(
        df: DataFrame,
        *,
        id_cols: list[str],
        n_segments: int,
        lon1_col: str = "lon1",
        lat1_col: str = "lat1",
        lon2_col: str = "lon2",
        lat2_col: str = "lat2",
    ) -> DataFrame:
        """Great-circle densification -> one row per waypoint:
        ``(*id_cols, seg_idx, lon, lat, degenerate)`` with seg_idx
        0..n_segments inclusive (endpoints kept).

        Long geodesic edges drawn as straight lines in tile space cut
        corners badly at low zooms — flight routes, shipping lanes,
        cable maps all densify first.  Spherical linear interpolation
        (slerp): p(t) = (sin((1-t)ω)·A + sin(tω)·B) / sin ω on unit
        vectors, ω the central angle from the haversine chain.

        Pure column math, map-side only (one explode, NO shuffle, no
        UDF) — same fixed IEEE chains in the SQL twin.  Degenerate
        cases: coincident endpoints (ω = 0) emit the start point for
        every waypoint; exactly antipodal endpoints (sin ω = 0, ω > 0 —
        the great circle is ambiguous) emit null coordinates with
        ``degenerate`` = true rather than an arbitrary path.
        """
        if n_segments < 1:
            raise ValueError(f"n_segments must be >= 1, got {n_segments}")
        lon1, lat1 = F.col(lon1_col), F.col(lat1_col)
        lon2, lat2 = F.col(lon2_col), F.col(lat2_col)
        sh = _haversine_sin_half(lon1, lat1, lon2, lat2)
        omega = F.lit(2.0) * F.asin(sh)
        ax = F.cos(F.radians(lat1)) * F.cos(F.radians(lon1))
        ay = F.cos(F.radians(lat1)) * F.sin(F.radians(lon1))
        az = F.sin(F.radians(lat1))
        bx = F.cos(F.radians(lat2)) * F.cos(F.radians(lon2))
        by = F.cos(F.radians(lat2)) * F.sin(F.radians(lon2))
        bz = F.sin(F.radians(lat2))
        base = df.select(
            *id_cols,
            omega.alias("_om"),
            sh.alias("_sh"),
            F.sin(omega).alias("_so"),
            ax.alias("_ax"),
            ay.alias("_ay"),
            az.alias("_az"),
            bx.alias("_bx"),
            by.alias("_by"),
            bz.alias("_bz"),
            lon1.alias("_lon1"),
            lat1.alias("_lat1"),
        ).select(
            *id_cols,
            "_om", "_sh", "_so", "_ax", "_ay", "_az", "_bx", "_by", "_bz",
            "_lon1", "_lat1",
            F.explode(F.sequence(F.lit(0), F.lit(int(n_segments)))).alias(
                "seg_idx"
            ),
        )
        t = F.col("seg_idx").cast("double") / F.lit(float(n_segments))
        f1 = F.sin((F.lit(1.0) - t) * F.col("_om")) / F.col("_so")
        f2 = F.sin(t * F.col("_om")) / F.col("_so")
        x = f1 * F.col("_ax") + f2 * F.col("_bx")
        y = f1 * F.col("_ay") + f2 * F.col("_by")
        z = f1 * F.col("_az") + f2 * F.col("_bz")
        lat_i = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
        lon_i = F.degrees(F.atan2(y, x))
        zero = F.col("_om") == 0.0
        # antipodal detection via the CLAMPED haversine hitting 1.0, not
        # sin(omega) == 0: sin(pi) is 1.2e-16 in floats, so a sin test
        # never fires and the slerp silently collapses to garbage
        anti = F.col("_sh") == 1.0
        return base.select(
            *id_cols,
            "seg_idx",
            F.when(zero, F.col("_lon1")).when(anti, F.lit(None)).otherwise(
                lon_i
            ).alias("lon"),
            F.when(zero, F.col("_lat1")).when(anti, F.lit(None)).otherwise(
                lat_i
            ).alias("lat"),
            anti.alias("degenerate"),
        )


# ---------------------------------------------------------------------------
# Google Encoded Polyline (precision 5): the web's route wire format
# ---------------------------------------------------------------------------
#
# The interchange format web pages actually carry GPS routes in (Google
# Maps / OSRM / Valhalla URLs and JSON payloads): quantize to 1e-5 deg,
# delta-encode, zigzag, emit little-endian 5-bit chunks as printable ASCII
# (+63, 0x20 continuation bit).  Same coding ideas as the OVT geometry
# stream (delta + zigzag; reference src/util.ts zigzag/zagzig) on a
# text-safe alphabet.  Whole-batch Arrow kernels (r6): the original pure
# column-expression formulation (HOF folds) appended to its accumulator
# per element, which is O(n^2) per route in both directions — fine for
# 10^2-point routes, catastrophic for the 2*10^4-point tracks the
# declared query derives at bench scale (measured 103 s of the sf0.1
# full-surface sweep; the decode cumsum alone was quadratic).  The
# kernels below are linear, byte/bit-identical to the old expressions
# (pinned by tests/test_polyline.py's canonical vector + independent
# scalar reference), and decode still returns the QUANTIZED integers
# (exact; divide by 1e5 only at the edge).


def _enc_polyline_one(la, lo) -> "str | None":
    """One route -> polyline5 string, all-numpy (linear)."""
    if la is None or lo is None:
        return None
    qa = np.floor(np.asarray(la, dtype=np.float64) * 1e5 + 0.5).astype(np.int64)
    qb = np.floor(np.asarray(lo, dtype=np.float64) * 1e5 + 0.5).astype(np.int64)
    n = len(qa)
    if n == 0:
        return ""
    d = np.empty(2 * n, dtype=np.int64)  # interleave [dlat0, dlon0, dlat1, ..]
    d[0::2] = np.diff(qa, prepend=np.int64(0))
    d[1::2] = np.diff(qb, prepend=np.int64(0))
    z = (d << 1) ^ (d >> 63)  # zigzag (arithmetic >> on int64)
    # chunk counts: slot i emits iff i == 0 or (z >> 5i) > 0
    nc = np.ones(len(z), dtype=np.int64)
    rem = z >> 5
    while rem.any():
        nc += rem > 0
        rem >>= 5
    offs = np.zeros(len(z), dtype=np.int64)
    np.cumsum(nc[:-1], out=offs[1:])
    total = int(offs[-1] + nc[-1])
    out = np.empty(total, dtype=np.uint8)
    alive = np.arange(len(z))
    for i in range(int(nc.max())):
        alive = alive[nc[alive] > i]
        chunk = (z[alive] >> np.int64(5 * i)) & np.int64(31)
        more = nc[alive] - 1 > i
        out[offs[alive] + i] = (np.where(more, chunk | 32, chunk) + 63).astype(np.uint8)
    return out.tobytes().decode("ascii")


def _dec_polyline_one(s) -> "list | None":
    """One polyline5 string -> [(ilat, ilon), ...], all-numpy (linear)."""
    if s is None:
        return None
    if len(s) == 0:
        return []
    # codepoints - 63 (utf-32 view matches F.ascii's per-character codes)
    b = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) - 63
    b = b[b >= 0]  # the old filter: drop sub-'?' artifacts
    ends = np.flatnonzero(b < 32)
    if len(ends) == 0:
        return []
    b = b[: ends[-1] + 1]  # drop a trailing unterminated group, like the fold
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos = np.arange(len(b), dtype=np.int64) - np.repeat(starts, ends - starts + 1)
    contrib = (b & 31) << (5 * pos)
    vals = np.add.reduceat(contrib, starts)
    unzig = (vals >> 1) ^ -(vals & 1)  # vals are non-negative: >> == >>>
    lat_d = unzig[0::2]
    lon_d = unzig[1::2]
    ilat = np.cumsum(lat_d)
    ilon = np.cumsum(lon_d)
    if len(lat_d) > len(lon_d):
        # odd value count (malformed): the old fold emitted size(latd)
        # pairs, the unpaired final ilat carrying the last ilon cumsum
        # (0 when there is none) — reproduce that exactly
        ilon = np.append(ilon, ilon[-1] if len(ilon) else np.int64(0))
    return [
        {"ilat": int(a), "ilon": int(b_)} for a, b_ in zip(ilat.tolist(), ilon.tolist())
    ]


def encode_polyline(lats, lons):
    """(array<double> lats, array<double> lons) -> polyline5 string.
    Quantization is JS ``Math.round`` (floor(x*1e5 + 0.5)) for parity with
    the canonical encoder.  Linear whole-batch Arrow kernel (see the
    section comment); output characters identical to the old expression
    form."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def enc(la: pd.Series, lo: pd.Series) -> pd.Series:
        return pd.Series(
            [_enc_polyline_one(a, b) for a, b in zip(la, lo)], dtype=object
        )

    return enc(lats, lons)


def decode_polyline(s):
    """polyline5 string -> array<struct<ilat: long, ilon: long>> of the
    QUANTIZED coordinates (multiply by 1e-5 for degrees).  Linear
    whole-batch Arrow kernel (see the section comment); per-value
    semantics identical to the old stateful-fold expression, including
    dropped trailing unterminated groups and an unpaired final delta."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<ilat:bigint,ilon:bigint>>")
    def dec(col: pd.Series) -> pd.Series:
        return pd.Series([_dec_polyline_one(v) for v in col], dtype=object)

    return dec(s)
