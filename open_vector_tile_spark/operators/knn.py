"""kNN page -> POI matching (J3/O4).

Two strategies:

- :func:`knn_broadcast` — POI anchors are dim-table sized; ship them to every
  executor and compute vectorized haversine top-k per Arrow batch.  No
  shuffle of the pages side at all; this is the 100 TB path whenever the POI
  table fits in executor memory (millions of POIs ≈ tens of MB).

- :func:`knn_cell_ring` — cell-ring expansion (SURVEY §2.4 J3): join pages to
  POIs bucketed by cell, expanding the ring radius r=0,1,2,... per round and
  anti-joining resolved pages between rounds.  Demonstrates the iterative
  DataFrame pattern for when the anchor side is NOT broadcastable; ranking
  window (O4) picks the k nearest.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import (
    EARTH_RADIUS_M,
    cell_col,
    cell_id_np,
    haversine_col,
    haversine_np,
    pack_cell_np,
    tile_xy_np,
    unpack_cell_np,
)
from ._parallel import fan_out
from ._pins import Pins


def knn_broadcast(
    points: DataFrame,
    pois_pdf: pd.DataFrame,
    k: int = 3,
    lon: str = "lon",
    lat: str = "lat",
    key: str = "url",
) -> DataFrame:
    """-> (key, poi_id, dist_m, rank) with rank 1..k by great-circle distance.

    Vectorized: one (batch × n_poi) distance matrix per Arrow batch, argpartition
    top-k — no per-row Python.
    """
    # a narrow (single-file / single-row-group) source would run the whole
    # distance kernel in one task; fan out to data-sized width first (no-op
    # when the input is already parallel).  Output is a per-row top-k SET —
    # partitioning cannot change any pick.
    points = fan_out(points.select(key, lon, lat))
    plon = pois_pdf["lon"].to_numpy(dtype=np.float64)
    plat = pois_pdf["lat"].to_numpy(dtype=np.float64)
    pids = pois_pdf["poi_id"].to_numpy(dtype=np.int64)
    key_t = points.schema[key].dataType.simpleString()
    schema = f"{key} {key_t}, poi_id long, dist_m double, rank int"

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lons = pdf[lon].to_numpy(dtype=np.float64)
            lats = pdf[lat].to_numpy(dtype=np.float64)
            kk = min(k, len(pids))
            B = len(lons)
            sel = np.empty((B, kk), dtype=np.int64)
            dsel = np.empty((B, kk), dtype=np.float64)
            # chunk the (n, m) distance matrix to a few MB so every numpy
            # temporary stays under glibc's mmap threshold — whole-batch
            # matrices made each op an mmap/munmap round-trip and kernel
            # page allocation serialized across executor python workers
            # (the nearest_poi_col finding; same kernel shape here)
            chunk = max(1, (4 << 20) // (8 * max(len(pids), 1)))
            for s0 in range(0, B, chunk):
                e0 = min(s0 + chunk, B)
                d = haversine_np(
                    lons[s0:e0, None], lats[s0:e0, None], plon[None, :], plat[None, :]
                )
                # full per-row lexsort on (dist, poi_id): deterministic tie
                # handling including at the rank-k boundary, matching the
                # (dist_m, poi_id) window knn_cell_ring ranks with — an
                # argpartition would pick arbitrarily among equidistant
                # POIs.  POIs are dim-table sized by this module's
                # contract, so the m·log m per row is affordable; ranking
                # is per-row, so chunking cannot change any pick.
                order = np.lexsort(
                    (np.broadcast_to(pids, d.shape), d), axis=-1
                )[:, :kk]
                sel[s0:e0] = order
                dsel[s0:e0] = d[np.arange(e0 - s0)[:, None], order]
            out = pd.DataFrame(
                {
                    key: np.repeat(pdf[key].to_numpy(), kk),
                    "poi_id": pids[sel].ravel(),
                    "dist_m": dsel.ravel(),
                    "rank": np.tile(np.arange(1, kk + 1), B),
                }
            )
            yield out

    return points.select(key, lon, lat).mapInPandas(topk, schema)


def nearest_poi_np(lons, lats, plon, plat, pids) -> np.ndarray:
    """The nearest anchor's ``poi_id`` per point: minimal (dist_m, poi_id)
    lexicographically, ``knn_broadcast``'s rank 1.  Needs at least one
    anchor.  The kernel of :func:`nearest_poi_col` and of the flagship
    chain's fused map pass (operators/pipeline.py)."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    id_max = np.int64(np.iinfo(np.int64).max)
    B = len(lons)
    out = np.empty(B, dtype=np.int64)
    # chunk the (batch x n_poi) distance matrix so every numpy temporary
    # stays a few MB: a whole 50k-row Arrow batch makes ~12 temporaries
    # of batch*n_poi*8 bytes per haversine call, and past glibc's mmap
    # threshold every temporary is an mmap/munmap round-trip — kernel page
    # allocation serializes ACROSS executor python workers, measured as
    # the flagship nn stage scaling 2->8 execs at 0.29 while the box's
    # same-window memstream control scaled 0.98.  Chunked, allocation
    # stays in the malloc free-list and the stage scales with cores.
    chunk = max(1, (4 << 20) // (8 * max(len(pids), 1)))
    for s in range(0, B, chunk):
        e = min(s + chunk, B)
        d = haversine_np(
            lons[s:e, None], lats[s:e, None], plon[None, :], plat[None, :]
        )
        # argmin on distance, then min poi_id among exact-distance ties
        # (identical pick to knn_broadcast's lexsort rank 1, but three
        # vector passes instead of a full 200-wide sort).  NaN distances
        # (NaN POI or input coordinate) are skipped via nanmin — plain
        # min would propagate NaN, making the tie mask all-False and the
        # row collapse to int64 max; lexsort orders NaN last, so the
        # matching pick is the nearest FINITE poi, and min poi_id when
        # every distance is NaN (r5 advisor finding).  fmin skips NaN
        # without the all-NaN-slice warning nanmin would raise.
        dmin = np.fmin.reduce(d, axis=1)
        tie = d == dmin[:, None]
        pick = np.where(tie, pids[None, :], id_max).min(axis=1)
        all_nan = np.isnan(dmin)
        if all_nan.any():
            pick[all_nan] = pids.min()
        out[s:e] = pick
    return out


def nearest_poi_col(pois_pdf: pd.DataFrame):
    """k=1 kNN as a map-only enrichment COLUMN: `(lon, lat) -> poi_id`.

    ``knn_broadcast`` returns a (key, poi_id, ...) result SET, so attaching
    its answer to a wide row requires an equi-join back on the key — and if
    the enriched frame also feeds the kNN input, that join is a DAG diamond
    which re-executes the whole upstream lineage twice (measured: the
    flagship pipeline spent 21 of 31 s re-running geoparse + spatial-join
    through exactly that diamond).  For nearest-neighbor *enrichment* the
    Spark-first shape is a scalar pandas UDF: one extra column, zero
    shuffle, zero recompute, same (n x m) vectorized distance matrix per
    Arrow batch (:func:`nearest_poi_np`).

    Tie-break matches ``knn_broadcast`` rank 1 exactly: minimal
    (dist_m, poi_id) lexicographically.  POIs are a broadcast-sized dim
    table by this module's contract.  With no anchors the column is null.
    """
    from pyspark.sql.functions import pandas_udf

    plon = pois_pdf["lon"].to_numpy(dtype=np.float64)
    plat = pois_pdf["lat"].to_numpy(dtype=np.float64)
    pids = pois_pdf["poi_id"].to_numpy(dtype=np.int64)

    @pandas_udf("long")
    def nearest(lon: pd.Series, lat: pd.Series) -> pd.Series:
        if len(pids) == 0:  # no anchors: null enrichment, not a crash
            return pd.Series([pd.NA] * len(lon), dtype="Int64")
        return pd.Series(nearest_poi_np(lon, lat, plon, plat, pids))

    return nearest


def poi_cells(spark, pois_pdf: pd.DataFrame, zoom: int) -> DataFrame:
    out = pd.DataFrame(
        {
            "cell": cell_id_np(pois_pdf["lon"].to_numpy(), pois_pdf["lat"].to_numpy(), zoom),
            "poi_id": pois_pdf["poi_id"].to_numpy(dtype=np.int64),
            "poi_lon": pois_pdf["lon"].to_numpy(dtype=np.float64),
            "poi_lat": pois_pdf["lat"].to_numpy(dtype=np.float64),
        }
    )
    return spark.createDataFrame(out)


def knn_cell_ring(
    points: DataFrame,
    pois_pdf: pd.DataFrame,
    zoom: int = 4,
    k: int = 3,
    max_rings: int = 8,
    lon: str = "lon",
    lat: str = "lat",
    key: str = "url",
) -> DataFrame:
    """Iterative ring expansion with an EXACT termination bound.

    Round r searches the Chebyshev DISK of radius r around the page cell.
    A page resolves only when it found >= k candidates AND its k-th candidate
    distance <= the great-circle lower bound to anything outside the disk
    (min distance to the disk's bounding meridians/parallels — crossing one
    of those planes is necessary to leave the disk).  This makes the result
    identical to brute force; mercator distortion only costs extra rounds,
    never correctness.  Unresolved pages after ``max_rings`` fall back to the
    broadcast kernel.

    Job structure (bounded, no lineage recompute): ``pending`` is
    ``localCheckpoint``-ed every round, so the base scan + cell assignment
    run exactly ONCE regardless of rounds — each round's anti-join reads the
    previous round's materialized partitions, never re-deriving the chain.
    Each round's resolved set is checkpointed too, so the final union does
    not re-run the joins.  Radii follow a geometric schedule (0,1,2,4,...,
    max_rings): searching a larger disk early only resolves more pages (the
    termination bound is exact per round), so skipping radii cannot change
    the result — it just caps the rounds at O(log max_rings)."""
    spark = points.sparkSession
    pcells = poi_cells(spark, pois_pdf, zoom).cache()
    n = 1 << zoom

    with Pins() as pins:
        pending = pins.pin(
            points.select(key, lon, lat).withColumn(
                "cell", cell_col(F.col(lon), F.col(lat), zoom)
            )
        )
        resolved: list[DataFrame] = []
        w = Window.partitionBy(key).orderBy(F.col("dist_m").asc(), F.col("poi_id").asc())

        schedule = [0]
        while schedule[-1] < max_rings:
            schedule.append(min(max(schedule[-1] * 2, 1), max_rings))

        for r in schedule:
            disk = _disk_cells_df(pending, zoom, r)
            cand = disk.join(F.broadcast(pcells), on="cell", how="inner")
            scored = cand.withColumn(
                "dist_m", haversine_col(F.col(lon), F.col(lat), F.col("poi_lon"), F.col("poi_lat"))
            ).withColumn("rank", F.row_number().over(w))
            kth = (
                scored.filter(F.col("rank") <= k)
                .groupBy(key, lon, lat, "home_tx", "home_ty")
                .agg(F.max("dist_m").alias("kth_dist"), F.count("*").alias("n_cand"))
            )
            bound = _disk_boundary_bound_col(
                F.col(lon), F.col(lat), F.col("home_tx"), F.col("home_ty"), r, zoom, n
            )
            done_keys = (
                kth.filter((F.col("n_cand") >= k) & (F.col("kth_dist") <= bound)).select(key)
            )
            done = pins.pin(
                scored.join(F.broadcast(done_keys), on=key, how="leftsemi")
                .filter(F.col("rank") <= k)
                .select(key, "poi_id", "dist_m", "rank")
            )
            resolved.append(pins.keep(done))
            # one anti-join step on top of MATERIALIZED partitions, then cut
            # the lineage again — round cost is O(|pending|), never O(history)
            nxt = pins.pin(pending.join(done_keys, on=key, how="left_anti"))
            pins.free(pending)
            pending = nxt
            if pending.isEmpty():  # cheap: scans checkpointed partitions
                break

        if not pending.isEmpty():
            pins.keep(pending)  # the fallback kernel reads it lazily
            resolved.append(knn_broadcast(pending, pois_pdf, k=k, lon=lon, lat=lat, key=key))
        # every round's candidates are materialized in `done`
        pcells.unpersist()

    out = resolved[0]
    for df in resolved[1:]:
        out = out.unionByName(df)
    return out


def _disk_cells_df(pending: DataFrame, zoom: int, r: int) -> DataFrame:
    """Explode pages to all cells of the Chebyshev disk of radius r
    (vectorized: one (batch × (2r+1)^2) broadcast per Arrow batch; x wraps,
    y clamps)."""
    n = 1 << zoom
    offs = np.arange(-r, r + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs)
    dx, dy = dx.ravel(), dy.ravel()

    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in pending.schema.fields)
    schema = f"{fields}, home_tx long, home_ty long, disk_cell long"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _, txs, tys = unpack_cell_np(pdf["cell"].to_numpy())
            cx = (txs[:, None] + dx[None, :]) % n  # wrap antimeridian
            cy = tys[:, None] + dy[None, :]
            valid = (cy >= 0) & (cy < n)
            reps = valid.sum(axis=1)
            out = pdf.loc[pdf.index.repeat(reps)].reset_index(drop=True)
            out["home_tx"] = np.repeat(txs, reps)
            out["home_ty"] = np.repeat(tys, reps)
            out["disk_cell"] = pack_cell_np(zoom, cx[valid], cy[valid])
            # dedup cells per page (wrap can alias when 2r+1 >= n)
            out = out.drop_duplicates(subset=[pdf.columns[0], "disk_cell"])
            yield out

    out = pending.mapInPandas(gen, schema)
    return out.drop("cell").withColumnRenamed("disk_cell", "cell")


def _disk_boundary_bound_col(lon, lat, home_tx, home_ty, r: int, zoom: int, n: int):
    """Lower bound (meters) on distance from the page to any point outside
    the searched disk: min over the 4 bounding planes —
    parallels (exact meridian-arc distance) and meridians
    (angular distance asin(|sin dlon| * cos lat))."""
    R = F.lit(EARTH_RADIUS_M)
    big = F.lit(4.0e7)  # > earth circumference: plane not crossable
    # disk tile bounds
    y_lo = home_ty - r          # north edge tile row
    y_hi = home_ty + r + 1      # south edge boundary row
    lat_n = _tile_lat_col(y_lo, n)
    lat_s = _tile_lat_col(y_hi, n)
    d_north = F.when(F.lit(r) >= home_ty, big).otherwise(
        R * F.radians(lat_n - lat)
    )
    d_south = F.when(y_hi >= F.lit(n), big).otherwise(R * F.radians(lat - lat_s))
    # meridians (skip when the disk wraps the full globe)
    lon_w = (home_tx - r).cast("double") / F.lit(float(n)) * 360.0 - 180.0
    lon_e = (home_tx + r + 1).cast("double") / F.lit(float(n)) * 360.0 - 180.0
    wraps = F.lit(2 * r + 1 >= n)
    coslat = F.cos(F.radians(lat))
    d_west = F.when(wraps, big).otherwise(
        R * F.asin(F.abs(F.sin(F.radians(lon - lon_w))) * coslat)
    )
    d_east = F.when(wraps, big).otherwise(
        R * F.asin(F.abs(F.sin(F.radians(lon_e - lon))) * coslat)
    )
    return F.least(d_north, d_south, d_west, d_east)


def _tile_lat_col(ty, n: int):
    """North-edge latitude of mercator tile row ty: atan(sinh(pi*(1-2y/n)))."""
    import math as _m

    yy = ty.cast("double") / F.lit(float(n))
    return F.degrees(F.atan(F.sinh(F.lit(_m.pi) * (F.lit(1.0) - F.lit(2.0) * yy))))


# ---------------------------------------------------------------------------
# distance-band join (all pairs within R meters)
# ---------------------------------------------------------------------------


def _disk_cover_cells(lon0: float, lat0: float, radius_m: float, zoom: int) -> np.ndarray:
    """Packed cells covering the great-circle disk of ``radius_m`` around
    (lon0, lat0): the exact spherical-cap bounding box (dlat = angular
    radius; dlon = asin(sin r / cos lat), full wrap when the cap crosses a
    pole), then every mercator tile intersecting it.  X wraps modulo 2^z
    across the antimeridian; Y rows come from the clamped mercator
    transform, matching the (clamped) cell assignment of the points side —
    a strict superset of the true disk, so the exact haversine refinement
    never misses a pair."""
    import math as _m

    n = 1 << zoom
    r_ang = radius_m / EARTH_RADIUS_M  # angular radius, radians
    lat_r = _m.radians(lat0)
    lat_lo = _m.degrees(lat_r - r_ang)
    lat_hi = _m.degrees(lat_r + r_ang)
    # y rows from clamped latitudes (merc_y_np clamps internally)
    _, ty_hi = tile_xy_np([lon0], [max(lat_lo, -90.0)], zoom)  # south -> bigger ty
    _, ty_lo = tile_xy_np([lon0], [min(lat_hi, 90.0)], zoom)
    tys = np.arange(int(ty_lo[0]), int(ty_hi[0]) + 1, dtype=np.int64)
    if abs(lat_r) + r_ang >= _m.pi / 2:
        txs = np.arange(n, dtype=np.int64)  # cap crosses a pole: full ring
    else:
        sin_dlon = _m.sin(r_ang) / _m.cos(lat_r)
        dlon = _m.degrees(_m.asin(min(1.0, sin_dlon)))
        # unclamped fractional x (linear in lon) -> wrap modulo n
        tx_lo = _m.floor((lon0 - dlon + 180.0) / 360.0 * n)
        tx_hi = _m.floor((lon0 + dlon + 180.0) / 360.0 * n)
        txs = np.unique(np.arange(int(tx_lo), int(tx_hi) + 1, dtype=np.int64) % n)
    gx, gy = np.meshgrid(txs, tys)
    return pack_cell_np(zoom, gx.ravel(), gy.ravel())


def distance_join(
    points: DataFrame,
    anchors: DataFrame,
    radius_m: float,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    alon: str = "lon",
    alat: str = "lat",
    suffix: str = "_a",
) -> DataFrame:
    """All (point, anchor) pairs within ``radius_m`` great-circle meters —
    the spatial range join (threshold cousin of kNN; SURVEY §2.4 J3/J6).

    Plan shape: the anchor side explodes into the packed cells covering its
    radius disk (bounded fan-out: pick ``zoom`` so a disk spans a handful of
    cells); the points side computes its single cell as a column expr; ONE
    equi-join on the cell key + the exact haversine refinement.  Each point
    owns exactly one cell and an anchor's covering cells are distinct, so a
    surviving pair appears exactly once — no dedup pass.  Hot cells (urban
    anchors) are ordinary skewed join keys: AQE skew-join splits them.

    Output: all point columns + anchor columns (``suffix``-renamed) +
    ``dist_m``.  The covering is a strict superset of the disk (spherical-
    cap bbox, antimeridian-wrapped), so results equal the brute-force
    cross-join filter — the driver oracle `distance_join` checks exactly
    that against DuckDB."""
    from pyspark.sql.functions import pandas_udf

    zm, rm = int(zoom), float(radius_m)

    @pandas_udf("array<long>")
    def disk_cells(lons: pd.Series, lats: pd.Series) -> pd.Series:
        # per-ANCHOR loop (dim-table side, documented); each iteration is
        # numpy over the covering grid; an anchor without a finite position
        # (a null arrives as NaN) covers no cell, so it never pairs
        return pd.Series(
            [
                _disk_cover_cells(lo, la, rm, zm).tolist()
                if np.isfinite(lo) and np.isfinite(la) else []
                for lo, la in zip(lons, lats)
            ]
        )

    a_renamed = anchors.select(
        *[F.col(c).alias(f"{c}{suffix}") for c in anchors.columns]
    )
    a_cells = a_renamed.withColumn(
        "_cell", F.explode(disk_cells(F.col(f"{alon}{suffix}"), F.col(f"{alat}{suffix}")))
    )
    pts = points.withColumn("_cell", cell_col(F.col(lon), F.col(lat), zm))
    dist = haversine_col(
        F.col(lon), F.col(lat), F.col(f"{alon}{suffix}"), F.col(f"{alat}{suffix}")
    )
    return (
        pts.join(a_cells, "_cell")
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") <= rm)
        .drop("_cell")
    )
