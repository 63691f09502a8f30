"""Two-phase spatial join: cell prefilter + exact point-in-polygon (J1+J2),
with mega-cell skew handling (J4).

Phase 1 (J1) is a plain equi-join on the packed cell id — Catalyst picks
broadcast-hash when the polygon covering set is small (we wrap it in
``F.broadcast`` explicitly), so the big pages side never shuffles.
Phase 2 (J2) refines candidates with a vectorized numpy ray-cast inside an
Arrow ``mapInPandas`` — only candidate pairs reach Python.

Scale notes (100 TB): the covering table is (polygons × covered cells) —
thousands of rows even for large layers, always broadcastable.  With
broadcast there is NO shuffle of the pages table at all; the only Python
cost is candidates that survive the bbox-covering prefilter.  Skew from
mega-cells is irrelevant under broadcast join (no partitioning by cell); for
the shuffle-join variant (huge polygon sets) enable AQE skew-join splitting +
salting via ``salt`` param.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geo import (
    cell_col,
    cover_bbox_np,
    cover_polygon_np,
    pack_cell_np,
    points_in_polygon_np,
)


def polygon_covering(
    spark: SparkSession, polygons_pdf: pd.DataFrame, zoom: int, exact: bool = True
) -> DataFrame:
    """Polygon layer -> exploded (cell, poly_id) covering at ``zoom``
    (F20 cell cover).  ``exact=True`` uses per-tile-row slab spans (tight
    superset; shrinks the candidate set vs bbox covering on non-rectangular
    polygons), else the bbox covering.  Computed on the driver (polygon
    layers are dim-table sized) and broadcast."""
    cells, pids = covering_arrays(polygons_pdf, zoom, exact)
    return spark.createDataFrame(
        pd.DataFrame({"cell": cells, "poly_id": pids}),
        schema="cell long, poly_id long",
    )


def covering_arrays(
    polygons_pdf: pd.DataFrame, zoom: int, exact: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """The (cell, poly_id) covering of :func:`polygon_covering` as two int64
    arrays, in polygon order — the one covering kernel of the driver-side
    join, the executor-side ``polygon_covering_df`` and the flagship
    chain's fused map pass (operators/pipeline.py)."""
    cells, pids = [], []
    for pid, flat in zip(polygons_pdf["poly_id"], polygons_pdf["ring_xy"]):
        rings = _parse_rings(flat)
        if not rings:
            continue
        if exact:
            txs, tys = cover_polygon_np(rings, zoom)
        else:
            outer = rings[0]
            txs, tys = cover_bbox_np(
                outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max(), zoom
            )
        cs = pack_cell_np(zoom, txs, tys)
        cells.append(cs)
        pids.append(np.full(len(cs), int(pid), dtype=np.int64))
    if not cells:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(cells), np.concatenate(pids)


def _parse_rings(flat_rings) -> list:
    return [np.asarray(f, dtype=np.float64).reshape(-1, 2) for f in flat_rings]


def polygon_rings(polygons_pdf: pd.DataFrame) -> dict:
    """poly_id -> parsed rings (ring 0 outer, then holes), for
    :func:`refine_mask`."""
    return {
        int(pid): _parse_rings(flat)
        for pid, flat in zip(polygons_pdf["poly_id"], polygons_pdf["ring_xy"])
    }


def refine_mask(px, py, poly_ids, rings_by_id: dict) -> np.ndarray:
    """J2 exact refine: is point i inside polygon ``poly_ids[i]``?  One
    vectorized ray-cast (``points_in_polygon_np``) per distinct polygon.
    The refine kernel of ``spatial_join``, ``spatial_join_distributed`` and
    the flagship chain's fused map pass."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    poly_ids = np.asarray(poly_ids, dtype=np.int64)
    keep = np.zeros(len(poly_ids), dtype=bool)
    order = np.argsort(poly_ids, kind="stable")
    uniq, starts = np.unique(poly_ids[order], return_index=True)
    for pid, idx in zip(uniq.tolist(), np.split(order, starts[1:])):
        keep[idx] = points_in_polygon_np(px[idx], py[idx], rings_by_id[pid])
    return keep


def _candidates(
    points: DataFrame,
    covering: DataFrame,
    zoom: int,
    lon: str,
    lat: str,
    salt: Optional[int],
) -> DataFrame:
    """J1: points ⋈ (cell, poly_id) covering on the points' packed cell id
    -> candidate rows + ``cell`` + ``poly_id``.  The covering is broadcast;
    with ``salt`` (J4, covering too big to broadcast) it is replicated xN
    and hot cells on the big side are split so one mega-cell (dense urban
    tile) spreads over N reducers.  The shuffle_hash hint forces the
    shuffle path — auto-broadcast of a small covering would silently
    bypass the salting under test."""
    pts = points.withColumn("cell", cell_col(F.col(lon), F.col(lat), zoom))
    if not salt:
        return pts.join(F.broadcast(covering), on="cell", how="inner")
    pts = pts.withColumn("salt", F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(salt)))
    covering = covering.crossJoin(
        points.sparkSession.range(salt).select(F.col("id").cast("long").alias("salt"))
    )
    return pts.join(
        covering.hint("shuffle_hash"), on=["cell", "salt"], how="inner"
    ).drop("salt")


def spatial_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    salt: Optional[int] = None,
    exact: bool = True,
) -> DataFrame:
    """points(lon,lat,...) ⋈ polygons -> rows + ``poly_id`` (+ per-row cell).

    J1: equi-join on packed cell id against the broadcast exact covering.
    J2: exact PIP refinement via Arrow-vectorized ray-cast (skipped when
    ``exact=False``: the J1 candidates are returned).
    J4: optional salting for the non-broadcast path.
    """
    covering = polygon_covering(points.sparkSession, polygons_pdf, zoom)
    candidates = _candidates(points, covering, zoom, lon, lat, salt)
    if not exact:
        return candidates

    # phase 2: vectorized PIP per candidate batch.  The parsed rings ride
    # in the task closure (pyspark itself broadcasts a command past 1 MB),
    # so no broadcast variable outlives the call.
    rings_by_id = polygon_rings(polygons_pdf)
    schema = candidates.schema

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pdf[
                refine_mask(pdf[lon], pdf[lat], pdf["poly_id"], rings_by_id)
            ]

    return candidates.mapInPandas(refine, schema)


def polygon_covering_df(polygons: DataFrame, zoom: int) -> DataFrame:
    """Executor-side covering: (cell, poly_id) computed inside mapInPandas.

    The driver-side ``polygon_covering`` assumes a dim-table-sized polygon
    layer; this variant removes that cap — each partition covers its own
    polygons, so the layer can be arbitrarily large (country-scale admin sets,
    parcel data).  Same cells as the driver path's exact covering (asserted
    equal in tests)."""
    spec = "cell long, poly_id long"

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cells, pids = covering_arrays(pdf, zoom)
            if len(cells):
                yield pd.DataFrame({"cell": cells, "poly_id": pids})

    return polygons.select("poly_id", "ring_xy").mapInPandas(cover, spec)


def spatial_join_distributed(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    salt: Optional[int] = None,
    broadcast_polygons: bool = True,
    exact: bool = True,
) -> DataFrame:
    """Fully-distributed two-phase spatial join — no driver materialization of
    the polygon layer anywhere in the plan.

    Same semantics as ``spatial_join`` (``exact`` included: it switches
    only the J2 refine; J1 always probes the exact covering) but
    ``polygons`` is a DataFrame with ``(poly_id long, ring_xy
    array<array<double>>)``.  Phase 1 equi-joins the executor-computed
    covering; phase 2 joins candidates back to the polygon rings on
    ``poly_id`` (broadcast when ``broadcast_polygons``, else a keyed shuffle
    join — the 100 TB path when the polygon side itself is huge) and
    ray-casts with rings carried in-row, parsed once per distinct polygon
    per Arrow batch."""
    covering = polygon_covering_df(polygons, zoom)
    candidates = _candidates(points, covering, zoom, lon, lat, salt)
    if not exact:
        return candidates

    rings_side = polygons.select("poly_id", "ring_xy")
    if broadcast_polygons:
        rings_side = F.broadcast(rings_side)
    cand = candidates.join(rings_side, on="poly_id", how="inner")
    out_schema = candidates.schema

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            first = pdf.drop_duplicates("poly_id")
            rings_by_id = {
                int(pid): _parse_rings(flat)
                for pid, flat in zip(first["poly_id"], first["ring_xy"])
            }
            keep = refine_mask(pdf[lon], pdf[lat], pdf["poly_id"], rings_by_id)
            yield pdf[keep].drop(columns=["ring_xy"])

    return cand.mapInPandas(refine, out_schema)


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    chunk: float,
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
    suffix: str = "_r",
) -> DataFrame:
    """All (left, right) pairs whose CLOSED axis-aligned boxes overlap
    (``l.xmin <= r.xmax AND r.xmin <= l.xmax`` on both axes) — the 2D
    spatial range join, i.e. events.interval_join lifted to rectangles
    (SURVEY §2.4 J6 generalized from the bbox prejoin).

    Plan shape, mirroring the 1D operator: both sides explode into the
    fixed ``chunk``-sized grid cells their box covers and equi-join on the
    (cell_x, cell_y) pair — ONE hash shuffle per side, no nested loop.  A
    pair sharing several cells is emitted exactly once: only the cell
    containing ``(greatest(l.xmin, r.xmin), greatest(l.ymin, r.ymin))``
    keeps it (canonical-chunk dedup, no distinct).  Pick ``chunk`` near the
    median box edge: per-row fan-out is ~(w/chunk+1)*(h/chunk+1).  Right
    columns return ``suffix``-renamed.  Chunk ids floor through doubles —
    exact for |coord/chunk| < 2^53."""
    lcols = left.columns
    r_renamed = right.select(
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns]
    )
    rx0, ry0 = f"{xmin}{suffix}", f"{ymin}{suffix}"
    rx1, ry1 = f"{xmax}{suffix}", f"{ymax}{suffix}"

    def grid(df, x0, y0, x1, y1):
        return df.withColumn(
            "_gx",
            F.explode(
                F.sequence(
                    F.floor(F.col(x0) / chunk).cast("long"),
                    F.floor(F.col(x1) / chunk).cast("long"),
                )
            ),
        ).withColumn(
            "_gy",
            F.explode(
                F.sequence(
                    F.floor(F.col(y0) / chunk).cast("long"),
                    F.floor(F.col(y1) / chunk).cast("long"),
                )
            ),
        )

    l_ex = grid(left, xmin, ymin, xmax, ymax)
    r_ex = grid(r_renamed, rx0, ry0, rx1, ry1)
    joined = l_ex.join(r_ex, on=["_gx", "_gy"], how="inner").where(
        (F.col(xmin) <= F.col(rx1))
        & (F.col(rx0) <= F.col(xmax))
        & (F.col(ymin) <= F.col(ry1))
        & (F.col(ry0) <= F.col(ymax))
        & (
            F.floor(F.greatest(F.col(xmin), F.col(rx0)) / chunk).cast("long")
            == F.col("_gx")
        )
        & (
            F.floor(F.greatest(F.col(ymin), F.col(ry0)) / chunk).cast("long")
            == F.col("_gy")
        )
    )
    return joined.select(*lcols, *[f"{c}{suffix}" for c in right.columns])
