"""Adaptive quadtree tiling: split overfull tiles until under budget.

Static-zoom tiling (operators/tiler.py) wastes storage on empty ocean
and overflows on Manhattan; real tile pipelines therefore cut an
ADAPTIVE pyramid — start at a coarse zoom and recursively quadtree-split
every tile whose feature count exceeds the budget, until the cap holds
or ``z_max`` is reached (the same budget idea as
operators/budget.py:enforce_tile_budget, but resolved by SUBDIVISION
instead of by dropping features).

Semantics (leaf decision is a pure function of the full per-tile
counts): a tile at zoom z is a LEAF iff its own count <= cap (or
z == z_max), and every ancestor tile back to z_min was overfull.  Points
on tile borders follow the floor convention of functions/geo.py, so a
child's points are exactly a partition of its parent's.

Scale shape:
- per round: ONE partial-agg count shuffle over the *surviving* points
  (only points inside still-overfull tiles carry to the next round — the
  survivor set shrinks geometrically wherever data is even mildly
  uniform, so total work across rounds stays O(N · skew-depth), not
  O(N · levels));
- the overfull tile list is tiny (it is bounded by N/cap) and
  broadcast-semi-joins against the survivors;
- survivors are localCheckpoint-ed per round and each previous copy is
  freed once the next exists — flat lineage, bounded pinned state (the
  bfs_hops discipline); the small per-zoom count tables stay pinned
  because the returned leaves read them;
- everything is integer tile arithmetic: no float determinism concerns,
  and the driver oracle replays the whole recursion CLOSED-FORM (tile at
  z is the z_max tile right-shifted, so each level's counts and the
  ancestor-overfull chain are plain aggregates — no recursion at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pins import Pins

__all__ = ["adaptive_tiling"]


def adaptive_tiling(
    points: DataFrame,
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    z_min: int = 2,
    z_max: int = 8,
    max_per_tile: int = 100,
) -> DataFrame:
    """-> leaf tiles ``(zoom, tile_x, tile_y, n_points)`` of the adaptive
    quadtree over ``points``.  Every input point lands in exactly one
    leaf; tiles at ``z_max`` may exceed the cap (subdivision exhausted —
    the no-silent-caps ledger row for a skew cell).  A point with a null
    coordinate has no tile and lands in no leaf."""
    from open_vector_tile_spark.functions.geo import tile_project_col

    if not (0 <= z_min <= z_max <= 30):
        raise ValueError(f"need 0 <= z_min <= z_max <= 30, got {z_min}, {z_max}")
    if max_per_tile < 1:
        raise ValueError(f"max_per_tile must be >= 1, got {max_per_tile}")

    with Pins() as pins:
        cur = points.where(F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull()).select(
            F.col(lon_col).alias("_lon"), F.col(lat_col).alias("_lat")
        )
        leaves: list[DataFrame] = []
        prev = None
        for z in range(int(z_min), int(z_max) + 1):
            # checkpoint the TILED projection (not the bare points): the
            # counts aggregate and the survivor semi-join both read it, so
            # the mercator/floor math runs once per survivor per round
            tx, ty, _, _ = tile_project_col(F.col("_lon"), F.col("_lat"), z)
            tz = pins.pin(cur.select(tx.alias("tile_x"), ty.alias("tile_y"), "_lon", "_lat"))
            if prev is not None:
                pins.free(prev)
            prev = tz
            counts = pins.keep(
                pins.pin(
                    tz.groupBy("tile_x", "tile_y").agg(
                        F.count(F.lit(1)).cast("long").alias("n_points")
                    )
                )
            )
            if z == z_max:
                leaves.append(counts.withColumn("zoom", F.lit(z).cast("int")))
                break
            ok = counts.where(F.col("n_points") <= max_per_tile)
            leaves.append(ok.withColumn("zoom", F.lit(z).cast("int")))
            over = counts.where(F.col("n_points") > max_per_tile).select(
                "tile_x", "tile_y"
            )
            if over.isEmpty():
                break
            cur = tz.join(F.broadcast(over), ["tile_x", "tile_y"], "left_semi").select(
                "_lon", "_lat"
            )
    out = leaves[0]
    for lf in leaves[1:]:
        out = out.unionByName(lf)
    # each leaf slice is served by its round's checkpointed counts table
    # (already materialized), so the union re-executes nothing
    return out.select("zoom", "tile_x", "tile_y", "n_points")
