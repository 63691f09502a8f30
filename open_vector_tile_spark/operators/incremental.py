"""Incremental tiling: diff two snapshots of a point corpus and find the
dirty tiles — the only ones a retile has to re-encode; every other blob of
the previous tileset stays valid.

Why: a 10^12-page corpus re-crawls a small fraction per cycle; re-encoding
the whole zoom pyramid per crawl is the single most wasteful job in a naive
pipeline.  The tile key (zoom, tile_x, tile_y) cleanly partitions the
output, so a dirty-set computation turns retiling into an embarrassingly
incremental job: cost scales with the CHANGED tiles, not the corpus.

The diff is one full-outer join on the document key (the same anti-join /
snapshot machinery as operators/resume.py, which supplies the change FEED;
this module consumes materialized before/after snapshots):

    base ⟗ new ON key →  insert  (base null)      → dirties new cell
                         delete  (new null)       → dirties base cell
                         move    (position moved) → dirties BOTH cells (may coincide)
                         touch   (payload equal)  → dirties nothing

The dirty set is SQL-checkable (driver oracle `tile_diff`).  The join
shuffles on the document key (hash-balanced); the dirty set is tiny
relative to the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import tile_project_col


def changed_tiles(
    base: DataFrame,
    new: DataFrame,
    zoom: int,
    key: str = "doc_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """-> ``(tile_x, tile_y, n_inserted, n_deleted, n_moved_in,
    n_moved_out)`` for every tile touched by the snapshot diff (zoom is the
    caller's constant).  A moved document dirties both its old and new
    tile; a document whose position is unchanged dirties nothing (payload
    changes don't move geometry — callers who re-style payloads into tiles
    should union those keys in explicitly).  "Moved" means the POSITION
    changed, not just the tile: an in-tile move still rewrites the tile's
    quantized bytes, so it dirties its (possibly single) tile through both
    the moved-in and moved-out counts.  A document with a null lon or lat
    has no tile, the same as an absent one."""
    tx, ty, _, _ = tile_project_col(F.col(lon), F.col(lat), zoom)
    located = F.col(lon).isNotNull() & F.col(lat).isNotNull()
    b = base.where(located).select(
        F.col(key).alias("_k"),
        F.col(lon).alias("_blon"),
        F.col(lat).alias("_blat"),
        tx.alias("_bx"),
        ty.alias("_by"),
    )
    n = new.where(located).select(
        F.col(key).alias("_k"),
        F.col(lon).alias("_nlon"),
        F.col(lat).alias("_nlat"),
        tx.alias("_nx"),
        ty.alias("_ny"),
    )
    j = b.join(n, "_k", "full_outer")
    ins = F.col("_bx").isNull()
    dele = F.col("_nx").isNull()
    moved = (
        ~ins
        & ~dele
        & ((F.col("_blon") != F.col("_nlon")) | (F.col("_blat") != F.col("_nlat")))
    )
    # emit each row's 0-2 dirty-tile events as ONE array + explode: four
    # union branches each re-referencing j would re-execute the full-outer
    # join shuffle four times (Catalyst does not CSE across union branches)
    ev_struct = lambda x, y, e: F.struct(  # noqa: E731
        x.alias("tile_x"), y.alias("tile_y"), F.lit(e).alias("_e")
    )
    nxy = (F.col("_nx"), F.col("_ny"))
    bxy = (F.col("_bx"), F.col("_by"))
    events_arr = (
        F.when(ins, F.array(ev_struct(*nxy, "ins")))
        .when(dele, F.array(ev_struct(*bxy, "del")))
        .when(moved, F.array(ev_struct(*nxy, "min"), ev_struct(*bxy, "mout")))
        .otherwise(F.array().cast("array<struct<tile_x:long,tile_y:long,_e:string>>"))
    )
    events = j.select(F.explode(events_arr).alias("_ev")).select(
        F.col("_ev.tile_x").alias("tile_x"),
        F.col("_ev.tile_y").alias("tile_y"),
        F.col("_ev._e").alias("_e"),
    )
    return events.groupBy("tile_x", "tile_y").agg(
        F.sum(F.when(F.col("_e") == "ins", 1).otherwise(0)).alias("n_inserted"),
        F.sum(F.when(F.col("_e") == "del", 1).otherwise(0)).alias("n_deleted"),
        F.sum(F.when(F.col("_e") == "min", 1).otherwise(0)).alias("n_moved_in"),
        F.sum(F.when(F.col("_e") == "mout", 1).otherwise(0)).alias("n_moved_out"),
    )

