"""Tileset merge/overlay: combine two tilesets at the layer level.

The standard composition op for tile pipelines (base layers + overlay,
incremental layer refresh): a FULL OUTER join on the tile key aligns the two
tilesets, then each pair of blobs merges to the union of their vector
layers / grids / images (name collisions resolved by ``prefer``).  Tiles
present on only one side pass through byte-unchanged (header-only parse for
the feature count; feature bodies are never decoded in the no-overlap case).

Scale shape: one shuffle on the tile key (the join); the merge itself is
per-row Python over only the INTERSECTING tiles — for disjoint tilesets the
Arrow batch path moves bytes without parsing them.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec.tile import VectorTile, merge_tile_bytes

TILE_KEY = ["zoom", "tile_x", "tile_y"]

# Same shape as tiler.TILE_SCHEMA so merged tilesets compose with freshly
# encoded ones (unionByName) without surgery.
MERGED_SCHEMA = (
    "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long"
)


def _count_features(blob: bytes) -> int:
    """Feature count via a header-only parse (layers are lazy: feature
    bodies are never decoded, so this is cheap even for pass-through
    tiles)."""
    return sum(len(layer) for layer in VectorTile(blob).layers.values())


def merge_tilesets(a: DataFrame, b: DataFrame, prefer: str = "b") -> DataFrame:
    """tiles(zoom, tile_x, tile_y, tile) ⋈ tiles -> merged tiles.

    ``prefer`` ("a" | "b") picks the winner when both sides carry a layer /
    grid / image of the same name in the same tile."""
    if prefer not in ("a", "b"):
        raise ValueError(f"prefer must be 'a'|'b', got {prefer!r}")
    ja = a.select(*TILE_KEY, F.col("tile").alias("_ta"))
    jb = b.select(*TILE_KEY, F.col("tile").alias("_tb"))
    joined = ja.join(jb, on=TILE_KEY, how="full_outer")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tiles = []
            for ta, tb in zip(pdf["_ta"], pdf["_tb"]):
                ta = bytes(ta) if ta is not None else None
                tb = bytes(tb) if tb is not None else None
                tiles.append(merge_tile_bytes(ta, tb, prefer))
            out = pdf[TILE_KEY].copy()
            out["tile"] = tiles
            out["n_features"] = [_count_features(t) for t in tiles]
            out["n_bytes"] = [len(t) for t in tiles]
            yield out

    return joined.mapInPandas(run, MERGED_SCHEMA)

