"""Raster → vector: marching-squares classes of grid layers.

:mod:`.gridding` builds the grids (A8/S9); this module classifies each
2×2 cell of the ``value >= threshold`` mask, the first step of binary
(midpoint) marching squares.  The mask is padded with one ring of zeros,
so every contour would close; each cell gets a 4-bit class from its
corners and contributes 0–2 boundary segments.  Saddles (classes 5/10)
use the fixed "separated" rule — deterministic, no center sampling.

The class HISTOGRAM per tile is pure relational algebra (neighbor
self-join), which is what the driver oracle `marching_squares` checks
against DuckDB.

Cell class → segment count (the oracle's lookup):
0,15 → 0;  5,10 → 2;  everything else → 1.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# corner bit order: 1=TL, 2=TR, 4=BR, 8=BL
SEG_COUNT = {c: 0 if c in (0, 15) else 2 if c in (5, 10) else 1 for c in range(16)}


def cell_classes_np(mask: np.ndarray) -> np.ndarray:
    """4-bit marching-squares classes of the PADDED mask (adds a zero ring;
    output is (h+1, w+1) cells for an (h, w) mask)."""
    b = np.zeros((mask.shape[0] + 2, mask.shape[1] + 2), dtype=np.uint8)
    b[1:-1, 1:-1] = mask.astype(np.uint8)
    return (
        b[:-1, :-1] | (b[:-1, 1:] << 1) | (b[1:, 1:] << 2) | (b[1:, :-1] << 3)
    )


def class_histogram(
    cells: DataFrame,
    size: int,
    threshold: float,
    value: str = "mean_value",
) -> DataFrame:
    """Per-tile marching-squares class histogram from LONG-FORM grid cells
    (``grid_aggregate`` output: zoom, tile_x, tile_y, px, py, value) —
    pure relational algebra, no UDF: each above-threshold pixel
    contributes its bit to the 4 cells that touch it (one explode + one
    partial-agg shuffle), absent pixels are below threshold by
    construction.  Output: (zoom, tile_x, tile_y, cls, n_cells,
    n_segments); cells of class 0 (nothing set) are not emitted — a sparse
    histogram, matching what a SQL twin can compute without materializing
    size² rows per tile."""
    # validate against the declared grid size up front: an out-of-range
    # pixel would contribute phantom corner bits outside the (size, size)
    # mask
    on = cells.where(
        (F.col(value) >= threshold)
        & F.col("px").between(0, size - 1)
        & F.col("py").between(0, size - 1)
    ).select("zoom", "tile_x", "tile_y", "px", "py")
    # pixel (px,py) is: TL corner of cell (px+1, py+1) [bit 1],
    # TR of cell (px, py+1) [bit 2], BR of (px, py) [bit 4],
    # BL of (px+1, py) [bit 8] — in PADDED cell coords (pixel p is corner
    # of cells p and p+1 along each axis).
    contrib = on.select(
        "zoom", "tile_x", "tile_y",
        F.explode(
            F.array(
                F.struct((F.col("px") + 1).alias("cx"), (F.col("py") + 1).alias("cy"), F.lit(1).alias("bit")),
                F.struct(F.col("px").alias("cx"), (F.col("py") + 1).alias("cy"), F.lit(2).alias("bit")),
                F.struct(F.col("px").alias("cx"), F.col("py").alias("cy"), F.lit(4).alias("bit")),
                F.struct((F.col("px") + 1).alias("cx"), F.col("py").alias("cy"), F.lit(8).alias("bit")),
            )
        ).alias("c"),
    ).select(
        "zoom", "tile_x", "tile_y",
        F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"), F.col("c.bit").alias("bit"),
    )
    # padded cell grid is (size+1)×(size+1); corner contributions outside
    # it never exist because px,py are in [0, size-1]
    classes = contrib.groupBy("zoom", "tile_x", "tile_y", "cx", "cy").agg(
        F.sum("bit").alias("cls")
    )
    seg_expr = (
        F.when(F.col("cls").isin(5, 10), F.lit(2))
        .when(F.col("cls") == 15, F.lit(0))
        .otherwise(F.lit(1))
    )
    return (
        classes.groupBy("zoom", "tile_x", "tile_y", "cls")
        .agg(F.count("*").alias("n_cells"))
        .withColumn("n_segments", (seg_expr * F.col("n_cells")).cast("long"))
    )

