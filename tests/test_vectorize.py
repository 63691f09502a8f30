"""Marching-squares class histogram (operators/vectorize.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from open_vector_tile_spark.operators.vectorize import (
    SEG_COUNT,
    cell_classes_np,
    class_histogram,
)


def test_class_histogram_matches_kernel(spark):
    rng = np.random.default_rng(31)
    size = 8
    rows = []
    masks = {}
    for t in range(4):
        mask = rng.random((size, size)) < 0.4
        masks[t] = mask
        ys, xs = np.nonzero(mask)
        for y, x in zip(ys, xs):
            rows.append({"zoom": 3, "tile_x": t, "tile_y": 0,
                         "px": int(x), "py": int(y), "mean_value": 1.0})
        # below-threshold cells present in long form too
        rows.append({"zoom": 3, "tile_x": t, "tile_y": 0,
                     "px": 0, "py": 0, "mean_value": -5.0})
    cells = spark.createDataFrame(pd.DataFrame(rows))
    got = class_histogram(cells, size, 0.5).toPandas()
    for t, mask in masks.items():
        classes = cell_classes_np(mask)
        vals, counts = np.unique(classes[classes != 0], return_counts=True)
        want = dict(zip(vals.tolist(), counts.tolist()))
        sub = got[got.tile_x == t].set_index("cls")
        assert dict(sub.n_cells) == want
        for c, n in want.items():
            assert sub.loc[c, "n_segments"] == SEG_COUNT[c] * n

