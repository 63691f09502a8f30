"""Pinned-RDD accounting for every operator that owns eager checkpoints.

An operator call may leave pinned exactly the checkpointed frames its
returned result reads; everything else it pinned must be released, on
the error path too.  Counts are the RDD ids NEWLY present in
``getPersistentRDDs`` — an id-set difference, not a size difference,
because the ContextCleaner may unpersist unrelated RDDs mid-call and a
size delta would then hide a leak.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.operators import graph
from open_vector_tile_spark.operators._pins import Pins
from open_vector_tile_spark.sources import pages_pdf, pois_pdf


def _pinned(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _new_pins(spark, call):
    before = _pinned(spark)
    out = call()
    return out, _pinned(spark) - before


def _edges(spark, pairs, cols="src long, dst long"):
    return spark.createDataFrame(pairs, cols)


def _chain(spark, n=200):
    return _edges(spark, [(i, i + 1) for i in range(n)])


def _cycle(spark, n=50):
    return _edges(spark, [(i, (i + 1) % n) for i in range(n)])


def _seeds(spark):
    return spark.createDataFrame([(0,)], "id long")


def _sources(spark):
    return spark.createDataFrame([(0,)], "node long")


def _weighted(spark):
    return spark.createDataFrame(
        [(i, i + 1, 1 + i % 3) for i in range(30)], "src long, dst long, w long"
    )


_TEXTS = [
    (1, "graph ranking of words in a graph of words ranks central words"),
    (2, "tiles encode features and tiles decode features into layers"),
]


def _textrank(spark, n_iter):
    from open_vector_tile_spark.operators.retrieval import textrank_keywords

    df = spark.createDataFrame(_TEXTS, "doc_id long, text string")
    return textrank_keywords(df, n_iter=n_iter)


def _redirects(spark):
    from open_vector_tile_spark.operators.redirects import resolve_redirects

    chain = [(f"u{i}", f"u{i + 1}") for i in range(60)]
    return resolve_redirects(
        spark.createDataFrame(chain, "src_url string, dst_url string")
    )


def _bpe(spark):
    from open_vector_tile_spark.operators.bpe import bpe_train

    df = spark.createDataFrame([(t,) for _i, t in _TEXTS], "text string")
    return bpe_train(df, num_merges=4)


def _grid_cluster(spark):
    from open_vector_tile_spark.operators.cluster import grid_cluster

    pts = [(i, 0.1 + (i % 9) * 0.1, 0.1) for i in range(30)]
    df = spark.createDataFrame(pts, "pid long, lon double, lat double")
    return grid_cluster(df, "pid")


def _adaptive(spark):
    """Every point in one spot: zooms 2, 3 and 4 all run (3 count tables)."""
    from open_vector_tile_spark.operators.adaptive import adaptive_tiling

    df = spark.createDataFrame([(10.0, 10.0)] * 8, "lon double, lat double")
    return adaptive_tiling(df, z_min=2, z_max=4, max_per_tile=2)


def _morans(spark):
    from open_vector_tile_spark.operators.spatial_stats import spatial_autocorrelation

    cells = [(x, y, (x * 7 + y * 3) % 5) for x in range(6) for y in range(6)]
    return spatial_autocorrelation(spark.createDataFrame(cells, "gx long, gy long, v long"))


def _line_merge(spark):
    from open_vector_tile_spark.operators.geometry import line_merge

    rows = [(i, i, 0, i + 1, 0) for i in range(12)]
    return line_merge(spark.createDataFrame(rows, ["seg_id", "ax", "ay", "bx", "by"]))


def _pages_at(spark, pois):
    return spark.createDataFrame(
        pd.DataFrame({"url": [f"p{i}" for i in pois.index], "lon": pois.lon, "lat": pois.lat})
    )


def _knn_resolved(spark):
    """Every page sits on a POI: ring 0 resolves all, one round runs."""
    from open_vector_tile_spark.operators.knn import knn_cell_ring

    pois = pois_pdf(20)
    return knn_cell_ring(_pages_at(spark, pois), pois, zoom=4, k=1)


def _knn_fallback(spark):
    """Five POIs over 256 cells cannot give any page 3 candidates in ring
    0, so every page falls back to the broadcast kernel over ``pending``."""
    from open_vector_tile_spark.operators.knn import knn_cell_ring

    pts = _pages_at(spark, pois_pdf(40).iloc[5:])
    return knn_cell_ring(pts, pois_pdf(5), zoom=4, k=3, max_rings=0)


# (case, call, frames the returned result reads); the ingest run, which
# must leave none, has its own test below
CASES = [
    ("connected_components", lambda s: graph.connected_components(_chain(s)), 1),
    ("pagerank_n5", lambda s: graph.pagerank(_cycle(s), n_iter=5), 1),
    ("pagerank_n6", lambda s: graph.pagerank(_cycle(s), n_iter=6), 1),
    ("pagerank_no_nodes", lambda s: graph.pagerank(_edges(s, [(1, 1)])), 1),
    ("hits", lambda s: graph.hits(_cycle(s)), 1),
    ("personalized_pagerank", lambda s: graph.personalized_pagerank(_cycle(s), _seeds(s)), 1),
    ("label_propagation", lambda s: graph.label_propagation(_cycle(s)), 1),
    ("bfs_hops", lambda s: graph.bfs_hops(_chain(s, 20), _sources(s)), 1),
    ("shortest_paths", lambda s: graph.shortest_paths(_weighted(s), _sources(s)), 1),
    ("textrank_n4", lambda s: _textrank(s, 4), 2),
    ("textrank_n8", lambda s: _textrank(s, 8), 1),
    ("resolve_redirects", _redirects, 1),
    ("bpe_train", _bpe, 0),
    ("grid_cluster", _grid_cluster, 1),
    ("adaptive_tiling", _adaptive, 3),
    ("spatial_autocorrelation", _morans, 0),
    ("line_merge", _line_merge, 1),
    ("knn_cell_ring", _knn_resolved, 1),
    ("knn_cell_ring_fallback", _knn_fallback, 2),
]


@pytest.mark.parametrize(
    "call,want", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_pinned_rdds(spark, call, want):
    out, new = _new_pins(spark, lambda: call(spark))
    assert len(new) == want, f"{len(new)} new pinned RDDs, result reads {want}"
    out.collect()  # everything the result reads is still there


def test_connected_components_error_path_releases_everything(spark):
    before = _pinned(spark)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        graph.connected_components(_chain(spark), max_rounds=1)
    assert _pinned(spark) - before == set()


@pytest.mark.parametrize(
    "call",
    [
        lambda s: graph.pagerank(_edges(s, [(1, 1), (2, 2)])),
        lambda s: _textrank(s, 4),
        _knn_fallback,
    ],
    ids=["pagerank_no_nodes", "textrank_default", "knn_cell_ring_fallback"],
)
def test_kept_frames_stay_readable(spark, call):
    out = call(spark)
    first = sorted(map(tuple, out.collect()))
    assert first == sorted(map(tuple, out.collect()))


# sha256 over the (zoom, tile_x, tile_y, tile) rows of the two-batch run,
# sorted by key, as committed by the ingest code from before it released
# its per-batch checkpoint: releasing it must leave the tile bytes alone
_INGEST_TILES_SHA = "ef5e52aca639c1aededfae3283e8aa13b26bb5baabee7fff06d2d53601885c04"


def test_incremental_ingest_releases_pins_and_keeps_tile_bytes(spark, tmp_path):
    """Two micro-batches leave no pinned RDD: a long-running stream must
    not hold O(batches) feature tables."""
    from open_vector_tile_spark.operators import TileStore
    from open_vector_tile_spark.streaming.ingest import incremental_tile_run

    store = TileStore(str(tmp_path / "store"))
    pages = pages_pdf(120)
    before = _pinned(spark)
    for b, part in enumerate((pages.iloc[:60], pages.iloc[60:])):
        incremental_tile_run(
            spark.createDataFrame(part), store, zoom=4,
            props_cols=["url", "lang"], batch_id=b,
        )
    assert _pinned(spark) - before == set()
    rows = (
        store.read_tiles(spark)
        .select("zoom", "tile_x", "tile_y", "tile")
        .orderBy("zoom", "tile_x", "tile_y")
        .collect()
    )
    h = hashlib.sha256()
    for z, x, y, tile in rows:
        h.update(f"{z}/{x}/{y}:".encode() + bytes(tile))
    assert len(rows) > 1
    assert h.hexdigest() == _INGEST_TILES_SHA


def test_free_and_keep_refuse_frames_not_held(spark):
    df = spark.range(3)
    with Pins() as pins:
        pinned = pins.pin(df)
        with pytest.raises(ValueError, match="not held"):
            pins.free(df)  # the lazy frame, not the checkpoint
        with pytest.raises(ValueError, match="not a checkpointed frame"):
            pins.adopt(df.filter(F.col("id") > 0))
        pins.free(pinned)
        with pytest.raises(ValueError, match="not held"):
            pins.keep(pinned)
