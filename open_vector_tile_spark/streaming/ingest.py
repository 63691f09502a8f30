"""Incremental ingest (SURVEY §2.9).

The reference is pure batch; the rule requires *batch resumability*, which
:mod:`..operators.resume` provides (snapshot anti-join).  For continuous
arrival of new pages, the idiomatic Spark fit is Structured Streaming with
``Trigger.AvailableNow``: drain whatever landed since the last checkpoint,
run the same deterministic tile pipeline per micro-batch via
``foreachBatch``, commit a snapshot, stop.  Exactly-once at tile granularity
comes from the streaming checkpoint (source offsets) + batch-id-scoped
feature-log appends (a replay OVERWRITES its own batch subdir — no
double-append) + latest-snapshot-wins tile reads.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import geoparse
from ..operators._pins import Pins
from ..operators.resume import TileStore
from ..operators.tiler import encode_tiles, points_to_features


def incremental_tile_run(
    pages: DataFrame,
    store: TileStore,
    zoom: int,
    layer: str = "pages",
    extent: int = 4096,
    props_cols: Optional[list] = None,
    batch_id: int | None = None,
) -> str | None:
    """One batch increment (S12/J5):

    1. geoparse + featurize the new pages, append to the feature log
    2. affected tile keys = distinct keys of the new batch
    3. re-encode ONLY affected tiles from the FULL feature log (new features
       merged with prior ones in the same tile)
    4. commit a snapshot; reads are latest-snapshot-wins per tile key

    Returns the new snapshot name or None when the batch was empty."""
    from ..operators.resume import tile_bucket_col

    # stable per-feature id (hash of url): encode_tiles sorts within a tile
    # by id, so a replayed micro-batch re-encodes BYTE-IDENTICAL tiles —
    # without it, shuffle arrival order would vary run to run and
    # changed_tiles would report phantom diffs to downstream consumers
    feats = points_to_features(
        geoparse(pages).withColumn("_fid", F.xxhash64("url")),
        zoom=zoom, layer=layer, extent=extent, props_cols=props_cols,
        id_col="_fid",
    )
    # materialize ONCE: isEmpty, the log append, and the affected-keys scan
    # would otherwise each re-run the geoparse stage.  The commit writes
    # every tile, so nothing reads the checkpoint after it: a long-running
    # stream holds one batch's features, not O(batches)
    with Pins() as pins:
        feats = pins.pin(feats)
        if feats.isEmpty():
            return None
        store.append_features(feats, batch_id=batch_id)
        spark = pages.sparkSession
        affected = feats.select("zoom", "tile_x", "tile_y").distinct()
        # prune the log read to the hash buckets the affected tiles live in —
        # per-batch cost scales with the touched slice of history, not the
        # whole append-only log
        buckets = [
            r[0] for r in affected.select(tile_bucket_col().alias("tb")).distinct().collect()
        ]
        all_feats = store.read_features(spark, buckets=buckets)
        to_encode = all_feats.join(F.broadcast(affected), on=["zoom", "tile_x", "tile_y"], how="leftsemi")
        tiles = encode_tiles(to_encode)
        return store.commit(tiles)


def stream_pages_to_tiles(
    spark: SparkSession,
    source_dir: str,
    store_root: str,
    checkpoint_dir: str,
    zoom: int,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    extent: int = 4096,
):
    """Structured Streaming driver: parquet file source -> AvailableNow ->
    per-micro-batch tile pipeline with snapshot commits.

    Returns the finished StreamingQuery (already awaited).
    """
    store = TileStore(store_root)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch_id keys the feature-log append: a replayed batch rewrites
        # its own subdir (idempotent under at-least-once) instead of
        # double-appending its features into every future tile rebuild
        incremental_tile_run(
            batch_df, store, zoom=zoom, extent=extent,
            props_cols=["url", "lang"], batch_id=batch_id,
        )

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
