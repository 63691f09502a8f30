"""Shared scaling-benchmark job factory.

bench.py's in-process ``_scale_measure`` and tools/submit_scaling.py's
spark-submit ``measure`` entry point time THE SAME job at two parallelism
levels — BENCH.md compares their numbers, so the job definition must live
in exactly one place (this module ships inside the ``--py-files`` zip,
which bench.py does not).

Paths:

- ``fast``   — geoparse -> columnar featurize -> bulk OVT point encode;
  the throughput headline (parse -> shuffle -> encode, JVM+Arrow).
- ``verify`` — same, then decode-WALK every produced tile (full feature +
  geometry read) and REDUCE inside the same Python pass.  Raises
  arithmetic intensity per shuffled byte without shipping decoded rows
  back over Arrow — feature-row egress is memory-bandwidth-bound on this
  box and inverts the scaling signal (BENCH.md).

Both return a DataFrame whose single collected row carries ``rows`` and
``tiles`` (verify also folds a ``csum`` geometry checksum so the decode
walk cannot be optimized away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_tile_bench_job(
    spark: SparkSession, pages: DataFrame, path: str, total_cores: int
) -> DataFrame:
    """One scaling-bench job (``fast`` | ``verify``) over a pages frame.

    Rebuild per measured pass: a re-collected DataFrame object keeps its
    RDD lineage, so Spark SKIPS stages whose shuffle outputs still exist —
    a fresh DAG gets fresh shuffle ids and re-executes everything.
    """
    from .functions.text import geoparse
    from .operators import encode_point_tiles, points_to_features_columnar

    pts = geoparse(pages)
    feats, meta = points_to_features_columnar(
        pts, zoom=10, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    tiles = encode_point_tiles(feats, meta, partitions=3 * total_cores)
    if path == "verify":
        import pandas as pd

        from .codec import VectorTile

        def decode_verify(batches):
            for pdf in batches:
                n = 0
                csum = 0
                for blob in pdf["tile"].tolist():
                    vt = VectorTile(bytes(blob))
                    for layer in vt.layers.values():
                        for i in range(len(layer)):
                            p = layer.feature(i).load_points()
                            n += 1
                            if p:
                                csum += p[0][0]
                yield pd.DataFrame({"rows": [n], "tiles": [len(pdf)], "csum": [csum]})

        return tiles.mapInPandas(
            decode_verify, "rows long, tiles long, csum long"
        ).agg(
            F.sum("rows").alias("rows"),
            F.sum("tiles").alias("tiles"),
            F.sum("csum").alias("csum"),
        )
    if path != "fast":
        raise ValueError(f"unknown scaling path {path!r} (fast|verify)")
    return tiles.agg(F.count("*").alias("tiles"), F.sum("n_features").alias("rows"))


PIPELINE_STAGES = ("geoparse", "sjoin", "nn_join", "encode")


def build_pipeline_chain(
    spark: SparkSession, pages: DataFrame, total_cores: int, upto: str = "encode"
) -> DataFrame:
    """The FLAGSHIP end-to-end pipeline, single-sourced: geoparse -> cell
    assign + two-phase polygon join -> nearest-POI enrichment column ->
    columnar featurize -> bulk OVT point encode.

    bench.py's ``pipeline`` scaling path, tools/submit_scaling.py
    ``--path pipeline`` and ``python3 perfbench/run.py --trace 1`` all
    time THIS chain — the definition lives here so the traced stage
    deltas can never drift from the job bench.py publishes.
    The resumable composition, ``operators.pipeline.run_pipeline``, is
    what the spark-submit CLI tools/submit_pipeline.py runs: the same map
    pass, then an id-sorted generic encode with polygon layers and a
    ``TileStore`` commit.  ``upto`` truncates the chain at a stage
    boundary (PIPELINE_STAGES) so the trace can time cumulative
    sub-chains; the default is the full tiles frame (callers add the
    tileset write, which is a sink choice, not chain logic).

    The map side (geoparse, polygon join, nearest POI) is ONE
    ``mapInArrow`` pass per page batch (``operators.pipeline._map_side``):
    one Python runner per map task instead of three, no JVM broadcast join
    between them and no lat/lon round trip of the whole corpus.  Its
    ``geoparse``/``sjoin``/``nn_join`` cut-offs stop that pass after the
    stage, so they time in-pass steps.  The nearest POI stays a map-side
    column (an earlier knn_broadcast + url join-back was a DAG diamond that
    ran the upstream twice per action).

    The encode runs one wave wide (``total_cores`` tasks); see
    ``tiler._arrange_for_encode`` for why widths follow rows.
    """
    from .operators import encode_point_tiles, points_to_features_columnar
    from .operators.pipeline import _map_side
    from .sources import pois_pdf, polygons_pdf

    if upto not in PIPELINE_STAGES:
        raise ValueError(f"unknown stage {upto!r} (one of {PIPELINE_STAGES})")
    mapped = _map_side(
        pages, polygons_pdf(), pois_pdf(200), zoom=6,
        upto="nn_join" if upto == "encode" else upto,
    )
    if upto in ("geoparse", "sjoin"):
        return mapped
    enriched = mapped.withColumn("near_poi", F.col("near_poi").cast("string"))
    if upto == "nn_join":
        return enriched
    feats, meta = points_to_features_columnar(
        enriched,
        zoom=10,
        layer="pages",
        extent=4096,
        props_cols=["url", "lang", "near_poi"],
    )
    return encode_point_tiles(feats, meta, partitions=total_cores)


PIPELINE_SINK_COLS = ("zoom", "tile_x", "tile_y", "tile")


def write_pipeline_tiles(tiles: DataFrame, out_dir: str) -> None:
    """The flagship sink discipline, single-sourced with the chain:
    shard-layout tileset write of exactly the tile columns.  bench.py's
    pipeline scaling path and tools/submit_scaling.py's pipeline measure
    both call THIS (their numbers are compared in BENCH.md, so the sink
    half must not drift any more than the chain half)."""
    (
        tiles.select(*PIPELINE_SINK_COLS)
        .write.format("ovt_tileset")
        .option("path", out_dir)
        .option("layout", "shard")
        .mode("append")
        .save()
    )


def read_back_tile_count(spark: SparkSession, out_dir: str) -> int:
    """Untimed read-back count proving the write landed (same DSv2 source,
    round trip through the shard layout)."""
    return (
        spark.read.format("ovt_tileset").option("path", out_dir).load().count()
    )
