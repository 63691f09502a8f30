#!/usr/bin/env python
"""spark-submit entry point for the tiling pipeline.

Cluster launch (north_star):

    python -m zipfile -c /tmp/ovt_spark.zip open_vector_tile_spark
    spark-submit --master <cluster> --py-files /tmp/ovt_spark.zip \\
        tools/submit_pipeline.py --pages <parquet-dir> --store <dir> \\
        --zoom 10 [--polygons] [--pois] [--incremental]

The session comes from spark-submit (master/executor config belong to the
launcher); the job only sets SQL-level knobs (AQE, skew join, Arrow batches).
Resumable: re-running with the same --store anti-joins completed tiles.

Note on --pois + --polygons: this demo CLI attaches the nearest-POI
enrichment to ALL geoparsed points and emits the page layer unjoined (the
polygon layer is emitted alongside, not used as a filter).  The flagship
benchmark chain (`open_vector_tile_spark.benchjobs.build_pipeline_chain`,
used by bench.py and tools/submit_scaling.py --path pipeline) instead
enriches only the spatial-join SURVIVORS — different row sets by design: this tool publishes
every located page; the flagship measures the joined product.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--store", required=True, help="tile store root (snapshots/metrics)")
    ap.add_argument("--zoom", type=int, default=10)
    ap.add_argument("--extent", type=int, default=4096)
    ap.add_argument("--layer", default="pages")
    ap.add_argument("--polygons", action="store_true", help="emit the demo polygon layer beside the page layer (no join)")
    ap.add_argument("--pois", action="store_true", help="attach nearest-POI ids")
    ap.add_argument("--incremental", action="store_true", help="AvailableNow streaming mode")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("ovt-tiling-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # executor python workers do NOT inherit the launcher's env (unlike
        # local mode): unpinned, every numpy worker spawns cpu_count BLAS
        # threads — N workers x M threads oversubscription measured at 2x
        # on the wide level of the round-4 local-cluster scaling runs
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .getOrCreate()
    )
    from open_vector_tile_spark.operators.resume import TileStore

    store = TileStore(args.store)
    t0 = time.time()

    if args.incremental:
        from open_vector_tile_spark.streaming import stream_pages_to_tiles

        ckpt = args.checkpoint or (args.store.rstrip("/") + "_ckpt")
        stream_pages_to_tiles(spark, args.pages, args.store, ckpt, zoom=args.zoom, extent=args.extent)
    else:
        from open_vector_tile_spark.functions.text import geoparse
        from open_vector_tile_spark.operators import encode_tiles, points_to_features

        pages = spark.read.parquet(args.pages)
        pts = geoparse(pages)
        props_cols = ["url", "lang"]
        if args.pois:
            # map-only nearest-POI enrichment column (no join-back diamond
            # — see operators/knn.py nearest_poi_col)
            from pyspark.sql import functions as F

            from open_vector_tile_spark.operators.knn import nearest_poi_col
            from open_vector_tile_spark.sources import pois_pdf

            pts = pts.withColumn(
                "near_poi",
                nearest_poi_col(pois_pdf(200))(
                    F.col("lon"), F.col("lat")
                ).cast("string"),
            )
            props_cols.append("near_poi")
        feats = points_to_features(
            pts,
            zoom=args.zoom,
            layer=args.layer,
            extent=args.extent,
            props_cols=props_cols,
        )
        if args.polygons:
            from open_vector_tile_spark.operators import polygons_to_features_dist
            from open_vector_tile_spark.sources import polygons_pdf

            polys = spark.createDataFrame(polygons_pdf())
            feats = feats.unionByName(
                polygons_to_features_dist(
                    polys, zoom=args.zoom, layer="admin", extent=args.extent,
                    props_cols=["name", "kind", "rank"],
                ),
                allowMissingColumns=True,
            )
        pending = store.pending(feats)
        if pending.isEmpty():
            print("nothing pending (resume: all tiles committed)", file=sys.stderr)
        else:
            tiles = encode_tiles(pending)
            snap = store.commit(tiles)
            print(f"committed {snap}", file=sys.stderr)

    out = store.read_tiles(spark)
    stats = out.groupBy().agg({"n_features": "sum", "n_bytes": "sum", "*": "count"}).collect()[0]
    print(
        json.dumps(
            {
                "tiles": stats["count(1)"],
                "features": int(stats["sum(n_features)"]),
                "bytes": int(stats["sum(n_bytes)"]),
                "wall_sec": round(time.time() - t0, 2),
                "snapshots": len(store.snapshots()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
