#!/usr/bin/env python
"""spark-submit entry point for the tiling pipeline.

Cluster launch (north_star):

    python -m zipfile -c /tmp/ovt_spark.zip open_vector_tile_spark
    spark-submit --master <cluster> --py-files /tmp/ovt_spark.zip \\
        tools/submit_pipeline.py --pages <parquet-dir> --store <dir> \\
        --zoom 10 [--pois] [--incremental]

The session comes from spark-submit (master/executor config belong to the
launcher); the job only sets SQL-level knobs (AQE, skew join, Arrow batches).

A batch run is one ``operators.pipeline.run_pipeline`` call: it publishes
the pages that the spatial join places inside a demo polygon
(``sources.polygons_pdf``), in a ``pages`` layer, plus the ``admin`` and
``landuse`` polygon layers; ``--pois`` adds each page's nearest POI.
Resumable: re-running with the same --store anti-joins completed tiles, and
a run with nothing pending commits no snapshot.

``--incremental`` instead drains newly landed pages with Structured
Streaming (``streaming.stream_pages_to_tiles``) and rebuilds their tiles
from the store's feature log; it keeps every located page, unjoined, in
the ``pages`` layer, and no polygon layers.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--store", required=True, help="tile store root (snapshots/metrics)")
    ap.add_argument("--zoom", type=int, default=10)
    ap.add_argument("--extent", type=int, default=4096)
    ap.add_argument("--pois", action="store_true", help="attach nearest-POI ids")
    ap.add_argument("--incremental", action="store_true", help="AvailableNow streaming mode")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """Tile ``args.pages`` into the store at ``args.store``; prints and
    returns the store's totals."""
    from open_vector_tile_spark.operators.resume import TileStore

    store = TileStore(args.store)
    t0 = time.time()

    if args.incremental:
        from open_vector_tile_spark.streaming import stream_pages_to_tiles

        ckpt = args.checkpoint or (args.store.rstrip("/") + "_ckpt")
        stream_pages_to_tiles(spark, args.pages, args.store, ckpt, zoom=args.zoom, extent=args.extent)
    else:
        from open_vector_tile_spark.operators.pipeline import run_pipeline
        from open_vector_tile_spark.sources import pois_pdf, polygons_pdf

        before = store.snapshots()
        run_pipeline(
            spark.read.parquet(args.pages),
            polygons_pdf(),
            pois_pdf(200) if args.pois else None,
            zoom=args.zoom,
            extent=args.extent,
            store=store,
        )
        new = [s for s in store.snapshots() if s not in before]
        if new:
            print(f"committed {new[0]}", file=sys.stderr)
        else:
            print("nothing pending (resume: all tiles committed)", file=sys.stderr)

    out = store.read_tiles(spark)
    stats = out.groupBy().agg({"n_features": "sum", "n_bytes": "sum", "*": "count"}).collect()[0]
    summary = {
        "tiles": stats["count(1)"],
        "features": int(stats["sum(n_features)"]),
        "bytes": int(stats["sum(n_bytes)"]),
        "wall_sec": round(time.time() - t0, 2),
        "snapshots": len(store.snapshots()),
    }
    print(json.dumps(summary))
    return summary


def main() -> None:
    args = parse_args()

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
    try:
        run(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
