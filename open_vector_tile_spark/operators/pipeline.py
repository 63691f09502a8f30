"""The flagship end-to-end pipeline (SURVEY §3.4, north_rule):

pages -> one fused map pass per Arrow batch (:func:`_map_side`):
         geoparse (P15, text byte-identity preserved)
         -> cell encode (F19)
         -> two-phase spatial join to polygon layers (J1 cell probe + J2 refine)
         -> nearest POI anchor (J3/O4)
      -> extent quantize (P13) per zoom
      -> shuffle on (zoom, tile_x, tile_y) -> OVT encode (S7)
      -> tiles table + lineage/metrics (A7), resumable (J5).

``run_pipeline`` is the one resumable page -> tile composition; the CLI
``tools/submit_pipeline.py`` runs it.  It shares the map pass with the
measured ``benchjobs.build_pipeline_chain``.  The pass calls the kernels the
standalone operators use (``geoparse``'s Arrow regex, ``spatial_join``'s
covering and refine, ``nearest_poi_col``'s haversine pick), so each step
keeps one implementation.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import cell_id_np
from ..functions.text import geo_parse_arrow
from .knn import nearest_poi_np
from .spatial_join import covering_arrays, polygon_rings, refine_mask
from .tiler import encode_tiles, points_to_features, polygons_to_features_dist
from .resume import TileStore

_MAP_STAGES = ("geoparse", "sjoin", "nn_join")


def _map_side(
    pages: DataFrame,
    polygons_pdf: pd.DataFrame,
    pois_pdf: Optional[pd.DataFrame],
    zoom: int,
    upto: str = "nn_join",
) -> DataFrame:
    """The flagship chain's map side as ONE ``mapInArrow`` pass per page
    batch: parse the first coordinate mention, compute the z``zoom`` cell,
    probe the exact polygon covering, refine each candidate with the exact
    point-in-polygon test and pick the nearest POI.  Only ``url``, ``lang``
    and ``text`` go into Python; only matched rows come back, as
    ``url, lang, lon, lat, poly_id, near_poi`` (``near_poi`` is a long,
    null with no anchors; absent when ``pois_pdf`` is None).

    It equals ``geoparse -> spatial_join(zoom) -> nearest_poi_col``
    (tests/test_chain_map_side.py) with one Python runner per task instead
    of three, no JVM broadcast join between them and no lat/lon round trip
    of the whole corpus.  Matches keep page order within a batch (a page's
    polygons in covering order), so a chain without an id sort key keeps
    its within-tile feature order.

    ``upto`` stops after a stage of _MAP_STAGES: ``geoparse`` gives every
    parsed page with ``lon``/``lat``, ``sjoin`` adds the matches and
    ``poly_id``, ``nn_join`` adds ``near_poi``.

    The point's cell comes from numpy's mercator math.  The JVM's
    ``cell_col`` may round a point within an ULP of a tile edge into the
    neighbouring cell, but the match cannot differ: the exact covering
    holds every cell a polygon touches."""
    stop = _MAP_STAGES.index(upto)
    cells, cell_pids = covering_arrays(polygons_pdf, zoom)
    by_cell = np.argsort(cells, kind="stable")
    cells, cell_pids = cells[by_cell], cell_pids[by_cell]
    rings = polygon_rings(polygons_pdf)
    nearest = stop >= 2 and pois_pdf is not None
    if nearest:
        plon = pois_pdf["lon"].to_numpy(dtype=np.float64)
        plat = pois_pdf["lat"].to_numpy(dtype=np.float64)
        pids = pois_pdf["poi_id"].to_numpy(dtype=np.int64)
    types = dict(pages.select("url", "lang").dtypes)
    schema = f"url {types['url']}, lang {types['lang']}, lon double, lat double"
    if stop >= 1:
        schema += ", poly_id long"
    if nearest:
        schema += ", near_poi long"

    def fused(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            lat, lon = geo_parse_arrow(batch.column("text"))
            parsed = pc.and_(lat.is_valid(), lon.is_valid())
            rows = np.flatnonzero(parsed.to_numpy(zero_copy_only=False))
            px = lon.to_numpy(zero_copy_only=False)[rows]
            py = lat.to_numpy(zero_copy_only=False)[rows]
            out = {}
            if stop >= 1:
                # J1: each point's run of (cell, poly_id) covering rows
                c = cell_id_np(px, py, zoom)
                lo = np.searchsorted(cells, c, "left")
                n = np.searchsorted(cells, c, "right") - lo
                cand = np.repeat(np.arange(len(c)), n)
                pos = np.arange(len(cand)) + np.repeat(lo - (np.cumsum(n) - n), n)
                pid = cell_pids[pos]
                # J2: exact refine of every candidate pair
                keep = refine_mask(px[cand], py[cand], pid, rings)
                hit = cand[keep]
                rows, px, py = rows[hit], px[hit], py[hit]
                out["poly_id"] = pid[keep]
            if not len(rows):
                continue
            if nearest:
                out["near_poi"] = (
                    pa.array(nearest_poi_np(px, py, plon, plat, pids))
                    if len(pids)
                    else pa.nulls(len(rows), pa.int64())
                )
            take = pa.array(rows)
            yield pa.RecordBatch.from_pydict(
                {
                    "url": batch.column("url").take(take),
                    "lang": batch.column("lang").take(take),
                    "lon": px,
                    "lat": py,
                    **out,
                }
            )

    return pages.select("url", "lang", "text").mapInArrow(fused, schema)


def run_pipeline(
    pages: DataFrame,
    polygons_pdf: pd.DataFrame,
    pois_pdf: Optional[pd.DataFrame],
    zoom: int,
    extent: int = 4096,
    store: Optional[TileStore] = None,
) -> DataFrame:
    """-> tiles DataFrame (TILE_SCHEMA). When ``store`` is given, skips
    already-committed tiles (resume) and commits the rest as one snapshot;
    with nothing pending it commits no snapshot.

    Only the NEAREST POI is attached to the page features; callers that
    need the full top-k result set should run :func:`knn_broadcast` /
    :func:`knn_cell_ring` directly.

    Corpus semantics: the spatial join is INNER — a geoparsed page whose
    coordinates fall in no polygon is excluded from the page layer (the
    join defines the corpus of interest, e.g. pages inside admin areas).
    Callers that need coverage accounting for the dropped remainder should
    run the geolocate-with-fallback query shape instead (driver query
    ``geo_fallback``), which reports unlocated pages with a null tile.

    Multi-layer polygons: when ``polygons_pdf`` has a ``layer`` column the
    polygon features are encoded under their own OVT layer names; without
    one they all land in a single ``admin`` layer.  Their properties are
    whichever of ``name``, ``kind`` and ``rank`` the table has.
    """
    # geoparse, the polygon join and the nearest-POI pick run in one map
    # pass; the nearest POI is attached BEFORE featurization so props_json
    # is serialized exactly once
    joined = _map_side(pages, polygons_pdf, pois_pdf, zoom)
    # a stable numeric feature id gives encode_tiles a within-tile sort key
    # — without one, tile BYTES depend on shuffle arrival order and a
    # resumed run would mix old and fresh encodings of identical inputs
    # that differ byte-wise.  Hash (url, poly_id), NOT url alone: a page
    # inside two overlapping polygons yields two feature rows, and equal
    # sort ids would leave their relative order to shuffle arrival.
    joined = joined.withColumn(
        "_fid", F.xxhash64(F.col("url"), F.col("poly_id"))
    )
    props_cols = ["url", "lang", "poly_id"]
    if pois_pdf is not None:
        joined = joined.withColumnRenamed("near_poi", "nearest_poi")
        props_cols.append("nearest_poi")
    features = points_to_features(
        joined,
        zoom=zoom,
        layer="pages",
        extent=extent,
        id_col="_fid",
        props_cols=props_cols,
    )
    # polygon layers ride in the same tiles (multi-layer OVT), one OVT
    # layer per value of the polygon table's ``layer`` column
    spark = pages.sparkSession
    if "layer" in polygons_pdf.columns:
        groups = [
            (str(name), grp.reset_index(drop=True))
            for name, grp in polygons_pdf.groupby("layer", sort=True)
        ]
    else:
        groups = [("admin", polygons_pdf)]
    props = [c for c in ("name", "kind", "rank") if c in polygons_pdf.columns]
    for name, grp in groups:
        poly_features = polygons_to_features_dist(
            spark.createDataFrame(grp), zoom=zoom, layer=name, extent=extent,
            props_cols=props,
        )
        features = features.unionByName(poly_features, allowMissingColumns=True)
    if store is not None:
        features = store.pending(features.select("*"))
    tiles = encode_tiles(features)
    if store is not None:
        store.commit(tiles)
    return tiles


def host_stats(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-host corpus profile — the curation table every web-scale
    pipeline keeps next to its corpus (CCNet/RefinedWeb publish exactly
    these): spam farms show up as high dup_ratio, content farms as huge
    n_docs with low distinct ratios, and the host's dominant language
    routes it to the right downstream pipeline.

    Per host: ``n_docs``, ``n_unique_texts`` (distinct whitespace-
    normalized texts — the exact_dedup key), ``dup_ratio`` (1 -
    unique/docs), ``total_tokens`` / ``total_chars``, and ``top_lang``
    (mode of ``lang_col``; ties break on the lang string so the table is
    reproducible).

    Scale shape: two partial-aggregated shuffles — (host, lang) counts
    reduce map-side before the mode window runs on the tiny reduced
    table, and the main rollup is one groupBy(host) whose inputs
    (normalized-text hash for distinctness, token/char counts) are all
    computed map-side.  At 10^8 hosts everything stays distributed; no
    driver state."""
    from ..functions.text import WS_SPLIT, token_count
    from .dedup import normalized_text

    t = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    base = docs.select(
        F.col(host_col).alias("host"),
        # '' for NULL langs: asc-null placement differs between engines,
        # and the mode should group unknown langs together anyway
        F.coalesce(F.col(lang_col), F.lit("")).alias("lang"),
        # hash the normalized text map-side: the distinct key shuffled is
        # 8 bytes/doc, not the document body (the exact_dedup pattern);
        # count-level collision odds ~n_docs^2/2^64 per host — negligible
        F.xxhash64(normalized_text(t)).alias("_norm"),
        token_count(t).alias("_tok"),
        F.length(t).alias("_chars"),
    )
    roll = base.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("_norm").alias("n_unique_texts"),
        F.sum("_tok").cast("long").alias("total_tokens"),
        F.sum("_chars").cast("long").alias("total_chars"),
    )
    lc = base.groupBy("host", "lang").agg(F.count("*").alias("_n"))
    w = Window.partitionBy("host").orderBy(F.desc("_n"), F.asc("lang"))
    top = (
        lc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", F.col("lang").alias("top_lang"))
    )
    return roll.join(top, on="host").select(
        "host",
        "n_docs",
        "n_unique_texts",
        (
            F.lit(1.0)
            - F.col("n_unique_texts").cast("double") / F.col("n_docs")
        ).alias("dup_ratio"),
        "total_tokens",
        "total_chars",
        "top_lang",
    )


def host_top_terms(
    docs: DataFrame,
    *,
    k: int = 5,
    host_col: str = "host",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Per-host heavy hitters -> (host, term, cnt, rank): the top ``k``
    terms of each host's pooled text, ties broken lexicographically on
    the term — the per-source vocabulary fingerprint a curation pipeline
    uses to spot template farms and topic skew (next to host_stats'
    volume/dup profile).

    One partial-agg count shuffle on (host, term), then the rank window
    runs on the ALREADY-REDUCED vocabulary table — WindowGroupLimit
    prunes to k per host map-side, so a mega-host is a bigger hash-agg
    key range, never a window-sort hazard.
    """
    from open_vector_tile_spark.functions.text import ws_tokens

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    counts = (
        docs.select(F.col(host_col).alias("host"), ws_tokens(text_col).alias("ts"))
        .select("host", F.explode("ts").alias("term"))
        .groupBy("host", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    w = Window.partitionBy("host").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )
