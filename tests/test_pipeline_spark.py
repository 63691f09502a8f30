"""Spark integration tests with brute-force oracles (FIXTURES.md §8):

- join_expected: pure-numpy PIP over every (page, polygon) pair
- knn_expected: brute-force haversine
- cell_expected: tile assignment vs numpy oracle
- tiles round-trip: Spark-encoded bytes decode under the codec's reference
  reader with exact quantized geometry
- text byte-identity per url at every stage (north_rule invariant)
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_vector_tile_spark.codec import VectorTile
from open_vector_tile_spark.functions import geo
from open_vector_tile_spark.functions.text import geoparse
from open_vector_tile_spark.operators import (
    TileStore,
    encode_tiles,
    grid_aggregate,
    grid_tiles,
    knn_broadcast,
    knn_cell_ring,
    points_to_features,
    spatial_join,
)
from open_vector_tile_spark.sources import pages_pdf, pois_pdf, polygons_pdf

N_PAGES = 800
ZOOM = 4


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(pages_pdf(N_PAGES)).cache()


@pytest.fixture(scope="module")
def points_oracle():
    pdf = pages_pdf(N_PAGES)
    lat = pdf["text"].str.extract(r"\((-?\d+\.\d+), (-?\d+\.\d+)\)")[0].astype(float)
    lon = pdf["text"].str.extract(r"\((-?\d+\.\d+), (-?\d+\.\d+)\)")[1].astype(float)
    return pd.DataFrame({"url": pdf["url"], "lon": lon, "lat": lat, "text": pdf["text"]})


def test_geoparse_matches_embedded_coords(spark, pages, points_oracle):
    got = geoparse(pages).select("url", "lon", "lat").toPandas().set_index("url")
    want = points_oracle.set_index("url")
    assert len(got) == N_PAGES
    joined = got.join(want, lsuffix="_g")
    assert np.abs(joined["lon_g"] - joined["lon"]).max() < 1e-9
    assert np.abs(joined["lat_g"] - joined["lat"]).max() < 1e-9


def test_text_byte_identity_through_pipeline(spark, pages):
    """north_rule invariant: text bytes per url unchanged end-to-end."""
    src = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    parsed = geoparse(pages)
    joined = spatial_join(parsed, polygons_pdf(), zoom=ZOOM)
    out = {r["url"]: r["text"] for r in joined.select("url", "text").collect()}
    for url, text in out.items():
        assert text.encode() == src[url].encode()


def test_cell_assignment_matches_numpy_oracle(spark, pages, points_oracle):
    parsed = geoparse(pages).withColumn("cell", geo.cell_col(F.col("lon"), F.col("lat"), ZOOM))
    got = parsed.select("url", "cell").toPandas().set_index("url")["cell"]
    want = pd.Series(
        geo.cell_id_np(points_oracle["lon"], points_oracle["lat"], ZOOM),
        index=points_oracle["url"],
    )
    mismatch = (got.sort_index() != want.sort_index()).sum()
    assert mismatch == 0


def test_spatial_join_matches_bruteforce_pip(spark, pages, points_oracle):
    polys = polygons_pdf()
    got = (
        spatial_join(geoparse(pages), polys, zoom=ZOOM)
        .select("url", "poly_id")
        .toPandas()
    )
    got_set = set(map(tuple, got.itertuples(index=False)))
    # brute force oracle over all pairs
    want = set()
    px = points_oracle["lon"].to_numpy()
    py = points_oracle["lat"].to_numpy()
    urls = points_oracle["url"].to_numpy()
    for _, row in polys.iterrows():
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in row["ring_xy"]]
        inside = geo.points_in_polygon_np(px, py, rings)
        for u in urls[inside]:
            want.add((u, row["poly_id"]))
    assert got_set == want
    assert len(want) > 0  # fixture must actually exercise the join


def test_degenerate_polygons_match_nothing(spark, pages):
    polys = polygons_pdf()
    degenerate = polys[polys["poly_id"].isin([48, 49])]
    got = spatial_join(geoparse(pages), degenerate, zoom=ZOOM).count()
    assert got == 0


def test_knn_broadcast_matches_bruteforce(spark, pages, points_oracle):
    pois = pois_pdf(60)
    got = knn_broadcast(geoparse(pages), pois, k=3).toPandas()
    # oracle
    d = geo.haversine_np(
        points_oracle["lon"].to_numpy()[:, None],
        points_oracle["lat"].to_numpy()[:, None],
        pois["lon"].to_numpy()[None, :],
        pois["lat"].to_numpy()[None, :],
    )
    order = np.argsort(d, axis=1)[:, :3]
    want = {
        (u, int(pois["poi_id"].iloc[order[i, r]]), r + 1)
        for i, u in enumerate(points_oracle["url"])
        for r in range(3)
    }
    got_set = set(zip(got["url"], got["poi_id"].astype(int), got["rank"].astype(int)))
    assert got_set == want


def test_nearest_poi_col_matches_knn_broadcast_rank1(spark, pages):
    """The map-only enrichment column must pick exactly knn_broadcast's
    rank-1 POI (including the (dist, poi_id) tie-break) — it replaces the
    broadcast+join formulation in the flagship pipeline."""
    from pyspark.sql import functions as F

    from open_vector_tile_spark.operators.knn import nearest_poi_col

    pois = pois_pdf(60)
    pts = geoparse(pages).limit(200).cache()
    got = (
        pts.withColumn("near", nearest_poi_col(pois)(F.col("lon"), F.col("lat")))
        .select("url", "near")
        .toPandas()
    )
    want = knn_broadcast(pts, pois, k=1).toPandas()
    gm = dict(zip(got["url"], got["near"].astype(int)))
    wm = dict(zip(want["url"], want["poi_id"].astype(int)))
    assert gm == wm and len(gm) > 0


def test_nearest_poi_col_tie_break_deterministic(spark):
    """Two POIs at the identical location: the smaller poi_id must win,
    matching knn_broadcast's lexsort semantics."""
    import pandas as pd
    from pyspark.sql import functions as F

    from open_vector_tile_spark.operators.knn import nearest_poi_col

    pois = pd.DataFrame({"poi_id": [9, 4], "lon": [10.0, 10.0], "lat": [20.0, 20.0]})
    df = spark.createDataFrame([("a", 10.1, 20.1)], "url string, lon double, lat double")
    got = df.withColumn("near", nearest_poi_col(pois)(F.col("lon"), F.col("lat"))).collect()
    assert got[0]["near"] == 4


def test_knn_cell_ring_agrees_with_broadcast(spark, pages):
    pois = pois_pdf(60)
    pts = geoparse(pages).limit(120).cache()
    a = knn_cell_ring(pts, pois, zoom=3, k=3).toPandas()
    b = knn_broadcast(pts, pois, k=3).toPandas()
    ka = set(zip(a["url"], a["poi_id"].astype(int), a["rank"].astype(int)))
    kb = set(zip(b["url"], b["poi_id"].astype(int), b["rank"].astype(int)))
    assert ka == kb


@pytest.mark.slow
def test_knn_cell_ring_single_base_scan(spark, pages):
    """The iterative ring expansion must NOT re-derive the base lineage per
    round: pending is localCheckpoint-ed, so the source scan + cell
    assignment run exactly once no matter how many rounds execute."""
    pois = pois_pdf(60)
    pts = geoparse(pages).limit(100).toPandas()[["url", "lon", "lat"]]
    src = spark.createDataFrame(pts).repartition(4)
    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = src.mapInPandas(counting, "url string, lon double, lat double")
    out = knn_cell_ring(counted, pois, zoom=3, k=3)
    assert out.count() == 100 * 3
    assert acc.value == 100  # one pass over the source, ever


def test_tile_encode_roundtrip_and_quantization(spark, pages, points_oracle):
    feats = points_to_features(
        geoparse(pages), zoom=ZOOM, layer="pages", extent=4096, props_cols=["url", "lang"]
    )
    tiles = encode_tiles(feats).toPandas()
    assert tiles["n_features"].sum() == N_PAGES
    # oracle: quantized in-tile coords per url
    n = 1 << ZOOM
    mx = geo.merc_x_np(points_oracle["lon"]) * n
    my = geo.merc_y_np(points_oracle["lat"]) * n
    tx = np.clip(np.floor(mx), 0, n - 1).astype(int)
    ty = np.clip(np.floor(my), 0, n - 1).astype(int)
    qx = np.floor((mx - tx) * 4096 + 0.5).astype(int)
    qy = np.floor((my - ty) * 4096 + 0.5).astype(int)
    want = {
        u: (int(tx[i]), int(ty[i]), int(qx[i]), int(qy[i]))
        for i, u in enumerate(points_oracle["url"])
    }
    seen = 0
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        layer = parsed.layers["pages"]
        for i in range(len(layer)):
            f = layer.feature(i)
            url = f.properties["url"]
            wtx, wty, wqx, wqy = want[url]
            assert (wtx, wty) == (t["tile_x"], t["tile_y"]), url
            assert f.geometry == [(wqx, wqy)], url
            seen += 1
    assert seen == N_PAGES


def test_resume_skips_completed_tiles(spark, pages, tmp_path):
    feats = points_to_features(geoparse(pages), zoom=ZOOM, layer="pages", extent=4096).cache()
    store = TileStore(str(tmp_path / "store"))
    first = encode_tiles(store.pending(feats))
    store.commit(first)
    n_first = store.read_tiles(spark).count()
    assert n_first > 0
    # second run: nothing pending
    assert store.pending(feats).isEmpty()
    # metrics/lineage recorded per partition
    m = store.metrics(spark).toPandas()
    assert {"zoom", "tile_x", "tile_y", "rows", "bytes", "snapshot", "run_id"} <= set(m.columns)
    assert m["rows"].sum() == n_first


def test_gridding_roundtrip(spark, pages):
    pts = geoparse(pages).withColumn("value", F.col("lat") * 10)
    cells = grid_aggregate(pts, zoom=2, size=32, value="value")
    tiles = grid_tiles(cells, size=32, extent=8192, name="density").toPandas()
    assert len(tiles) > 0
    cpdf = cells.toPandas()
    for _, t in tiles.iterrows():
        parsed = VectorTile(bytes(t["tile"]))
        g = parsed.grids["density"]
        data = g.data()
        sub = cpdf[(cpdf.tile_x == t.tile_x) & (cpdf.tile_y == t.tile_y)]
        tol = (g.max - g.min) / g.extent / 2 + 1e-6
        for _, c in sub.iterrows():
            got = data[int(c.py) * 32 + int(c.px)]
            assert abs(got - c.mean_value) <= tol


def _null_coord_points(spark, located_only=False):
    """One located point, then (unless ``located_only``) a null lon, a null
    lat and both null."""
    rows = [(10.0, 20.0, 1.0), (None, 20.0, 2.0), (10.0, None, 4.0), (None, None, 8.0)]
    return spark.createDataFrame(
        rows[:1] if located_only else rows, "lon double, lat double, value double"
    )


def test_grid_aggregate_drops_null_coordinates(spark):
    rows = grid_aggregate(_null_coord_points(spark), zoom=3, size=4).collect()
    assert [(r["n"], r["mean_value"]) for r in rows] == [(1, 1.0)]


def test_heatmap_drops_null_coordinates(spark):
    from open_vector_tile_spark.operators.gridding import heatmap_grid

    got = heatmap_grid(_null_coord_points(spark), zoom=3, size=4, radius=1).collect()
    want = heatmap_grid(_null_coord_points(spark, True), zoom=3, size=4, radius=1)
    assert sorted(got) == sorted(want.collect())


def test_cell_col_null_coordinate_is_null(spark):
    cells = [
        r["c"]
        for r in _null_coord_points(spark)
        .select(geo.cell_col(F.col("lon"), F.col("lat"), ZOOM).alias("c"))
        .collect()
    ]
    assert cells[0] == int(geo.cell_id_np([10.0], [20.0], ZOOM)[0])
    assert cells[1:] == [None, None, None]


def test_spatial_join_distributed_matches_driver_variant(spark, pages):
    """The fully-distributed join (executor-side covering + in-row ring PIP)
    returns exactly the same (url, poly_id) rows as the driver-covering path,
    with and without salting."""
    from open_vector_tile_spark.operators.spatial_join import (
        polygon_covering,
        polygon_covering_df,
        spatial_join_distributed,
    )

    polys = polygons_pdf()
    polys_df = spark.createDataFrame(
        polys[["poly_id", "ring_xy"]],
        schema="poly_id long, ring_xy array<array<double>>",
    )
    pts = geoparse(pages)

    want_cov = sorted(
        map(tuple, polygon_covering(spark, polys, ZOOM).collect())
    )
    got_cov = sorted(map(tuple, polygon_covering_df(polys_df, ZOOM).collect()))
    assert got_cov == want_cov

    want = sorted(
        (r["url"], r["poly_id"])
        for r in spatial_join(pts, polys, zoom=ZOOM).select("url", "poly_id").collect()
    )
    got = sorted(
        (r["url"], r["poly_id"])
        for r in spatial_join_distributed(pts, polys_df, zoom=ZOOM)
        .select("url", "poly_id")
        .collect()
    )
    assert got == want and len(want) > 0

    got_salted = sorted(
        (r["url"], r["poly_id"])
        for r in spatial_join_distributed(pts, polys_df, zoom=ZOOM, salt=4)
        .select("url", "poly_id")
        .collect()
    )
    assert got_salted == want


def test_spatial_join_distributed_covering_only_matches_driver_variant(spark):
    """exact=False skips only the J2 refine in both joins: each returns the
    J1 candidates of the exact covering, so the rows match (the bbox
    covering gave the distributed join 287 candidates against 259 on this
    input)."""
    from open_vector_tile_spark.operators.spatial_join import spatial_join_distributed

    polys = polygons_pdf()
    polys_df = spark.createDataFrame(
        polys[["poly_id", "ring_xy"]],
        schema="poly_id long, ring_xy array<array<double>>",
    )
    pts = geoparse(spark.createDataFrame(pages_pdf(2000)))
    cols = ["url", "cell", "poly_id"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    want = rows(spatial_join(pts, polys, zoom=6, exact=False))
    assert len(want) == 259
    assert rows(spatial_join_distributed(pts, polys_df, zoom=6, exact=False)) == want


def test_spatial_join_distributed_shuffle_polygon_side(spark, pages):
    """broadcast_polygons=False keys the ring join by poly_id (the huge-
    polygon-layer path) — result unchanged."""
    from open_vector_tile_spark.operators.spatial_join import spatial_join_distributed

    polys = polygons_pdf()
    polys_df = spark.createDataFrame(
        polys[["poly_id", "ring_xy"]],
        schema="poly_id long, ring_xy array<array<double>>",
    )
    pts = geoparse(pages)
    want = sorted(
        (r["url"], r["poly_id"])
        for r in spatial_join(pts, polys, zoom=ZOOM).select("url", "poly_id").collect()
    )
    got = sorted(
        (r["url"], r["poly_id"])
        for r in spatial_join_distributed(
            pts, polys_df, zoom=ZOOM, broadcast_polygons=False
        )
        .select("url", "poly_id")
        .collect()
    )
    assert got == want


def test_tilestore_time_travel_and_change_feed(spark, tmp_path):
    """as_of reproduces the table at an old commit; changed_tiles returns
    exactly the keys whose bytes changed or appeared since a snapshot."""
    store = TileStore(str(tmp_path / "tt_store"))

    def tiles_for(ids):
        pts = spark.createDataFrame(
            [(int(i), (i * 37 % 3600) / 10.0 - 180.0, (i * 53 % 1600) / 10.0 - 80.0) for i in ids],
            "doc_id long, lon double, lat double",
        )
        feats = points_to_features(pts, zoom=2, layer="docs", extent=4096, id_col="doc_id")
        return encode_tiles(feats)

    store.commit(tiles_for(range(40)))
    store.commit(tiles_for(range(40, 60)))  # rebuilds some tiles, adds others

    v0 = {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in store.read_tiles(spark, as_of=0).collect()
    }
    latest = {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in store.read_tiles(spark).collect()
    }
    assert v0 == {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in tiles_for(range(40)).collect()
    }

    changed = {
        (r["tile_x"], r["tile_y"]) for r in store.changed_tiles(spark, since=0).collect()
    }
    want_changed = {k for k, b in latest.items() if v0.get(k) != b}
    assert changed == want_changed and len(changed) > 0
    # unchanged tiles are NOT in the feed
    assert all(v0.get(k) != latest[k] for k in changed)


@pytest.mark.slow
def test_snapshot_order_numeric_past_ten(spark, tmp_path):
    """Latest-wins must hold from the 11th commit on: lexicographic dir
    order puts snapshot=9 after snapshot=10/11 and would resurrect stale
    tiles."""
    store = TileStore(str(tmp_path / "many_snaps"))
    for i in range(12):
        df = spark.createDataFrame(
            [(4, 1, 1, bytes([i]), 1, 1)],
            "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long",
        )
        store.commit(df, run_id=f"r{i}")
    out = store.read_tiles(spark).collect()
    assert len(out) == 1
    assert bytes(out[0]["tile"]) == bytes([11])  # newest commit wins
    # time travel still works across the 9/10 boundary
    asof9 = store.read_tiles(spark, as_of=9).collect()
    assert bytes(asof9[0]["tile"]) == bytes([9])


def test_tilestore_tombstones(spark, tmp_path):
    """delete_tiles commits tombstones: deleted keys vanish from latest
    reads (no resurrection from older snapshots), show as NULL-tile rows in
    the change feed, stop counting as completed, and time-travel still sees
    the pre-delete table."""
    store = TileStore(str(tmp_path / "tomb_store"))
    df = spark.createDataFrame(
        [(4, int(x), 1, bytes([x]), 1, 1) for x in range(6)],
        "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long",
    )
    store.commit(df)
    dead = spark.createDataFrame([(4, 0, 1), (4, 1, 1)], "zoom int, tile_x long, tile_y long")
    store.delete_tiles(dead)

    latest = {r["tile_x"] for r in store.read_tiles(spark).collect()}
    assert latest == {2, 3, 4, 5}
    with_deleted = store.read_tiles(spark, keep_deleted=True).collect()
    assert {r["tile_x"] for r in with_deleted} == set(range(6))
    assert {r["tile_x"] for r in with_deleted if r["tile"] is None} == {0, 1}
    # change feed surfaces the deletes as NULL-tile rows, nothing else
    feed = store.changed_tiles(spark, since=0).collect()
    assert {(r["tile_x"], r["tile"] is None) for r in feed} == {(0, True), (1, True)}
    # deleted keys are no longer "completed": pending work recomputes them
    done = {r["tile_x"] for r in store.completed_keys(spark).collect()}
    assert done == {2, 3, 4, 5}
    # time travel reads the pre-delete table
    assert {r["tile_x"] for r in store.read_tiles(spark, as_of=0).collect()} == set(range(6))
    # deleting an already-deleted/absent key is not re-reported
    store.delete_tiles(dead)
    assert store.changed_tiles(spark, since=1).count() == 0


def test_snapshot_id_survives_retention_gap(spark, tmp_path):
    """Snapshot ids are max+1, not len(): after retention deletes an old
    snapshot, the next commit must not collide with a live directory."""
    import shutil as sh

    store = TileStore(str(tmp_path / "gap_store"))
    for i in range(3):
        df = spark.createDataFrame(
            [(4, 1, 1, bytes([i]), 1, 1)],
            "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long",
        )
        store.commit(df)
    sh.rmtree(store.tiles_dir + "/snapshot=0")
    df = spark.createDataFrame(
        [(4, 1, 1, bytes([9]), 1, 1)],
        "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long",
    )
    snap = store.commit(df)
    assert snap == "snapshot=3"
    out = store.read_tiles(spark).collect()
    assert len(out) == 1 and bytes(out[0]["tile"]) == bytes([9])
    # a crashed commit's leftover stage dir is swept by the next commit
    import os

    os.makedirs(store.tiles_dir + "/_stage_dead", exist_ok=True)
    store.commit(df)
    assert not os.path.isdir(store.tiles_dir + "/_stage_dead")


def test_commit_of_empty_tiles_writes_nothing(spark, tmp_path):
    """A tiles frame with no rows commits no snapshot and no metrics rows,
    and commit returns None; the next non-empty commit takes the next id."""
    store = TileStore(str(tmp_path / "empty_store"))
    schema = "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long"
    df = spark.createDataFrame([(4, 1, 1, bytes([1]), 1, 1)], schema)
    assert store.commit(df) == "snapshot=0"
    n_metrics = store.metrics(spark).count()
    assert store.commit(spark.createDataFrame([], schema)) is None
    assert store.commit(df.where("tile_x < 0")) is None
    assert store.snapshots() == ["snapshot=0"]
    assert store.metrics(spark).count() == n_metrics
    assert [d for d in os.listdir(store.tiles_dir) if d.startswith("_stage_")] == []
    assert store.commit(df) == "snapshot=1"


def test_feature_log_uniform_layout_and_bucket_pruning(spark, tmp_path):
    """Ad-hoc (batch_id=None) and batch-scoped appends share one partition
    layout (mixing them must not break partition discovery), and a
    bucket-filtered read returns exactly the rows whose tile key hashes to
    those buckets."""
    from open_vector_tile_spark.operators.resume import tile_bucket_col

    store = TileStore(str(tmp_path / "log_store"))
    feats = spark.createDataFrame(
        [(4, int(i % 7), int(i % 5), f"u{i}") for i in range(60)],
        "zoom int, tile_x long, tile_y long, url string",
    )
    store.append_features(feats)  # ad-hoc
    store.append_features(feats.limit(10), batch_id=3)  # batch-scoped
    all_rows = store.read_features(spark)
    assert all_rows.count() == 70
    assert "batch" not in all_rows.columns and "tb" not in all_rows.columns
    want_buckets = [
        r[0]
        for r in feats.select(tile_bucket_col().alias("tb")).distinct().limit(2).collect()
    ]
    pruned = store.read_features(spark, buckets=want_buckets)
    oracle = (
        spark.read.parquet(store.features_dir)
        .filter(F.col("tb").isin(want_buckets))
        .count()
    )
    assert 0 < pruned.count() == oracle < 70


def test_incremental_ingest_replay_byte_deterministic(spark, tmp_path):
    """An at-least-once replay of the same micro-batch (same batch_id) must
    re-encode byte-identical tiles — the change feed between the two
    snapshots is empty (no phantom CDN diffs)."""
    from open_vector_tile_spark.streaming.ingest import incremental_tile_run

    store = TileStore(str(tmp_path / "replay_store"))
    batch = spark.createDataFrame(pages_pdf(120))
    incremental_tile_run(batch, store, zoom=ZOOM, props_cols=["url", "lang"], batch_id=0)
    incremental_tile_run(batch, store, zoom=ZOOM, props_cols=["url", "lang"], batch_id=0)
    assert len(store.snapshots()) == 2
    assert store.changed_tiles(spark, since=0, until=1).count() == 0


# ---------------------------------------------------------------------------
# grid_pyramid


def _py_grid_pyramid(cells, size, levels):
    """cells: {(zoom, tx, ty, px, py): (vsum, n)} -> same map for levels 1..L."""
    out = {}
    for (z, tx, ty, px, py), (vs, n) in cells.items():
        gx, gy = tx * size + px, ty * size + py
        for k in range(1, levels + 1):
            if z - k < 0:
                continue
            gpx, gpy = gx >> k, gy >> k
            key = (z - k, gpx // size, gpy // size, gpx % size, gpy % size)
            a, b = out.get(key, (0, 0))
            out[key] = (a + vs, b + n)
    return out


def test_grid_pyramid_matches_python_and_crosses_tile_borders(spark):
    import random

    from open_vector_tile_spark.operators.gridding import grid_pyramid

    rng = random.Random(13)
    size = 8
    cells = {}
    for _ in range(300):
        key = (4, rng.randrange(4), rng.randrange(4), rng.randrange(size), rng.randrange(size))
        vs, n = rng.randrange(1, 50), rng.randrange(1, 5)
        a, b = cells.get(key, (0, 0))
        cells[key] = (a + vs, b + n)
    df = spark.createDataFrame(
        [(z, tx, ty, px, py, vs, n) for (z, tx, ty, px, py), (vs, n) in cells.items()],
        "zoom int, tile_x long, tile_y long, px int, py int, value_sum long, n long",
    )
    got = {
        (r["zoom"], r["tile_x"], r["tile_y"], r["px"], r["py"]): (
            r["value_sum"],
            r["n"],
            r["mean_value"],
        )
        for r in grid_pyramid(df, size=size, levels=3).collect()
    }
    want = _py_grid_pyramid(cells, size, 3)
    assert {k: v[:2] for k, v in got.items()} == want
    for k, (vs, n, mean) in got.items():
        assert mean == vs / n
    # cross-tile assembly: at level 3 (8-pixel blocks == whole tile), the
    # parent pixel (z1) aggregates ONE FULL child tile; at level >= 4 it
    # would span 4 child tiles — verify level-3 zoom-1 rows exist and the
    # totals are conserved at every level
    base_tot = sum(v for v, _ in cells.values())
    for z in (3, 2, 1):
        assert sum(v for (zz, *_), (v, *_r) in ((k, vv) for k, vv in want.items()) if zz == z) == base_tot
        got_tot = sum(v for (zz, *_), (v, _n, _m) in got.items() if zz == z)
        assert got_tot == base_tot


def test_grid_pyramid_validation_and_zoom_floor(spark):
    import pytest as _pytest

    from open_vector_tile_spark.operators.gridding import grid_pyramid

    df = spark.createDataFrame(
        [(1, 0, 0, 0, 0, 10, 2), (0, 0, 0, 1, 1, 5, 1)],
        "zoom int, tile_x long, tile_y long, px int, py int, value_sum long, n long",
    )
    rows = grid_pyramid(df, size=4, levels=3).collect()
    # the zoom-0 input row cannot go deeper; the zoom-1 row only to zoom 0
    assert {(r["zoom"],) for r in rows} == {(0,)}
    assert len(rows) == 1 and rows[0]["value_sum"] == 10
    with _pytest.raises(ValueError):
        grid_pyramid(df, size=3, levels=1)
    with _pytest.raises(ValueError):
        grid_pyramid(df, size=4, levels=0)


# ---------------------------------------------------------------------------
# host_stats


def test_host_stats_profile(spark):
    from open_vector_tile_spark.operators.pipeline import host_stats

    rows = [
        # spam.org: 4 docs, 2 unique texts (one differs only by whitespace)
        ("spam.org", "buy  now", "en"),
        ("spam.org", "buy now", "en"),
        ("spam.org", "BUY NOW", "de"),   # normalized lower -> same text
        ("spam.org", "other page", "en"),
        # clean.org: 2 docs, all unique, lang tie en/de -> 'de' wins asc
        ("clean.org", "alpha beta gamma", "de"),
        ("clean.org", "delta epsilon", "en"),
    ]
    df = spark.createDataFrame(rows, "host string, text string, lang string")
    got = {r["host"]: r for r in host_stats(df).collect()}
    s = got["spam.org"]
    assert (s["n_docs"], s["n_unique_texts"]) == (4, 2)
    assert s["dup_ratio"] == 1.0 - 2.0 / 4.0
    assert s["total_tokens"] == 8
    assert s["top_lang"] == "en"  # 3 en vs 1 de
    c = got["clean.org"]
    assert (c["n_docs"], c["n_unique_texts"], c["dup_ratio"]) == (2, 2, 0.0)
    assert c["top_lang"] == "de"  # 1-1 tie breaks on lang asc
    assert c["total_chars"] == len("alpha beta gamma") + len("delta epsilon")


def test_host_stats_null_text(spark):
    from open_vector_tile_spark.operators.pipeline import host_stats

    df = spark.createDataFrame(
        [("h.org", None, "en"), ("h.org", "", "en")], "host string, text string, lang string"
    )
    r = host_stats(df).collect()[0]
    # null and '' normalize identically -> 1 unique text, 0 tokens
    assert (r["n_docs"], r["n_unique_texts"], r["total_tokens"]) == (2, 1, 0)


# ---------------------------------------------------------------------------
# heatmap_grid


def test_heatmap_matches_python_splat(spark):
    import math
    import random

    from open_vector_tile_spark.functions.geo import merc_y_np
    from open_vector_tile_spark.operators.gridding import heatmap_grid, kernel_offsets

    rng = random.Random(41)
    zoom, size, radius, sigma = 3, 4, 1, 1.0
    n = 1 << zoom
    world = n * size
    pts = [(rng.uniform(-179, 179), rng.uniform(-75, 75)) for _ in range(200)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = {
        (r["tile_x"], r["tile_y"], r["px"], r["py"]): (r["density_int"], r["density"])
        for r in heatmap_grid(df, zoom=zoom, size=size, radius=radius, sigma=sigma).collect()
    }
    taps = kernel_offsets(radius, sigma)
    want = {}
    for lon, lat in pts:
        mx = (lon + 180.0) / 360.0 * n
        my = float(merc_y_np(lat)) * n
        tx = min(n - 1, max(0, math.floor(mx)))
        ty = min(n - 1, max(0, math.floor(my)))
        gx = tx * size + min(size - 1, max(0, math.floor((mx - tx) * size)))
        gy = ty * size + min(size - 1, max(0, math.floor((my - ty) * size)))
        for dx, dy, w in taps:
            X, Y = gx + dx, gy + dy
            if 0 <= X < world and 0 <= Y < world:
                key = (X // size, Y // size, X % size, Y % size)
                want[key] = want.get(key, 0) + w
    assert {k: v[0] for k, v in got.items()} == want
    scale = 1 << 20
    for k, (di, d) in got.items():
        assert d == di / scale


def test_heatmap_kernel_and_validation(spark):
    import pytest as _pytest

    from open_vector_tile_spark.operators.gridding import heatmap_grid, kernel_offsets

    taps = {(dx, dy): w for dx, dy, w in kernel_offsets(1, 1.0)}
    assert taps[(0, 0)] == 1 << 20  # center tap = full scale
    assert taps[(1, 0)] == taps[(-1, 0)] == taps[(0, 1)]  # isotropy
    assert taps[(1, 1)] < taps[(1, 0)]
    df = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    with _pytest.raises(ValueError):
        heatmap_grid(df, zoom=2, size=4, radius=-1)
    with _pytest.raises(ValueError):
        heatmap_grid(df, zoom=2, size=4, sigma=0.0)
    # a single point at world center splats the full kernel mass
    rows = heatmap_grid(df, zoom=2, size=4, radius=1).collect()
    assert sum(r["density_int"] for r in rows) == sum(
        w for _, _, w in kernel_offsets(1, 1.0)
    )


# ------------------------------------------------------------ host_top_terms


def test_host_top_terms_known(spark):
    from open_vector_tile_spark.operators.pipeline import host_top_terms

    rows = [
        ("a.org", "x x x y y z"),
        ("a.org", "y Z"),          # case folds; y ties x at 3
        ("b.org", ""),
        ("c.org", "solo"),
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    got = {}
    for r in host_top_terms(df, k=2).collect():
        got.setdefault(r["host"], []).append((r["rank"], r["term"], r["cnt"]))
    for h in got:
        got[h].sort()
    assert got["a.org"] == [(1, "x", 3), (2, "y", 3)]  # tie -> lexicographic
    assert "b.org" not in got
    assert got["c.org"] == [(1, "solo", 1)]


def test_host_top_terms_randomized(spark):
    import random

    from open_vector_tile_spark.operators.pipeline import host_top_terms

    rng = random.Random(53)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (f"h{rng.randint(0, 4)}", " ".join(rng.choice(vocab) for _ in range(30)))
        for _ in range(100)
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    got = {}
    for r in host_top_terms(df, k=3, min_count=2).collect():
        got.setdefault(r["host"], []).append((r["rank"], r["term"], r["cnt"]))
    # python reference
    cnt = {}
    for h, t in rows:
        for w in t.split():
            cnt[(h, w)] = cnt.get((h, w), 0) + 1
    want = {}
    for h in {r[0] for r in rows}:
        terms = sorted(
            ((c, t) for (hh, t), c in cnt.items() if hh == h and c >= 2),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        if terms:
            want[h] = [(i + 1, t, c) for i, (c, t) in enumerate(terms)]
    for h in got:
        got[h].sort()
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        host_top_terms(df, k=0)
