"""Session-4 operators: semantic dedup, distance join, bbox join, polygon
metrics, histogram quantiles, incremental retiling."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# semantic dedup
# ---------------------------------------------------------------------------

def _brute_dup_of(ids, V, tau):
    nrm = np.linalg.norm(V, axis=1)
    sims = (V @ V.T) / (nrm[:, None] * nrm[None, :])
    out = {}
    for j in range(len(ids)):
        earlier = [ids[i] for i in range(j) if sims[i, j] >= tau]
        out[int(ids[j])] = min(earlier) if earlier else -1
    return out


def test_semantic_dedup_exact_mode_matches_bruteforce(spark):
    from open_vector_tile_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 150)
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    tau = 0.35
    want = _brute_dup_of(ids, V, tau)
    got = semantic_dedup(emb, threshold=tau, n_centroids=1).toPandas()
    got_map = dict(zip(got["vec_id"].astype(int), got["dup_of"].astype(int)))
    # guard band for matmul-vs-sequential float noise at the threshold
    nrm = np.linalg.norm(V, axis=1)
    sims = (V @ V.T) / (nrm[:, None] * nrm[None, :])
    noisy = {
        int(ids[j])
        for i, j in zip(*np.triu_indices(len(ids), k=1))
        if abs(sims[i, j] - tau) < 1e-9
    }
    for k, v in want.items():
        if k not in noisy:
            assert got_map[k] == v, k
    keep = got.set_index(got["vec_id"].astype(int))["keep"]
    assert ((keep == 1) == (got.set_index(got["vec_id"].astype(int))["dup_of"] == -1)).all()


def test_semantic_dedup_clustered_prunes_subset(spark):
    """Clustered mode may only MISS cross-cluster dups (cluster-local rule):
    every clustered drop must also be an exact-mode drop."""
    from open_vector_tile_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 300)
    tau = 0.3
    exact = semantic_dedup(emb, threshold=tau, n_centroids=1).toPandas()
    clus = semantic_dedup(emb, threshold=tau, n_centroids=4).toPandas()
    exact_dropped = set(exact.loc[exact["keep"] == 0, "vec_id"].astype(int))
    clus_dropped = set(clus.loc[clus["keep"] == 0, "vec_id"].astype(int))
    assert clus_dropped <= exact_dropped
    assert len(clus) == len(exact)  # every vector labeled exactly once


def test_semantic_dedup_hot_cluster_cap(spark):
    """3000 identical vectors in one cluster with a 500 cap: the slice salt
    bounds group size; within each slice everything still dedups to the
    slice minimum."""
    from open_vector_tile_spark.operators.semdedup import semantic_dedup

    n = 3000
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [[1.0, 2.0, 3.0]] * n})
    df = spark.createDataFrame(pdf)
    out = semantic_dedup(df, threshold=0.9, n_centroids=1, max_cluster=500).toPandas()
    # at most ceil(3000/500)=6+1 slices -> at most 7 keepers, not 1; but far
    # fewer than unsliced-off would leave (3000)
    assert 1 <= (out["keep"] == 1).sum() <= 7
    assert (out["keep"] == 0).sum() >= n - 7


# ---------------------------------------------------------------------------
# distance join
# ---------------------------------------------------------------------------

def test_distance_join_matches_bruteforce(spark):
    from open_vector_tile_spark.functions.geo import haversine_col
    from open_vector_tile_spark.operators.knn import distance_join

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            (((F.col("doc_id") * 37) % 3600) / 10.0 - 180.0).alias("lon"),
            (((F.col("doc_id") * 53) % 1600) / 10.0 - 80.0).alias("lat"),
        )
    )
    anchors = (
        spark.read.parquet(f"{SF}/supplier.parquet")
        .select(
            F.col("s_suppkey").alias("poi_id"),
            (((F.col("s_suppkey") * 91) % 3600) / 10.0 - 180.0).alias("lon"),
            (((F.col("s_suppkey") * 57) % 1600) / 10.0 - 80.0).alias("lat"),
        )
    )
    R = 700_000.0
    got = distance_join(docs, anchors, radius_m=R, zoom=4, suffix="_a").toPandas()
    brute = (
        docs.crossJoin(
            anchors.select(
                F.col("poi_id").alias("b_poi"), F.col("lon").alias("alon"), F.col("lat").alias("alat")
            )
        )
        .withColumn(
            "d", haversine_col(F.col("lon"), F.col("lat"), F.col("alon"), F.col("alat"))
        )
        .where(F.col("d") <= R)
        .toPandas()
    )
    got_pairs = set(zip(got["doc_id"].astype(int), got["poi_id_a"].astype(int)))
    want_pairs = set(zip(brute["doc_id"].astype(int), brute["b_poi"].astype(int)))
    assert got_pairs == want_pairs
    assert len(got) == len(got_pairs)  # no duplicate emissions


def test_distance_join_antimeridian_wrap(spark):
    """A point and an anchor 0.2 deg apart across the antimeridian must
    pair: x-wrapped covering, haversine handles the wrap natively."""
    from open_vector_tile_spark.operators.knn import distance_join

    pts = spark.createDataFrame(pd.DataFrame({"pid": [1], "lon": [179.9], "lat": [10.0]}))
    anc = spark.createDataFrame(pd.DataFrame({"aid": [7], "lon": [-179.9], "lat": [10.0]}))
    out = distance_join(pts, anc, radius_m=50_000.0, zoom=6, suffix="_a").toPandas()
    assert len(out) == 1 and int(out["aid_a"].iloc[0]) == 7
    assert out["dist_m"].iloc[0] < 25_000


def test_distance_join_drops_nan_points(spark):
    """A radius past half the globe reaches every located point, but a NaN
    coordinate has no distance and never pairs."""
    from open_vector_tile_spark.operators.knn import distance_join

    nan = float("nan")
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 3], "lon": [10.0, 10.0, nan], "lat": [20.0, nan, 20.0]})
    )
    anc = spark.createDataFrame(
        pd.DataFrame({"aid": [7, 8, 9], "lon": [-100.0, -100.0, nan], "lat": [-20.0, nan, -20.0]})
    )
    out = distance_join(pts, anc, radius_m=3e7, zoom=2, suffix="_a").toPandas()
    assert list(zip(out["pid"], out["aid_a"])) == [(1, 7)]


def test_distance_join_anchor_without_position_has_no_cells(spark):
    """An anchor with a null or NaN coordinate covers no cell: the join
    neither fails on it nor explodes it, and equals the join with the
    located anchor alone."""
    from open_vector_tile_spark.operators.knn import distance_join

    nan = float("nan")
    pts = spark.createDataFrame(
        [(i, -30.0 + 6.0 * i, 10.0 + (i % 3)) for i in range(12)],
        "pid long, lon double, lat double",
    )
    anc = spark.createDataFrame(
        [(1, None, 10.0), (2, nan, 10.0), (3, 0.0, nan), (4, 0.0, 11.0)],
        "aid long, lon double, lat double",
    )
    for radius, zoom in [(1_500_000.0, 4), (3e7, 2)]:
        got = distance_join(pts, anc, radius_m=radius, zoom=zoom, suffix="_a")
        want = distance_join(
            pts, anc.where(F.col("aid") == 4), radius_m=radius, zoom=zoom, suffix="_a"
        )
        key = ["pid", "aid_a"]
        g = got.toPandas().sort_values(key).reset_index(drop=True)
        w = want.toPandas().sort_values(key).reset_index(drop=True)
        assert len(w) > 0
        pd.testing.assert_frame_equal(g, w)


def test_disk_cover_contains_disk_samples():
    """Every sampled point within R of the center must land in a covered
    cell (covering completeness, incl. high latitude)."""
    from open_vector_tile_spark.functions.geo import cell_id_np
    from open_vector_tile_spark.operators.knn import _disk_cover_cells

    rng = np.random.default_rng(7)
    for lon0, lat0, R, z in [(12.0, 52.0, 300_000.0, 5), (-179.0, 78.0, 500_000.0, 4)]:
        cells = set(_disk_cover_cells(lon0, lat0, R, z).tolist())
        # rejection-sample points inside the disk via small-angle offsets
        for _ in range(300):
            b = rng.uniform(0, 2 * np.pi)
            f = np.sqrt(rng.uniform(0, 1.0))
            ang = (R / 6_371_008.8) * f
            lat = np.degrees(
                np.arcsin(
                    np.sin(np.radians(lat0)) * np.cos(ang)
                    + np.cos(np.radians(lat0)) * np.sin(ang) * np.cos(b)
                )
            )
            lon = lon0 + np.degrees(
                np.arctan2(
                    np.sin(b) * np.sin(ang) * np.cos(np.radians(lat0)),
                    np.cos(ang) - np.sin(np.radians(lat0)) * np.sin(np.radians(lat)),
                )
            )
            lon = ((lon + 180.0) % 360.0) - 180.0
            assert int(cell_id_np([lon], [lat], z)[0]) in cells, (lon, lat)


# ---------------------------------------------------------------------------
# bbox join
# ---------------------------------------------------------------------------

def test_bbox_join_matches_bruteforce(spark):
    from open_vector_tile_spark.operators.spatial_join import bbox_join

    rng = np.random.default_rng(3)
    def mk(n, seed):
        r = np.random.default_rng(seed)
        x = r.uniform(0, 100, n)
        y = r.uniform(0, 100, n)
        w = r.uniform(0.1, 8, n)
        h = r.uniform(0.1, 8, n)
        return pd.DataFrame(
            {"rid": range(n), "xmin": x, "ymin": y, "xmax": x + w, "ymax": y + h}
        )

    A, B = mk(150, 1), mk(170, 2)
    la = spark.createDataFrame(A)
    rb = spark.createDataFrame(B)
    got = bbox_join(la, rb, chunk=5.0).toPandas()
    pairs = set(zip(got["rid"].astype(int), got["rid_r"].astype(int)))
    want = set()
    for i in A.itertuples():
        ov = B[
            (B.xmin <= i.xmax) & (i.xmin <= B.xmax) & (B.ymin <= i.ymax) & (i.ymin <= B.ymax)
        ]
        want |= {(int(i.rid), int(j)) for j in ov["rid"]}
    assert pairs == want
    assert len(got) == len(pairs)  # canonical-cell dedup: exactly once


# ---------------------------------------------------------------------------
# polygon metrics
# ---------------------------------------------------------------------------

def test_polygon_metrics_known_shapes(spark):
    from open_vector_tile_spark.operators.geometry import polygon_metrics

    rows = [
        # unit square CCW (y-up): area +1, perimeter 4, centroid (.5,.5)
        (1, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
        # same square CW: area -1
        (2, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0]),
        # 3-4-5 right triangle
        (3, [0.0, 3.0, 0.0], [0.0, 0.0, 4.0]),
        # degenerate: collinear
        (4, [0.0, 1.0, 2.0], [0.0, 1.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "pid int, xs array<double>, ys array<double>")
    out = polygon_metrics(df, ["pid"]).toPandas().set_index("pid")
    assert abs(out.loc[1, "area"] - 1.0) < 1e-12
    assert abs(out.loc[1, "perimeter"] - 4.0) < 1e-12
    assert abs(out.loc[1, "cx"] - 0.5) < 1e-12 and abs(out.loc[1, "cy"] - 0.5) < 1e-12
    assert abs(out.loc[2, "area"] + 1.0) < 1e-12
    assert abs(out.loc[3, "area"] - 6.0) < 1e-12
    assert abs(out.loc[3, "perimeter"] - 12.0) < 1e-12
    assert out.loc[4, "degenerate"] == 1
    assert abs(out.loc[4, "cx"] - 1.0) < 1e-12  # vertex-mean fallback


def test_polygon_metrics_closed_ring_same_sums(spark):
    from open_vector_tile_spark.operators.geometry import polygon_metrics

    open_ring = (1, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 3.0, 3.0])
    closed = (2, [0.0, 4.0, 4.0, 0.0, 0.0], [0.0, 0.0, 3.0, 3.0, 0.0])
    df = spark.createDataFrame(
        [open_ring, closed], "pid int, xs array<double>, ys array<double>"
    )
    out = polygon_metrics(df, ["pid"]).toPandas().set_index("pid")
    assert abs(out.loc[1, "area"] - out.loc[2, "area"]) < 1e-12
    assert abs(out.loc[1, "perimeter"] - out.loc[2, "perimeter"]) < 1e-12


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------

def test_hist_quantiles_exact_when_bins_resolve(spark):
    """Integer values with one bin per integer: the interpolated estimate
    must bracket the exact quantile within one bin width."""
    from open_vector_tile_spark.functions.sketch import hist_bin_counts, hist_quantiles

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 1000, 5000)
    pdf = pd.DataFrame({"g": np.where(vals % 2 == 0, "a", "b"), "v": vals.astype(float)})
    df = spark.createDataFrame(pdf)
    counts = hist_bin_counts(df, ["g"], "v", lo=0.0, hi=1000.0, n_bins=1000)
    qs = [0.1, 0.5, 0.9, 0.99]
    out = hist_quantiles(counts, ["g"], qs, lo=0.0, hi=1000.0, n_bins=1000).toPandas()
    assert len(out) == 2 * len(qs)
    for g in ("a", "b"):
        sub = pdf.loc[pdf.g == g, "v"].sort_values().to_numpy()
        for q in qs:
            target = max(1, int(np.ceil(q * len(sub))))
            exact = sub[target - 1]
            est = out[(out.g == g) & (abs(out.q - q) < 1e-12)]["est"].iloc[0]
            assert abs(est - exact) <= 1.0 + 1e-9, (g, q, est, exact)


# ---------------------------------------------------------------------------
# incremental retiling
# ---------------------------------------------------------------------------

def _snapshots(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    base = docs.select(
        "doc_id",
        (((F.col("doc_id") * 37) % 3600) / 10.0 - 180.0).alias("lon"),
        (((F.col("doc_id") * 53) % 1600) / 10.0 - 80.0).alias("lat"),
    )
    # new snapshot: %23 deleted, %17 moved 3 deg east, %29 inserted as +10^6
    survivors = base.where(F.col("doc_id") % 23 != 0)
    moved = survivors.withColumn(
        "lon",
        F.when(
            F.col("doc_id") % 17 == 0,
            ((F.col("lon") + 183.0) % 360.0) - 180.0,
        ).otherwise(F.col("lon")),
    )
    inserted = docs.where(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        (((F.col("doc_id") * 41) % 3600) / 10.0 - 180.0).alias("lon"),
        (((F.col("doc_id") * 59) % 1600) / 10.0 - 80.0).alias("lat"),
    )
    return base, moved.unionByName(inserted)


def test_changed_tiles_counts(spark):
    from open_vector_tile_spark.operators.incremental import changed_tiles

    base, new = _snapshots(spark)
    out = changed_tiles(base, new, zoom=4).toPandas()
    assert (out[["n_inserted", "n_deleted", "n_moved_in", "n_moved_out"]].sum(axis=1) > 0).all()
    nb = base.count()
    nn = new.count()
    assert out["n_deleted"].sum() == base.where(F.col("doc_id") % 23 == 0).count()
    assert out["n_inserted"].sum() == nn - (nb - out["n_deleted"].sum())
    assert out["n_moved_in"].sum() == out["n_moved_out"].sum()


def test_changed_tiles_null_coordinate_has_no_tile(spark):
    """A document with a null lon or lat has no tile: losing a position
    deletes it from its old tile, gaining one inserts it, and a document
    null on both sides dirties nothing."""
    from open_vector_tile_spark.functions.geo import tile_xy_np
    from open_vector_tile_spark.operators.incremental import changed_tiles

    schema = "doc_id long, lon double, lat double"
    base = spark.createDataFrame([(1, 10.0, 20.0), (2, None, 20.0), (3, None, None)], schema)
    new = spark.createDataFrame([(1, 10.0, None), (2, 10.0, 20.0), (3, 5.0, None)], schema)
    tx, ty = tile_xy_np([10.0], [20.0], 4)
    rows = [tuple(r) for r in changed_tiles(base, new, zoom=4).collect()]
    assert rows == [(int(tx[0]), int(ty[0]), 1, 1, 0, 0)]


def test_changed_tiles_cover_every_rewritten_tile(spark):
    """Re-encoding only the dirty tiles reproduces a full retile: every tile
    whose bytes differ between the two snapshots' full encodes is dirty."""
    from open_vector_tile_spark.operators.incremental import changed_tiles
    from open_vector_tile_spark.operators.tiler import encode_tiles, points_to_features

    base, new = _snapshots(spark)
    zoom = 4

    def tiles(points):
        enc = encode_tiles(points_to_features(points, zoom, "pages", id_col="doc_id"))
        return {(r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in enc.collect()}

    old, full = tiles(base), tiles(new)
    rewritten = {t for t in old.keys() | full.keys() if old.get(t) != full.get(t)}
    dirty = {(r["tile_x"], r["tile_y"]) for r in changed_tiles(base, new, zoom=zoom).collect()}
    assert rewritten and rewritten <= dirty


# ---------------------------------------------------------------------------
# zonal statistics
# ---------------------------------------------------------------------------

def test_zonal_stats_matches_pandas(spark):
    from open_vector_tile_spark.operators.gridding import zonal_stats

    rng = np.random.default_rng(5)
    cells = pd.DataFrame(
        {
            "gx": rng.integers(0, 100, 2000),
            "gy": rng.integers(0, 100, 2000),
            "v": rng.integers(0, 50, 2000).astype("int64"),
        }
    )
    zones = pd.DataFrame(
        {
            "zone_id": [1, 2, 3],
            "gx_min": [0, 40, 90],
            "gx_max": [30, 70, 99],
            "gy_min": [0, 40, 0],
            "gy_max": [30, 70, 99],
        }
    )
    out = (
        zonal_stats(spark.createDataFrame(cells), spark.createDataFrame(zones))
        .toPandas()
        .set_index("zone_id")
    )
    for z in zones.itertuples():
        sub = cells[
            (cells.gx >= z.gx_min) & (cells.gx <= z.gx_max)
            & (cells.gy >= z.gy_min) & (cells.gy <= z.gy_max)
        ]
        assert out.loc[z.zone_id, "n_cells"] == len(sub)
        assert out.loc[z.zone_id, "total"] == sub["v"].sum()
        assert out.loc[z.zone_id, "vmin"] == sub["v"].min()
        assert out.loc[z.zone_id, "vmax"] == sub["v"].max()
        assert abs(out.loc[z.zone_id, "mean"] - sub["v"].mean()) < 1e-9


def test_zonal_stats_overlapping_zones_count_twice(spark):
    from open_vector_tile_spark.operators.gridding import zonal_stats

    cells = spark.createDataFrame(
        pd.DataFrame({"gx": [5], "gy": [5], "v": [7]})
    )
    zones = spark.createDataFrame(
        pd.DataFrame(
            {
                "zone_id": [1, 2],
                "gx_min": [0, 0],
                "gx_max": [10, 10],
                "gy_min": [0, 0],
                "gy_max": [10, 10],
            }
        )
    )
    out = zonal_stats(cells, zones).toPandas()
    assert len(out) == 2 and (out["total"] == 7).all()


def test_polygon_metrics_degenerate_small_rings(spark):
    """1- and 2-vertex rings keep their row (area 0, degenerate, cyclic
    perimeter) instead of vanishing from the output."""
    from open_vector_tile_spark.operators.geometry import polygon_metrics

    rows = [
        (1, [5.0], [7.0]),
        (2, [0.0, 3.0], [0.0, 4.0]),
        (3, [0.0, 1.0, 1.0], [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "pid int, xs array<double>, ys array<double>")
    out = polygon_metrics(df, ["pid"]).toPandas().set_index("pid")
    assert len(out) == 3
    assert out.loc[1, "degenerate"] == 1 and out.loc[1, "perimeter"] == 0.0
    assert out.loc[1, "cx"] == 5.0 and out.loc[1, "cy"] == 7.0
    assert out.loc[2, "degenerate"] == 1 and abs(out.loc[2, "perimeter"] - 10.0) < 1e-12
    assert out.loc[3, "degenerate"] == 0

