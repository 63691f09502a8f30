"""run_pipeline (operators/pipeline.py): the composed SURVEY §3.4 flagship.

Covers the composition-level contracts the unit tests of the individual
stages cannot see:
- tile bytes are deterministic across input partitionings (the _fid sort
  key must be unique PER FEATURE ROW, not per url — a page inside two
  overlapping polygons emits two rows);
- the polygon table's ``layer`` column maps to per-layer OVT layers;
- nearest-POI attachment lands in props_json WITHOUT dropping other props;
- a resumed run with nothing pending commits no snapshot;
- the tile bytes of a fixed input stay as pinned.
"""

import hashlib

import pandas as pd
import pytest

from open_vector_tile_spark.codec import VectorTile
from open_vector_tile_spark.operators import TileStore, run_pipeline
from open_vector_tile_spark.sources import pages_pdf, pois_pdf, polygons_pdf

ZOOM = 4
N_PAGES = 400


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(pages_pdf(N_PAGES)).cache()


def _tiles_map(tiles_df):
    return {
        (r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in tiles_df.collect()
    }


@pytest.mark.slow
def test_tiles_deterministic_across_partitionings(spark, pages):
    polys = polygons_pdf()
    a = _tiles_map(run_pipeline(pages, polys, None, zoom=ZOOM))
    b = _tiles_map(run_pipeline(pages.repartition(13), polys, None, zoom=ZOOM))
    assert a.keys() == b.keys() and len(a) > 0
    for k in a:
        assert a[k] == b[k], f"tile bytes differ at {k}"


def test_polygon_layer_column_splits_ovt_layers(spark, pages):
    polys = polygons_pdf()  # even poly_id -> admin, odd -> landuse
    tiles = _tiles_map(run_pipeline(pages, polys, None, zoom=ZOOM))
    seen = set()
    for blob in tiles.values():
        seen |= set(VectorTile(blob).layers.keys())
    assert "admin" in seen and "landuse" in seen
    # pages features ride in the same tiles
    assert "pages" in seen


def test_overlapping_polygons_emit_distinct_feature_ids(spark):
    # one page inside BOTH overlapping squares -> two 'pages' features in
    # the same tile; their ids (xxhash64(url, poly_id)) must differ or the
    # within-tile sort is non-total and bytes become shuffle-dependent
    sq = lambda pid, d: {
        "poly_id": pid,
        "layer": "admin",
        "ring_xy": [[-d, -d, d, -d, d, d, -d, d, -d, -d]],
        "name": f"sq-{pid}",
        "kind": "zone",
        "rank": 0,
    }
    polys = pd.DataFrame([sq(0, 5.0), sq(1, 6.0)])
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://x.org/a"],
                "warc_ts": [pd.Timestamp("2025-01-01")],
                "html": [b"<html/>"],
                "text": ["Report 0: events in X (0.10000, 0.10000) drew attention."],
                "lang": ["en"],
            }
        )
    )
    tiles = _tiles_map(run_pipeline(pages, polys, None, zoom=ZOOM))
    feats = []
    for blob in tiles.values():
        layers = VectorTile(blob).layers
        if "pages" in layers:
            lay = layers["pages"]
            feats += [lay.feature(i) for i in range(len(lay))]
    assert len(feats) == 2
    ids = {f.id for f in feats}
    assert len(ids) == 2, "duplicate feature ids for overlapping polygons"
    assert {f.properties["poly_id"] for f in feats} == {0, 1}


def test_nearest_poi_attached_without_dropping_props(spark, pages):
    polys = polygons_pdf()
    pois = pois_pdf(20)
    tiles = _tiles_map(run_pipeline(pages, polys, pois, zoom=ZOOM))
    checked = 0
    for blob in tiles.values():
        layers = VectorTile(blob).layers
        if "pages" not in layers:
            continue
        lay = layers["pages"]
        for i in range(len(lay)):
            props = lay.feature(i).properties
            assert {"url", "lang", "poly_id", "nearest_poi"} <= props.keys()
            assert props["nearest_poi"] is not None
            assert props["url"].startswith("https://")
            checked += 1
    assert checked > 0


def test_resumed_run_commits_no_empty_snapshot(spark, pages, tmp_path):
    """A second identical run finds every tile committed: it writes no
    snapshot, so reads do not union an empty one."""
    store = TileStore(str(tmp_path / "store"))
    for _ in range(2):
        run_pipeline(pages, polygons_pdf(), pois_pdf(20), zoom=ZOOM, store=store)
    assert store.snapshots() == ["snapshot=0"]
    assert store.read_tiles(spark).count() == 80


def test_tile_bytes_pinned(spark, pages):
    """sha256 of the sorted (zoom, tile_x, tile_y, tile) rows, pinned at
    commit dfb2d5a (polygon layers from the driver-side featurizer then,
    from polygons_to_features_dist since): the page layer, the admin and
    landuse layers split by the ``layer`` column, and the nearest POI."""
    tiles = run_pipeline(pages, polygons_pdf(), pois_pdf(20), zoom=ZOOM)
    rows = sorted(
        (r["zoom"], r["tile_x"], r["tile_y"], bytes(r["tile"])) for r in tiles.collect()
    )
    assert len(rows) == 80
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == (
        "0b34b783a98ff1739808fefb9b3fc7e337bcc89f18c7686bb7d9bfd2764b039c"
    )
