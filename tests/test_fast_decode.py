"""The bulk point-tile decoder (``fast_points.decode_point_layer_tiles_bulk``)
against the generic per-tile decode: the same rows on every tile it takes,
in the same order next to tiles it leaves to the generic path, and corrupt
tiles failing or skipped exactly as before."""

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_vector_tile_spark.codec import (
    BaseFeature,
    BaseLayer,
    BaseLine,
    TileDecodeError,
    write_mvt,
    write_ov_tile,
)
from open_vector_tile_spark.codec.fast_points import (
    decode_point_layer_tiles_bulk,
    encode_point_layer_tiles_bulk,
)
from open_vector_tile_spark.operators.decode import (
    DECODED_SCHEMA,
    _feature_decoder,
    _feature_rows,
    _point_batch,
    _tile_rows,
)

SOURCES = ("ovt", "mvt")
_U64 = 1 << 64

_VALUES = {
    "string": st.text(max_size=6) | st.sampled_from(["", "é", "日本", " \"\\"]),
    "u64": st.integers(0, _U64 - 1) | st.sampled_from([2**53 + 1, 2**63, _U64 - 1]),
    "i64": st.integers(-(2**63), 2**63 - 1),
    "f32": st.floats(width=32) | st.sampled_from([-0.0, float("nan"), float("inf"), -float("inf")]),
    "f64": st.floats() | st.sampled_from([-0.0, float("nan"), float("inf"), -float("inf")]),
    "bool": st.booleans(),
    "null": st.none(),
}
_IDS = st.none() | st.integers(0, _U64 - 1) | st.sampled_from([2**53 + 1, 2**63, 2**63 + 5, _U64 - 1])
_COORD = st.integers(-(2**15), 2**15 - 1)


def _generic_rows(tiles, layers=None, sources=SOURCES):
    """The rows the generic per-tile decode gives (zoom, x, y, blob) tiles."""
    rows_of = _feature_rows(layers, sources)
    out = []
    for z, x, y, blob in tiles:
        out.extend(_tile_rows(rows_of, z, x, y, blob, "fail"))
    return out


def _bulk_rows(tiles, layers=None, sources=SOURCES):
    """The bulk decoder's rows for tiles it takes all of, as tuples."""
    zs, xs, ys, blobs = zip(*tiles)
    ok, counts, cols = decode_point_layer_tiles_bulk(list(blobs), layers, "ovt" in sources)
    assert ok.all()
    batch = _point_batch(zs, xs, ys, counts, cols)
    return [tuple(r.values()) for r in batch.to_pylist()]


@st.composite
def _point_layer(draw, name):
    keys = draw(st.lists(st.text(min_size=1, max_size=4), max_size=4, unique=True))
    shape = {k: draw(st.sampled_from(sorted(_VALUES))) for k in keys}
    n = draw(st.integers(0, 3))
    feats = [
        (
            draw(_COORD), draw(_COORD),
            {k: draw(_VALUES[t]) for k, t in shape.items()},
            draw(_IDS) if draw(st.booleans()) else None,
        )
        for _ in range(n)
    ]
    return name, draw(st.sampled_from([512, 4096, 16384])), shape, feats


def _generic_tile(layers) -> bytes:
    return write_ov_tile(
        [
            BaseLayer(
                name=name, extent=extent, shape=dict(shape),
                features=[BaseFeature(1, [(x, y)], props, fid) for x, y, props, fid in feats],
            )
            for name, extent, shape, feats in layers
        ]
    )


def _bulk_tile(layer) -> bytes:
    name, extent, shape, feats = layer
    n = len(feats)
    xs = np.array([f[0] for f in feats], dtype=np.int64)
    ys = np.array([f[1] for f in feats], dtype=np.int64)
    props = {}
    for k, t in shape.items():
        vals = [f[2][k] for f in feats]
        if t in ("f32", "f64"):
            props[k] = np.array(vals, dtype=np.float64)
        elif t == "bool":
            props[k] = np.array(vals, dtype=bool)
        elif t == "u64":
            # the encoder takes longs: a u64 past 2**63 as two's complement
            props[k] = np.array([v - _U64 if v >> 63 else v for v in vals], dtype=np.int64)
        elif t == "i64":
            props[k] = np.array(vals, dtype=np.int64)
        else:
            props[k] = np.array(vals, dtype=object)
    ids = np.array(
        [None if f[3] is None else (f[3] - _U64 if f[3] >> 63 else f[3]) for f in feats],
        dtype=object,
    )
    (tile,) = encode_point_layer_tiles_bulk(name, extent, shape, props, xs, ys, [n], ids=ids)
    return tile


@settings(max_examples=80, deadline=None)
@given(
    layers=st.lists(st.sampled_from(["pages", "poi", "é层"]), min_size=1, max_size=2, unique=True)
    .flatmap(lambda names: st.tuples(*(_point_layer(n) for n in names))),
    bulk=st.booleans(),
    pick=st.sampled_from([None, ["pages"], ["poi", "é层"]]),
)
def test_bulk_decode_equals_generic(layers, bulk, pick):
    """Random point layers written by the bulk encoder (one layer of at
    least one feature, no null key) or the generic writer (one or two
    layers): the bulk decoder takes the tile and gives the generic decode's
    rows, with and without a ``layers`` pick."""
    name, extent, shape, feats = layers[0]
    if bulk and feats and "null" not in shape.values():
        blob = _bulk_tile(layers[0])
    else:
        blob = _generic_tile(layers)
    tiles = [(12, 5, 7, blob), (12, 5, 8, blob)]
    assert _bulk_rows(tiles, pick) == _generic_rows(tiles, pick)
    assert _bulk_rows(tiles, sources=("mvt",)) == [] == _generic_rows(tiles, sources=("mvt",))


def test_bulk_decode_ids_values_and_counts():
    """The named edges at once: no id, ids past 2**53 and at or above 2**63
    (two's complement), -0.0, NaN and infinities, empty and non-ASCII
    strings, and layers of 0 and 1 features."""
    shape = {"s": "string", "u": "u64", "i": "i64", "f": "f32", "d": "f64", "b": "bool", "n": "null"}
    feats = [
        (1, -2, {"s": "", "u": 2**64 - 1, "i": -(2**63), "f": -0.0, "d": float("nan"),
                 "b": True, "n": None}, None),
        (-32768, 32767, {"s": "é日本", "u": 0, "i": 5, "f": float("inf"), "d": -0.0,
                         "b": False, "n": None}, 2**53 + 1),
        (0, 0, {"s": "a\"b", "u": 7, "i": -1, "f": 0.1, "d": -float("inf"), "b": True,
                "n": None}, 2**63 + 5),
    ]
    layers = [("pages", 4096, shape, feats), ("empty", 512, {"s": "string"}, []),
              ("one", 512, {}, [(3, 4, {}, 0)])]
    tiles = [(10, 1, 2, _generic_tile(layers)), (10, 1, 3, _generic_tile(layers[1:]))]
    rows = _bulk_rows(tiles)
    assert rows == _generic_rows(tiles)
    assert [r[7] for r in rows] == [None, 2**53 + 1, 2**63 + 5 - 2**64, 0, 0]
    # the writer stores -0.0 as 0.0 (``float(value or 0)``)
    assert rows[0][17] == (
        '{"s": "", "u": 18446744073709551615, "i": -9223372036854775808, "f": 0.0, '
        '"d": NaN, "b": true, "n": null}'
    )


def _mixed_tiles():
    """Tiles the bulk decoder takes, interleaved with an MVT tile, a line
    tile, a nested-shape tile, a grid-only tile, a multi-point tile and a
    tile of two point layers of one name (the generic decode keeps the
    last one, at the first one's place)."""
    pages = ("pages", 4096, {"url": "string", "rank": "i64"},
             [(10, 20, {"url": "a", "rank": -3}, 7), (30, 40, {"url": "é", "rank": 2}, 9)])
    mvt = write_mvt([BaseLayer(name="pages", extent=4096, features=[
        BaseFeature(1, [(5, 6)], {"url": "m"}, 3)])])
    line = write_ov_tile([BaseLayer(name="roads", features=[
        BaseFeature(2, [BaseLine(points=[(0, 0), (5, 5), (9, 1)])], {"kind": "r"}, 4)])])
    nested = write_ov_tile([BaseLayer(name="pages", shape={"a": {"b": "u64"}}, features=[
        BaseFeature(1, [(1, 1)], {"a": {"b": 3}}, 5)])])
    grid = write_ov_tile(grids=[{"name": "elev", "size": 2, "extent": 8, "data": [0, 1, 2, 3]}])
    multi = write_ov_tile([BaseLayer(name="pages", features=[
        BaseFeature(1, [(1, 2), (3, 4)], {"url": "mp"}, 6)])])
    two = _generic_tile([pages, ("poi", 512, {"v": "f64"}, [(7, 8, {"v": 1.5}, None)])])
    same_name = _generic_tile([pages, ("pages", 512, {"v": "u64"}, [(1, 2, {"v": 4}, None)])])
    blobs = [_bulk_tile(pages), mvt, line, two, nested, grid, _bulk_tile(pages), multi,
             same_name, _bulk_tile(pages)]
    return [(9, 100 + i, 200 + i, b) for i, b in enumerate(blobs)]


def test_mixed_batch_splits_between_paths():
    tiles = _mixed_tiles()
    ok, counts, _ = decode_point_layer_tiles_bulk([t[3] for t in tiles])
    assert ok.tolist() == [True, False, False, True, False, False, True, False, False, True]
    assert counts.tolist() == [2, 0, 0, 3, 0, 0, 2, 0, 0, 2]


def _spark_tiles(spark, tiles):
    return spark.createDataFrame(
        tiles, "zoom int, tile_x long, tile_y long, tile binary"
    ).coalesce(1)


def _write_tileset(path, tiles):
    from open_vector_tile_spark.sources.tileset import write_shard

    os.makedirs(path)
    write_shard(os.path.join(path, "part-00000.ovtshard"), tiles)


@pytest.mark.parametrize(
    "layers,sources", [(None, SOURCES), (["pages"], SOURCES), (None, ("mvt",)), (None, ("ovt",))]
)
def test_mixed_batch_rows_and_order_in_both_scans(spark, tmp_path, layers, sources):
    """Both feature scans give the generic decode's rows in tile order when
    bulk and generic tiles share an Arrow batch; ``layers`` and ``sources``
    prune as before."""
    from open_vector_tile_spark.operators import decode_tiles, read_tileset

    tiles = _mixed_tiles()
    want = _generic_rows(tiles, layers, sources)
    assert want
    got = decode_tiles(_spark_tiles(spark, tiles), layers=layers, sources=sources).collect()
    assert [tuple(r) for r in got] == want
    path = str(tmp_path / "tileset")
    _write_tileset(path, tiles)
    got = read_tileset(spark, path, layers=layers, sources=sources, num_partitions=1).collect()
    assert [tuple(r) for r in got] == want
    assert got[0].__fields__ == [c.split()[0] for c in DECODED_SCHEMA.split(", ")]


def test_null_id_next_to_long_ids_stays_exact(spark, tmp_path):
    """A feature without an id next to ids past 2**53, in one output batch:
    both scans keep the long ids exact (a pandas frame of the rows would
    turn the id column into float64)."""
    from open_vector_tile_spark.operators import decode_tiles, read_tileset

    ids = [2**60 + 1, None, 2**60 + 3, 2**63 + 5]
    layer = ("pages", 4096, {"k": "u64"},
             [(i, i, {"k": i}, fid) for i, fid in enumerate(ids)])
    tiles = [(8, 1, 1, _bulk_tile(layer)), (8, 1, 2, write_mvt([BaseLayer(name="m", features=[
        BaseFeature(1, [(1, 1)], {}, 2**60 + 7), BaseFeature(1, [(2, 2)], {}, None)])]))]
    want = [2**60 + 1, None, 2**60 + 3, 2**63 + 5 - 2**64, 2**60 + 7, None]
    got = decode_tiles(_spark_tiles(spark, tiles)).select("id").collect()
    assert [r.id for r in got] == want
    path = str(tmp_path / "tileset")
    _write_tileset(path, tiles)
    got = read_tileset(spark, path, num_partitions=1).select("id").collect()
    assert [r.id for r in got] == want


def _cuts():
    layer = ("pages", 4096, {"url": "string", "rank": "u64"},
             [(10, 20, {"url": "https://a", "rank": 3}, 2**60), (1, 2, {"url": "b", "rank": 9}, None)])
    good = _bulk_tile(layer)
    return good, [good[:cut] for cut in range(1, len(good))]


def test_cut_bulk_tile_fails_or_skips_as_before():
    """A bulk-encoded point tile cut at every offset: the bulk decoder
    leaves it to the generic path, which raises TileDecodeError on "fail"
    and drops exactly the cut tile, with no partial rows, on "skip"."""
    good, cuts = _cuts()
    decode = _feature_decoder(None, SOURCES)
    good_rows = _generic_rows([(5, 0, 0, good)])
    ok, _, _ = decode_point_layer_tiles_bulk(cuts)
    assert not ok.any()
    for cut in cuts:
        with pytest.raises(TileDecodeError):
            list(decode([5, 5], [0, 1], [0, 0], [good, cut], "fail"))
        kept = list(decode([5, 5, 5], [0, 1, 0], [0, 0, 0], [good, cut, good], "skip"))
        assert [tuple(r.values()) for b in kept for r in b.to_pylist()] == good_rows * 2


def test_cut_bulk_tiles_through_spark(spark, tmp_path):
    from open_vector_tile_spark.operators import decode_tiles, read_tileset

    good, cuts = _cuts()
    tiles = [(5, 2 * i, 0, good) for i in range(len(cuts))]
    tiles += [(5, 2 * i + 1, 0, cut) for i, cut in enumerate(cuts)]
    frame = _spark_tiles(spark, sorted(tiles, key=lambda t: t[1]))
    kept = decode_tiles(frame, on_error="skip").collect()
    assert [tuple(r) for r in kept] == _generic_rows(sorted(tiles[: len(cuts)], key=lambda t: t[1]))
    with pytest.raises(Exception, match="TileDecodeError"):
        decode_tiles(frame).collect()
    path = str(tmp_path / "tileset")
    _write_tileset(path, [(5, 0, 0, good), (5, 1, 0, cuts[len(cuts) // 2])])
    with pytest.raises(Exception, match="TileDecodeError"):
        read_tileset(spark, path).collect()
