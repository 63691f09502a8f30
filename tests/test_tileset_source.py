"""DataSourceV2 tileset-directory source/sink (sources/tileset.py).

Reads tile directories (z_x_y.{mvt,ovt,pbf} files), asserting
filename-level filter pushdown, partition-parallel reads, blob fidelity,
and the write->read round trip.  Every reader test runs on a loose tileset
the engine writes itself (MVT and OVT tiles, z0-3); the reference's
committed benchmark tiles (``REF_MVT``) are an extra tier that skips only
when that directory is absent."""

import os
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F

REF_MVT = "/root/reference/benchmarks/data/omt/mvt"


class Tileset(NamedTuple):
    path: str
    n_tiles: int  # tiles the directory lists


@pytest.fixture(scope="module")
def registered(spark):
    from open_vector_tile_spark.sources.tileset import OvtTilesetDataSource

    spark.dataSource.register(OvtTilesetDataSource)
    return spark


@pytest.fixture(scope="module")
def engine_tileset(registered, tmp_path_factory):
    """A loose tileset written through the ``files`` layout: the same 300
    points encoded at z0-3, MVT for the western half of each zoom's tile
    columns (z0's single tile included) and OVT for the eastern half, so
    every tile key appears once and zoom 2 holds both formats."""
    from functools import reduce

    from open_vector_tile_spark.operators import encode_tiles, points_to_features

    pts = registered.range(300).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("name"),
    )
    feats = reduce(
        lambda a, b: a.unionByName(b),
        [
            points_to_features(
                pts, zoom=z, layer="pois", extent=4096, id_col="doc_id", props_cols=["name"]
            )
            for z in range(4)
        ],
    )
    west = F.col("tile_x") * 2 < F.pow(F.lit(2), F.col("zoom"))
    root = str(tmp_path_factory.mktemp("engine_tileset"))
    for fmt, half in (("mvt", west), ("ovt", ~west)):
        (
            encode_tiles(feats, tile_format=fmt)
            .filter(half)
            .select("zoom", "tile_x", "tile_y", "tile")
            .write.format("ovt_tileset")
            .option("path", root)
            .option("suffix", fmt)
            .mode("append")
            .save()
        )
    n = len(_expected_files(root))
    assert n > 0 and len(os.listdir(root)) == n
    assert {fn.rsplit(".", 1)[1] for fn in os.listdir(root)} == {"mvt", "ovt"}
    return Tileset(root, n)


@pytest.fixture(params=["engine", "reference"])
def tileset(request):
    if request.param == "reference":
        if not os.path.isdir(REF_MVT):
            pytest.skip(f"reference tileset {REF_MVT} is absent")
        return Tileset(REF_MVT, 429)
    return request.getfixturevalue("engine_tileset")


def _expected_files(root):
    import re

    out = {}
    for fn in os.listdir(root):
        m = re.match(r"^(\d+)[-_](\d+)[-_](\d+)\b", fn)
        if m and fn.endswith((".mvt", ".pbf", ".ovt")):
            p = os.path.join(root, fn)
            out[(int(m.group(1)), int(m.group(2)), int(m.group(3)))] = os.path.getsize(p)
    return out


def test_tileset_scan_lists_all_tiles(registered, tileset):
    df = registered.read.format("ovt_tileset").option("path", tileset.path).load()
    got = {
        (r["zoom"], r["tile_x"], r["tile_y"]): r["n_bytes"]
        for r in df.select("zoom", "tile_x", "tile_y", "n_bytes").collect()
    }
    assert got == _expected_files(tileset.path)


def test_tileset_blob_bytes_match_disk(registered, tileset):
    df = (
        registered.read.format("ovt_tileset")
        .option("path", tileset.path)
        .load()
        .filter(F.col("zoom") == 2)
    )
    rows = df.collect()
    assert rows
    for r in rows:
        with open(r["path"], "rb") as fh:
            assert bytes(r["tile"]) == fh.read()


def test_tileset_filter_pushdown_prunes_files(registered, tileset):
    """The pushed zoom filter must shrink the PARTITION file lists (pruning
    happens in partitions(), before any read), not just the output rows."""
    from open_vector_tile_spark.sources.tileset import OvtTilesetReader
    from pyspark.sql.datasource import EqualTo

    reader = OvtTilesetReader({"path": tileset.path, "num_partitions": "4"})
    all_files = sum(len(p.files) for p in reader.partitions())

    reader2 = OvtTilesetReader({"path": tileset.path, "num_partitions": "4"})
    rest = list(reader2.pushFilters([EqualTo(("zoom",), 2)]))
    assert rest == []  # fully absorbed
    pruned = sum(len(p.files) for p in reader2.partitions())
    assert 0 < pruned < all_files
    assert all(t[0] == 2 for p in reader2.partitions() for t in p.files)

    # end-to-end: the DataFrame filter produces exactly the pruned files
    df = (
        registered.read.format("ovt_tileset")
        .option("path", tileset.path)
        .load()
        .filter(F.col("zoom") == 2)
    )
    assert df.count() == pruned


def test_tileset_unsupported_filter_returned(registered):
    from open_vector_tile_spark.sources.tileset import OvtTilesetReader
    from pyspark.sql.datasource import EqualTo, StringContains

    reader = OvtTilesetReader({"path": REF_MVT})
    rest = list(
        reader.pushFilters([EqualTo(("zoom",), 2), StringContains(("path",), "omt")])
    )
    assert len(rest) == 1 and isinstance(rest[0], StringContains)
    assert len(reader.pushed) == 1


def test_tileset_skip_blob_stats_only(registered, tileset):
    df = (
        registered.read.format("ovt_tileset")
        .option("path", tileset.path)
        .option("skip_blob", "true")
        .load()
    )
    r = df.filter(F.col("zoom") == 2).select("n_bytes", "tile").first()
    assert r["n_bytes"] > 0 and r["tile"] is None


def test_read_tileset_decodes_tiles(registered, tileset):
    """read_tileset: listing + pre-decode filter + blob decode in one call,
    over MVT and OVT tile files."""
    from pyspark.sql import functions as F

    from open_vector_tile_spark.operators import read_tileset

    feats = read_tileset(registered, tileset.path, where=F.col("zoom") == 2)
    pdf = feats.select("zoom", "tile_x", "tile_y", "layer", "ftype").toPandas()
    assert len(pdf) > 0
    assert (pdf["zoom"] == 2).all()
    assert pdf["layer"].nunique() >= 1


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("zoom", [None, 2], ids=["all", "zoom2"])
def test_read_tileset_matches_source_then_decode(registered, tileset, zoom):
    """The one-pass read returns exactly the rows of the source scan fed to
    decode_tiles, with and without a filter."""
    from open_vector_tile_spark.operators import decode_tiles, read_tileset

    tiles = registered.read.format("ovt_tileset").option("path", tileset.path).load()
    where = None if zoom is None else F.col("zoom") == zoom
    if where is not None:
        tiles = tiles.filter(where)
    want = _sorted_rows(decode_tiles(tiles.select("zoom", "tile_x", "tile_y", "tile")))
    assert want
    assert _sorted_rows(read_tileset(registered, tileset.path, where=where)) == want


def test_read_tileset_any_predicate(registered, tileset):
    """A predicate the source's pushFilters cannot absorb (arithmetic, OR)
    still selects exactly the matching tiles before decode."""
    from open_vector_tile_spark.operators import read_tileset

    pred = (F.col("tile_x") % 2 == 0) | (F.col("zoom") == 0)
    got = read_tileset(registered, tileset.path, where=pred)
    want = read_tileset(registered, tileset.path).filter(pred)
    rows = _sorted_rows(got)
    assert rows and rows == _sorted_rows(want)
    assert len(rows) < read_tileset(registered, tileset.path).count()


def test_read_tileset_prunes_before_reading(registered, tileset, tmp_path):
    """An entry the filter drops is never opened: a garbage z9 tile fails the
    unfiltered read but not a zoom < 9 read."""
    import shutil

    from open_vector_tile_spark.operators import read_tileset

    copy = str(tmp_path / "with_garbage")
    shutil.copytree(tileset.path, copy)
    with open(os.path.join(copy, "9_0_0.ovt"), "wb") as fh:
        fh.write(b"not a tile")
    want = read_tileset(registered, tileset.path).count()
    assert read_tileset(registered, copy, where=F.col("zoom") < 9).count() == want
    with pytest.raises(Exception, match="TileDecodeError"):
        read_tileset(registered, copy).count()


def test_read_tileset_width_follows_payload(registered, tileset):
    """One task for a one-tile read, at most one wave for the full scan; the
    source's default width is the same read_width of its matched bytes."""
    from open_vector_tile_spark.operators import read_tileset
    from open_vector_tile_spark.sources.tileset import (
        OvtTilesetReader,
        _list_tiles,
        read_width,
    )

    entries = _list_tiles(tileset.path)
    z, x, y = entries[0][:3]
    one = (F.col("zoom") == z) & (F.col("tile_x") == x) & (F.col("tile_y") == y)
    assert read_tileset(registered, tileset.path, where=one).rdd.getNumPartitions() == 1
    full = read_tileset(registered, tileset.path).rdd.getNumPartitions()
    assert 1 <= full <= registered.sparkContext.defaultParallelism
    reader = OvtTilesetReader({"path": tileset.path})
    want = min(read_width(sum(e[4] for e in entries)), len(entries))
    assert len(reader.partitions()) == want


def test_read_tileset_no_match_is_empty(registered, tileset):
    from open_vector_tile_spark.operators import read_tileset

    empty = read_tileset(registered, tileset.path, where=F.col("zoom") > 99)
    assert empty.count() == 0
    assert empty.schema == read_tileset(registered, tileset.path).schema


def test_tileset_write_read_roundtrip(registered, tmp_path):
    """Encode real OVT tiles with the Spark tiler, sink them as a tileset
    directory, scan the directory back, decode — bytes and counts intact."""
    from open_vector_tile_spark.operators import decode_tiles, encode_tiles, points_to_features

    pts = registered.range(200).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
    )
    feats = points_to_features(pts, zoom=3, layer="docs", extent=4096, id_col="doc_id")
    tiles = encode_tiles(feats).cache()
    out = str(tmp_path / "tileset")
    (
        tiles.select("zoom", "tile_x", "tile_y", "tile")
        .write.format("ovt_tileset")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = registered.read.format("ovt_tileset").option("path", out).load()
    orig = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in tiles.collect()}
    got = {(r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in back.collect()}
    assert got == orig
    assert decode_tiles(back.select("zoom", "tile_x", "tile_y", "tile")).count() == 200


def test_shard_layout_roundtrip_and_pushdown(registered, tileset, tmp_path):
    """Shard container: compact a loose tileset into a few packed shards,
    read back byte-identical rows, and verify pushdown prunes at the ENTRY
    level inside shards."""
    from open_vector_tile_spark.sources.tileset import (
        OvtTilesetReader,
        read_shard_index,
    )
    from pyspark.sql.datasource import EqualTo

    loose = registered.read.format("ovt_tileset").option("path", tileset.path).load()
    want = {
        (r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in loose.collect()
    }

    out = str(tmp_path / "shards")
    (
        loose.select("zoom", "tile_x", "tile_y", "tile")
        .repartition(3)
        .write.format("ovt_tileset")
        .option("path", out)
        .option("layout", "shard")
        .mode("append")
        .save()
    )
    shard_files = [f for f in os.listdir(out) if f.endswith(".ovtshard")]
    assert 1 <= len(shard_files) <= 3  # tiles packed, not one file per tile
    assert sum(len(read_shard_index(os.path.join(out, f))[0]) for f in shard_files) == len(want)

    back = registered.read.format("ovt_tileset").option("path", out).load()
    got = {
        (r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in back.collect()
    }
    assert got == want

    # pushdown prunes shard ENTRIES before any blob read
    reader = OvtTilesetReader({"path": out, "num_partitions": "4"})
    assert list(reader.pushFilters([EqualTo(("zoom",), 2)])) == []
    entries = [t for p in reader.partitions() for t in p.files]
    assert 0 < len(entries) < len(want)
    assert all(t[0] == 2 for t in entries)
    n_z2 = sum(1 for k in want if k[0] == 2)
    assert len(entries) == n_z2


def test_shard_bytes_deterministic(tmp_path):
    """Shard bytes are a pure function of the entry set (order-insensitive)."""
    from open_vector_tile_spark.sources.tileset import write_shard

    e = [(2, 1, 1, b"aaa"), (1, 0, 0, b"bb"), (2, 0, 3, b"cccc")]
    p1, p2 = str(tmp_path / "a.ovtshard"), str(tmp_path / "b.ovtshard")
    write_shard(p1, e)
    write_shard(p2, list(reversed(e)))
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_compact_tileset_one_liner(registered, tileset, tmp_path):
    from open_vector_tile_spark.sources.tileset import compact_tileset

    dst = str(tmp_path / "compacted")
    n = compact_tileset(registered, tileset.path, dst, shards=2)
    assert n == tileset.n_tiles
    back = registered.read.format("ovt_tileset").option("path", dst).load()
    assert back.count() == n
    shard_files = [f for f in os.listdir(dst) if f.endswith(".ovtshard")]
    assert 1 <= len(shard_files) <= 2


def _tiny_tiles(spark, n, start=0):
    from open_vector_tile_spark.operators import encode_tiles, points_to_features

    pts = spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
    )
    feats = points_to_features(pts, zoom=2, layer="docs", extent=4096, id_col="doc_id")
    return encode_tiles(feats).select("zoom", "tile_x", "tile_y", "tile")


def test_writer_overwrite_clears_previous_and_leaves_no_temps(registered, tmp_path):
    """mode('overwrite') must replace the tileset, not silently append, and
    the two-phase commit must leave zero temp files behind."""
    out = str(tmp_path / "ow")
    _tiny_tiles(registered, 200).write.format("ovt_tileset").option("path", out).mode(
        "append"
    ).save()
    first = set(os.listdir(out))
    assert first
    # second job: different (smaller) tile set, overwrite
    _tiny_tiles(registered, 30).write.format("ovt_tileset").option("path", out).mode(
        "overwrite"
    ).save()
    back = registered.read.format("ovt_tileset").option("path", out).load()
    want = {
        (r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"])
        for r in _tiny_tiles(registered, 30).collect()
    }
    got = {
        (r["zoom"], r["tile_x"], r["tile_y"]): bytes(r["tile"]) for r in back.collect()
    }
    assert got == want  # old tiles gone, new tiles exact
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]


def test_writer_shard_append_jobs_do_not_clobber(registered, tmp_path):
    """Two append jobs keep both jobs' shards (job-tagged final names), and
    shard names are deterministic per partition within a job."""
    from open_vector_tile_spark.sources.tileset import read_shard_index

    out = str(tmp_path / "sh")
    for start in (0, 1000):
        _tiny_tiles(registered, 50, start=start).repartition(2).write.format(
            "ovt_tileset"
        ).option("path", out).option("layout", "shard").mode("append").save()
    shards = [f for f in os.listdir(out) if f.endswith(".ovtshard")]
    assert len(shards) in (3, 4)  # 2 jobs x <=2 non-empty partitions, no clobber
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]
    n = sum(len(read_shard_index(os.path.join(out, f))[0]) for f in shards)
    back = registered.read.format("ovt_tileset").option("path", out).load()
    assert back.count() == n


def test_writer_abort_leaves_no_partial_output(registered, tmp_path):
    """A failing write job must leave the destination with no final tile
    files and no temps: succeeding tasks' temps are swept by abort(), and
    nothing is ever renamed to a final name."""
    out = str(tmp_path / "fail")
    tiles = _tiny_tiles(registered, 50).cache()
    poison = tiles.select("tile_x", "tile_y").first()  # any real tile key
    # poison ONE tile's blob so one task fails after others already wrote temps
    bad = tiles.repartition(4, "tile_x", "tile_y").select(
        "zoom",
        "tile_x",
        "tile_y",
        F.when(
            (F.col("tile_x") == poison["tile_x"]) & (F.col("tile_y") == poison["tile_y"]),
            F.raise_error(F.lit("boom")).cast("binary"),
        )
        .otherwise(F.col("tile"))
        .alias("tile"),
    )
    with pytest.raises(Exception):
        bad.write.format("ovt_tileset").option("path", out).mode("append").save()
    leftovers = os.listdir(out) if os.path.isdir(out) else []
    assert leftovers == [], leftovers


def test_reader_ignores_orphaned_temps(registered, tmp_path):
    """A torn/orphaned '.tmp-*' file (driver killed before abort could
    sweep) must be invisible to readers — both a garbage temp shard and a
    temp loose tile."""
    out = str(tmp_path / "ts")
    tiles = _tiny_tiles(registered, 10)
    tiles.write.format("ovt_tileset").option("path", out).mode("append").save()
    n = spark_read_count(registered, out)
    # drop garbage temps that would crash read_shard_index / duplicate tiles
    with open(os.path.join(out, ".tmp-deadbeef-3-99.ovtshard"), "wb") as fh:
        fh.write(b"NOT A SHARD AT ALL")
    with open(os.path.join(out, ".tmp-deadbeef-3-99-2_0_1.ovt"), "wb") as fh:
        fh.write(b"\x00torn")
    assert spark_read_count(registered, out) == n


def spark_read_count(spark, path):
    return (
        spark.read.format("ovt_tileset").option("path", path).load().count()
    )
