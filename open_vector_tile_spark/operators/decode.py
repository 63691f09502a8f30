"""Table-level tile scan: tiles table -> feature/grid/image rows (S1 at scale).

The reference reads one tile lazily (position references, memoized columns —
src/vectorTile.ts:92-132, src/open/columnCache.ts:104-177); at table scale
the same economy comes from (a) Catalyst column pruning feeding the decoder
a ``layers`` request so non-requested layers are never touched inside the
blob (SURVEY §4 R1), and (b) Arrow-batched ``mapInPandas`` so tile bytes
never become JVM row objects.

Full fidelity: ``decode_tiles`` emits the tiler's FEATURE_SCHEMA —
ring/poly structure, dash offsets, bbox, per-vertex M-values, earcut
indices and tessellation — for BOTH OVT layers (wire tag 4,
src/open/vectorFeature.ts:182-329) and MVT/S2 layers (wire tags 1/3,
src/vectorTile.ts:104-121), so ``encode_tiles(decode_tiles(t))`` is a
lossless round trip.  Grids (tag 6) and images (tag 7) are surfaced by the
companion scans ``decode_grids`` / ``decode_images``.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame

from ..codec import TileDecodeError, VectorTile
from ..codec.tile import DECODE_ERROR_CLASSES
from ..codec.layer import OVLayer
from ..codec.mvt import MvtLayer

DECODED_SCHEMA = (
    "zoom int, tile_x long, tile_y long, layer string, source string, "
    "extent int, feature_index int, id long, ftype int, n_vertices int, "
    "geom_xy array<int>, ring_lens array<int>, poly_lens array<int>, "
    "offsets array<double>, bbox array<double>, indices array<int>, "
    "tess_xy array<int>, props_json string, mvals_json string"
)

GRID_SCHEMA = (
    "zoom int, tile_x long, tile_y long, name string, extent int, size int, "
    "grid_min double, grid_max double, data array<double>"
)

IMAGE_SCHEMA = (
    "zoom int, tile_x long, tile_y long, name string, type string, "
    "width int, height int, image binary"
)


def _flatten_geometry(f, ftype: int):
    """OVFeature/BaseFeature geometry (codec model) -> the tiler's columnar
    carriers: (flat verts, ring_lens, poly_lens, offsets, flat mvals).

    Inverse of operators/tiler.py:rows_to_base_feature, so the output row can
    be fed straight back into ``encode_tiles`` (read walkers it mirrors:
    src/open/vectorFeature.ts:182-329).
    """
    dims = 3 if ftype in (4, 5, 6) else 2
    ring_lens = poly_lens = offsets = None
    mflat: Optional[list] = None
    if ftype in (1, 4):
        verts = list(f.geometry)
        mv = getattr(f, "mvalues", None)
        if mv is not None and any(m is not None for m in mv):
            mflat = [m or {} for m in mv]
    else:
        if ftype in (2, 5):
            polys = [f.geometry]
            poly_lens = None
        else:
            polys = f.geometry
            poly_lens = [len(poly) for poly in polys]
        verts = []
        ring_lens = []
        offs: list[float] = []
        any_off = False
        any_m = False
        mtmp: list = []
        for poly in polys:
            for ln in poly:
                verts.extend(ln.points)
                ring_lens.append(len(ln.points))
                offs.append(float(ln.offset))
                if ln.offset > 0:
                    any_off = True
                if ln.mvalues is not None:
                    any_m = True
                    mtmp.extend(m or {} for m in ln.mvalues)
                else:
                    mtmp.extend({} for _ in ln.points)
        offsets = offs if any_off else None
        mflat = mtmp if any_m else None
    flat = [int(c) for p in verts for c in p[:dims]]
    return flat, len(verts), ring_lens, poly_lens, offsets, mflat


def _feature_row(zoom, tx, ty, lname, source, extent, i, f) -> tuple:
    ftype = int(f.ftype)
    flat, n_verts, ring_lens, poly_lens, offsets, mflat = _flatten_geometry(f, ftype)
    indices = list(f.indices) if getattr(f, "indices", None) else None
    tess = getattr(f, "tessellation", None)
    # writer stores tessellation as 2D pairs (src/open/vectorFeature.ts:737);
    # the 3D read asymmetry (:573) is upstream-lossy, so emit pairs
    tess_xy = [int(c) for p in tess for c in p[:2]] if tess else None
    bbox = [float(v) for v in f.bbox] if getattr(f, "bbox", None) else None
    fid = None
    if f.id is not None:
        # wire ids are u64 (varint); carry as two's-complement i64 in the
        # Spark long column (xxhash64 convention) — the tiler unwraps
        fid = int(f.id)
        if fid >= 1 << 63:
            fid -= 1 << 64
    return (
        zoom, tx, ty, lname, source, int(extent), i,
        fid,
        ftype, n_verts, flat, ring_lens, poly_lens, offsets, bbox, indices,
        tess_xy,
        json.dumps(f.properties, default=str),
        json.dumps(mflat, default=str) if mflat is not None else None,
    )


def _tile_rows(rows_of, zoom: int, tx: int, ty: int, blob, on_error: str) -> list[tuple]:
    """``rows_of(zoom, tx, ty, parsed_tile)`` over one blob.

    ``rows_of`` returns a list, so a tile that fails mid-decode adds no row:
    "skip" drops the offending tile atomically (returns []), "fail" raises
    :class:`TileDecodeError`.  Lazy feature decode means truncation can
    surface as a raw IndexError etc. after the header parse; the codec owns
    the canonical class list."""
    try:
        return rows_of(zoom, tx, ty, VectorTile(bytes(blob)))
    except DECODE_ERROR_CLASSES as e:
        if on_error == "skip":
            return []
        if isinstance(e, TileDecodeError):
            raise
        raise TileDecodeError(f"tile ({zoom},{tx},{ty}): {type(e).__name__}: {e}") from e


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(", ")]


def _scan_tiles(
    tiles: DataFrame,
    on_error: str,
    rows_of: Callable[[int, int, int, VectorTile], list[tuple]],
    schema: str,
) -> DataFrame:
    """The tile scan the decoders share: tiles(zoom, tile_x, tile_y, tile)
    -> the rows ``rows_of(zoom, tx, ty, parsed_tile)`` returns per tile, as
    ``schema``; ``on_error`` as in :func:`_tile_rows`."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be fail|skip, got {on_error!r}")
    columns = _columns(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for zoom, tx, ty, blob in zip(
                pdf["zoom"].tolist(),
                pdf["tile_x"].tolist(),
                pdf["tile_y"].tolist(),
                pdf["tile"].tolist(),
            ):
                out.extend(_tile_rows(rows_of, int(zoom), int(tx), int(ty), blob, on_error))
            yield pd.DataFrame(out, columns=columns)

    return tiles.mapInPandas(run, schema)


def _feature_rows(
    layers: Optional[list[str]], sources: tuple
) -> Callable[[int, int, int, VectorTile], list[tuple]]:
    """The per-tile feature decode of :func:`decode_tiles` and
    :func:`read_tileset`: a parsed tile -> its DECODED_SCHEMA rows, for the
    requested layer names and wire families."""
    want = set(layers) if layers else None
    want_ovt = "ovt" in sources
    want_mvt = "mvt" in sources

    def rows_of(zoom: int, tx: int, ty: int, parsed: VectorTile) -> list[tuple]:
        rows: list[tuple] = []
        for lname, layer in parsed.layers.items():
            if want is not None and lname not in want:
                continue
            if isinstance(layer, OVLayer):
                if not want_ovt:
                    continue
                extent = layer.extent
                for i in range(len(layer)):
                    rows.append(
                        _feature_row(
                            zoom, tx, ty, lname, "ovt", extent, i, layer.feature(i)
                        )
                    )
            elif isinstance(layer, MvtLayer):
                if not want_mvt:
                    continue
                extent = layer.extent
                src = "s2" if layer.is_s2 else "mvt"
                for i in range(len(layer)):
                    rows.append(
                        _feature_row(
                            zoom, tx, ty, lname, src, extent, i,
                            layer.feature(i).to_base(),
                        )
                    )
        return rows

    return rows_of


def decode_tiles(
    tiles: DataFrame,
    layers: Optional[list[str]] = None,
    sources: tuple = ("ovt", "mvt"),
    on_error: str = "fail",
) -> DataFrame:
    """tiles(zoom, tile_x, tile_y, tile) -> exploded feature rows.

    ``layers`` prunes decoding to the requested layer names: other layers'
    features are never parsed (the codec's lazy position references mean
    skipping a layer costs only its header scan).  ``sources`` selects wire
    families: "ovt" (tag 4) and/or "mvt" (tags 1/3 incl. legacy S2).

    ``on_error``: "fail" (default) raises :class:`TileDecodeError` on a
    corrupt blob; "skip" drops the offending TILE atomically (no partial
    feature output from a tile that fails mid-decode) and keeps the job
    alive — the operational choice at fleet scale where torn writes happen.
    """
    return _scan_tiles(tiles, on_error, _feature_rows(layers, sources), DECODED_SCHEMA)


def decode_grids(
    tiles: DataFrame, names: Optional[list[str]] = None, on_error: str = "fail"
) -> DataFrame:
    """tiles -> one row per embedded grid layer (wire tag 6,
    src/open/gridLayer.ts:7-48), data dequantized to float64.

    ``on_error`` mirrors :func:`decode_tiles`: "skip" drops a corrupt tile
    atomically instead of failing the scan."""
    want = set(names) if names else None

    def rows_of(zoom: int, tx: int, ty: int, parsed: VectorTile) -> list[tuple]:
        return [
            (
                zoom, tx, ty, name, int(g.extent), int(g.size),
                float(g.min), float(g.max), [float(v) for v in g.data()],
            )
            for name, g in parsed.grids.items()
            if want is None or name in want
        ]

    return _scan_tiles(tiles, on_error, rows_of, GRID_SCHEMA)


def decode_images(
    tiles: DataFrame, names: Optional[list[str]] = None, on_error: str = "fail"
) -> DataFrame:
    """tiles -> one row per embedded image layer (wire tag 7,
    src/open/imageLayer.ts:37-73), bytes passed through untouched.

    ``on_error`` mirrors :func:`decode_tiles`: "skip" drops a corrupt tile
    atomically instead of failing the scan."""
    want = set(names) if names else None

    def rows_of(zoom: int, tx: int, ty: int, parsed: VectorTile) -> list[tuple]:
        return [
            (
                zoom, tx, ty, name, img.type, int(img.width), int(img.height),
                img.image(),
            )
            for name, img in parsed.images.items()
            if want is None or name in want
        ]

    return _scan_tiles(tiles, on_error, rows_of, IMAGE_SCHEMA)


# the listing frame a read_tileset ``where`` filters: the source's columns
# less the blob, plus each entry's position in the listing
_LISTING_SCHEMA = (
    "zoom int, tile_x bigint, tile_y bigint, path string, n_bytes bigint, entry bigint"
)


def _matching(spark, entries: list, where) -> list:
    """The listing entries ``where`` keeps, in listing order.  The filter
    runs on a local relation built from pandas over Arrow, which Spark's
    optimizer evaluates on the driver, so ``collect`` starts no job (an
    Arrow ``toPandas`` would start one: ~0.1 s against ~0.01 s for a
    window's few rows)."""
    listing = pd.DataFrame(
        [(z, x, y, p, n, i) for i, (z, x, y, p, n, _off) in enumerate(entries)],
        columns=_columns(_LISTING_SCHEMA),
    )
    kept = spark.createDataFrame(listing, _LISTING_SCHEMA).filter(where).select("entry")
    return [entries[i] for i in sorted(r.entry for r in kept.collect())]


def read_tileset(
    spark,
    path: str,
    layers: Optional[list[str]] = None,
    sources: tuple = ("ovt", "mvt"),
    num_partitions: Optional[int] = None,
    where=None,
) -> DataFrame:
    """One-liner tileset scan: directory of ``z_x_y.{mvt,pbf,ovt}`` files
    and ``.ovtshard`` containers -> decoded feature rows (DECODED_SCHEMA).

    The driver lists the tileset once (``sources.tileset._list_tiles``).
    ``where`` is any Column predicate over zoom/tile_x/tile_y/path/n_bytes;
    it filters that listing before a task starts, so unmatched blobs are
    never opened.  A filter the caller applies to the returned frame runs
    after decode (the mapInPandas is a planning barrier).  ``layers`` and
    ``sources`` prune inside the blob, as in :func:`decode_tiles`.

    The matched entries are split into ``num_partitions`` contiguous,
    path-sorted runs, by default ``sources.tileset.read_width`` of their
    bytes.  Each run is one task that reads its blobs and decodes them in
    one ``mapInPandas``, yielding at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows at a time.  A
    corrupt blob raises :class:`TileDecodeError`.
    """
    from ..sources.tileset import _list_tiles, read_blobs, read_width

    entries = _list_tiles(path)
    if where is not None:
        entries = _matching(spark, entries, where)
    if not entries:
        return spark.createDataFrame([], DECODED_SCHEMA)
    width = min(num_partitions or read_width(sum(e[4] for e in entries)), len(entries))
    size = -(-len(entries) // width)
    runs = [entries[i : i + size] for i in range(0, len(entries), size)]
    rows_of = _feature_rows(layers, sources)
    columns = _columns(DECODED_SCHEMA)
    max_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for part in pdf["id"].tolist():
                out: list[tuple] = []
                for (zoom, tx, ty, *_), blob in zip(runs[part], read_blobs(runs[part])):
                    out.extend(_tile_rows(rows_of, zoom, tx, ty, blob, "fail"))
                    if len(out) >= max_rows:
                        yield pd.DataFrame(out, columns=columns)
                        out = []
                if out:
                    yield pd.DataFrame(out, columns=columns)

    return spark.range(len(runs), numPartitions=len(runs)).mapInPandas(run, DECODED_SCHEMA)
