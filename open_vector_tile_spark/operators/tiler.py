"""Tile materialization: normalized feature rows -> OVT tile bytes.

Spark tracing (SURVEY §3.2): feature DataFrame -> ``repartition(zoom, tile_x,
tile_y)`` (the rule-pinned shuffle key) -> one ``mapInArrow`` walk over the
sorted runs of that key (JVM->Python Arrow boundary, ``_encode_sorted_runs``)
-> ``(zoom, x, y, tile, n_features, n_bytes)`` rows for the tiles table sink.

The per-tile encoder builds the write-side IR (codec.BaseLayer/BaseFeature)
and emits bytes with the byte-exact codec — all reference ordering rules
(feature-type sort O2, two-phase number-column index assignment §3.2) live in
the codec, not here.

Feature row schema (FIXTURES.md §6):
  zoom int, tile_x long, tile_y long, layer string, extent int,
  id long, ftype int,
  geom_xy array<int>      -- interleaved vertices (2D: x,y | 3D: x,y,z)
  ring_lens array<int>    -- vertices per line/ring (empty for points)
  poly_lens array<int>    -- rings per polygon (empty unless type 3/6)
  offsets array<double>, bbox array<double>,
  indices array<int>, tess_xy array<int>,
  props_json string       -- per-feature properties (generic carrier)
  mvals_json string       -- nullable per-vertex M-values
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass
from itertools import product
from typing import Iterable, Optional, Union

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import BaseFeature, BaseLayer, BaseLine, write_ov_tile
from ..codec.kernels import transform_point
from ..codec.mvt import signed_area
from ..functions.geo import tile_floor_np, tile_project_col, transform_point_col
from ._parallel import fan_out

FEATURE_SCHEMA = (
    "zoom int, tile_x long, tile_y long, layer string, extent int, "
    "id long, ftype int, geom_xy array<int>, ring_lens array<int>, "
    "poly_lens array<int>, offsets array<double>, bbox array<double>, "
    "indices array<int>, tess_xy array<int>, props_json string, mvals_json string"
)

TILE_SCHEMA = "zoom int, tile_x long, tile_y long, tile binary, n_features long, n_bytes long"
_TILE_ARROW_SCHEMA = pa.schema(
    [("zoom", pa.int32()), ("tile_x", pa.int64()), ("tile_y", pa.int64()),
     ("tile", pa.binary()), ("n_features", pa.int64()), ("n_bytes", pa.int64())]
)  # TILE_SCHEMA in Arrow types


@dataclass
class LayerSpec:
    """Engine analogue of the reference's S2JSONLayerGuide
    (src/base/vectorLayer.ts:118-128): pin extent/shape per layer."""

    extent: int = 4096
    shape: Optional[dict] = None
    mshape: Optional[dict] = None


def _aslist(v) -> list:
    """None/NaN-safe array-column -> python list (numpy arrays reject `or`)."""
    if v is None:
        return []
    if hasattr(v, "tolist"):
        return v.tolist()
    return list(v)


def rows_to_base_feature(row) -> BaseFeature:
    """One feature row (dict-like; all-null columns may be absent) -> IR."""
    ftype = int(row["ftype"])
    dims = 3 if ftype in (4, 5, 6) else 2
    geom = row["geom_xy"]
    if geom is None:
        geom = []
    elif hasattr(geom, "tolist"):
        geom = geom.tolist()  # C-speed numpy->python ints (scalar math is 5x faster)
    if dims == 2 and len(geom) == 2:
        verts = [(geom[0], geom[1])]  # single-point fast path
    else:
        verts = [tuple(geom[i : i + dims]) for i in range(0, len(geom), dims)]
    mvals = json.loads(row["mvals_json"]) if row.get("mvals_json") else None
    offsets = _aslist(row.get("offsets"))

    if ftype in (1, 4):
        geometry: list = verts
        feature_mvals = mvals
    else:
        ring_lens = [int(x) for x in _aslist(row.get("ring_lens"))]
        lines: list = []
        pos = 0
        flat_m = mvals if mvals else None
        mpos = 0
        for li, ln in enumerate(ring_lens):
            pts = verts[pos : pos + ln]
            pos += ln
            lm = None
            if flat_m is not None:
                lm = flat_m[mpos : mpos + ln]
                mpos += ln
            off = float(offsets[li]) if li < len(offsets) else 0.0
            lines.append(BaseLine(points=pts, offset=off, mvalues=lm))
        if ftype in (2, 5):
            geometry = lines
        else:
            poly_lens = [int(x) for x in _aslist(row.get("poly_lens"))] or [len(lines)]
            geometry = []
            p = 0
            for n in poly_lens:
                geometry.append(lines[p : p + n])
                p += n
        feature_mvals = None

    fid = row.get("id")
    if fid is not None and not pd.isna(fid):
        fid = int(fid)
        if fid < 0:  # two's-complement carrier for wire u64 ids (decode.py)
            fid += 1 << 64
    else:
        fid = None
    tess_flat = _aslist(row.get("tess_xy"))
    props = row.get("props_json")
    bbox_raw = row.get("bbox")
    return BaseFeature(
        ftype=ftype,
        geometry=geometry,
        properties=json.loads(props) if props else {},
        id=fid,
        bbox=(_aslist(bbox_raw) or None) if bbox_raw is not None else None,
        indices=[int(x) for x in _aslist(row.get("indices"))],
        tessellation=[
            (int(tess_flat[i]), int(tess_flat[i + 1])) for i in range(0, len(tess_flat), 2)
        ],
        mvalues=feature_mvals,
    )


def _encode_rows(
    rows: list[dict],
    specs: Optional[dict],
    tile_format: str = "ovt",
    mapbox_support: bool = False,
) -> tuple:
    """Feature row dicts of ONE tile -> (tile_bytes, n_features)."""
    layers_by_name: dict[str, BaseLayer] = {}
    for row in rows:
        lname = row["layer"]
        layer = layers_by_name.get(lname)
        if layer is None:
            spec = (specs or {}).get(lname, None)
            layer = BaseLayer(
                name=str(lname),
                extent=spec.extent if spec else int(row["extent"]),
                shape=dict(spec.shape) if spec and spec.shape else None,
                mshape=dict(spec.mshape) if spec and spec.mshape else None,
            )
            layers_by_name[lname] = layer
        layer.add_feature(rows_to_base_feature(row))
    layers = [layers_by_name[k] for k in sorted(layers_by_name)]
    if tile_format == "mvt":
        # legacy writer flavor (S8, src/mapbox/writeMVTile.ts:45-66)
        from ..codec import write_mvt

        tile_bytes = write_mvt(layers, mapbox_support=mapbox_support)
    else:
        tile_bytes = write_ov_tile(layers)
    return tile_bytes, len(rows)


_TILE_KEY = ["zoom", "tile_x", "tile_y"]


def _arrange_for_encode(features, partitions, sort_cols):
    """Shuffle features onto the tile key with a width that keeps the
    (Python-heavy) encode stage parallel.

    ``partitions=None`` used to fall through to ``repartition(*_TILE_KEY)`` —
    spark.sql.shuffle.partitions wide, which AQE then coalesces BY BYTES
    (parallelismFirst's 1 MB floor).  Encoded features are a few hundred
    bytes each but cost ~25 us of Python per feature, so byte-based
    coalescing collapsed the encode stage to 1-2 tasks whenever the feature
    payload was small (measured: 1.32 s -> 0.55 s at 50k features on
    local[32] with an explicit one-wave width).  Default to one full wave
    of the cluster (defaultParallelism tasks; an explicit count is exempt
    from AQE coalescing); large jobs should pass ``partitions`` sized to
    their payload.

    Widths follow rows, not a multiple of the cores: every task starts a
    Python runner.  On a 4-core VM (Python 3.11) a one-row ``mapInArrow``
    job takes ~0.14 s of wall time, and the worker's per-task
    ``importlib.invalidate_caches()`` ~0.1 ms.  Before
    ``_spark_archives.freeze_spark_archives`` that call re-read every
    Spark zip archive the worker had imported from, ~0.12 s of each task
    (~15k features of bulk point encoding), and the one-row job took
    ~0.31 s.  The one-wave default was sized against that older cost;
    whether narrower tasks now pay is not yet measured."""
    if not partitions:
        partitions = features.sparkSession.sparkContext.defaultParallelism
    return features.repartition(partitions, *_TILE_KEY).sortWithinPartitions(*sort_cols)


def _encode_sorted_runs(arranged: DataFrame, encode_runs) -> DataFrame:
    """Tile-sorted rows (:func:`_arrange_for_encode`) -> tiles (TILE_SCHEMA),
    with ONE Python call per Arrow batch (``mapInArrow``).  Batches reach
    pandas with ``integer_object_nulls``: a long column holding a null
    becomes Python ints and None, not float64, so ids past 2**53 stay
    exact.

    ``encode_runs(batch, starts, ends)`` returns the bytes of the tiles whose
    rows are ``batch[starts[i]:ends[i]]``, one per run of the tile key.  A
    batch's last run may continue into the next batch, so it is carried over
    and encoded with the batch that closes it (or at the end of the
    partition).  This beats ``groupBy().applyInPandas`` by ~8x when tiles
    are small (64k tiny groups = 64k pandas DataFrame constructions vs one
    per 10k-row batch)."""

    def emit(done: pd.DataFrame, bounds: np.ndarray) -> pa.RecordBatch:
        starts, ends = bounds[:-1], bounds[1:]
        tiles = encode_runs(done, starts, ends)
        out = {k: done[k].to_numpy()[starts] for k in _TILE_KEY}
        return pa.RecordBatch.from_pandas(
            pd.DataFrame(
                {**out, "tile": tiles, "n_features": ends - starts, "n_bytes": [len(t) for t in tiles]}
            ),
            schema=_TILE_ARROW_SCHEMA,
            preserve_index=False,
        )

    def run_starts(pdf: pd.DataFrame) -> np.ndarray:
        zs, xs, ys = (pdf[k].to_numpy() for k in _TILE_KEY)
        change = np.flatnonzero((zs[1:] != zs[:-1]) | (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1]))
        return np.concatenate([[0], change + 1])

    def run(batches: Iterable[pa.RecordBatch]):
        # rows not yet encoded; a batch of one tile key is only appended, so
        # a tile spanning many batches is joined once, when its run closes
        pending: list = []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pdf = batch.to_pandas(integer_object_nulls=True)
            pending.append(pdf)
            if all(pdf[k].iat[0] == pdf[k].iat[-1] for k in _TILE_KEY):
                continue  # sorted on the key, so one key: the run goes on
            pdf = pd.concat(pending, ignore_index=True)
            bounds = run_starts(pdf)
            yield emit(pdf.iloc[: bounds[-1]], bounds)
            pending = [pdf.iloc[bounds[-1] :]]  # the last run may go on
        if pending:
            pdf = pd.concat(pending, ignore_index=True)
            yield emit(pdf, np.append(run_starts(pdf), len(pdf)))

    return arranged.mapInArrow(run, TILE_SCHEMA)


def encode_tiles(
    features: DataFrame,
    specs: Optional[dict] = None,
    partitions: Optional[int] = None,
    tile_format: str = "ovt",
    mapbox_support: bool = False,
) -> DataFrame:
    """features (FEATURE_SCHEMA) -> tiles (TILE_SCHEMA).

    One shuffle keyed on (zoom, tile_x, tile_y) via repartition +
    sortWithinPartitions, then the generic writer (:func:`_encode_rows`) on
    each sorted run of the tile key (:func:`_encode_sorted_runs`).
    """
    # stable within-tile order: shuffle arrival order is not guaranteed, and
    # tile bytes depend on feature order — sort by id when the caller ships
    # one (byte-deterministic output across runs/cluster sizes)
    sort_cols = _TILE_KEY + (["id"] if "id" in features.columns else [])
    arranged = _arrange_for_encode(features, partitions, sort_cols)
    optional = [
        "id", "ring_lens", "poly_lens", "offsets", "bbox",
        "indices", "tess_xy", "props_json", "mvals_json",
    ]

    def encode_runs(pdf: pd.DataFrame, starts: np.ndarray, ends: np.ndarray) -> list:
        # drop all-null optional columns before row conversion (halves
        # the Arrow->PyObject cost for the common point-layer case)
        dead = [c for c in optional if c in pdf.columns and pdf[c].isna().all()]
        records = (pdf.drop(columns=dead) if dead else pdf).to_dict("records")
        return [
            _encode_rows(records[s:e], specs, tile_format, mapbox_support)[0]
            for s, e in zip(starts.tolist(), ends.tolist())
        ]

    return _encode_sorted_runs(arranged, encode_runs)


def encode_point_tiles(
    features: DataFrame,
    meta: dict,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Bulk path for uniform single-point layers (the 100 TB pages payload):
    consumes the fully-columnar output of :func:`points_to_features_columnar`
    and encodes ALL complete tiles of each Arrow batch in ONE numpy call of
    the cross-tile byte-exact writer (codec.fast_points.
    encode_point_layer_tiles_bulk), whose per-tile work is a byte-slice join
    — against ~25us/feature for the generic writer in :func:`encode_tiles`.
    No per-row pandas access anywhere.
    """
    from ..codec.fast_points import encode_point_layer_tiles_bulk

    layer = meta["layer"]
    extent = meta["extent"]
    shape = dict(meta["specs"][layer].shape or {})
    sort_cols = _TILE_KEY + (["id"] if "id" in features.columns else [])
    arranged = _arrange_for_encode(features, partitions, sort_cols)

    def encode_runs(pdf: pd.DataFrame, starts: np.ndarray, ends: np.ndarray) -> list:
        tiles = encode_point_layer_tiles_bulk(
            layer,
            extent,
            shape,
            {k: pdf[f"p_{k}"].to_numpy() for k in shape},
            pdf["qx"].to_numpy(),
            pdf["qy"].to_numpy(),
            ends - starts,
            ids=pdf["id"].to_numpy() if "id" in pdf.columns else None,
        )
        return [bytes(t) for t in tiles]

    return _encode_sorted_runs(arranged, encode_runs)


def _zoom_list(zoom) -> list:
    """One zoom or an iterable of zooms -> the sorted distinct levels (the
    rule of all three featurizers)."""
    zooms = sorted({int(z) for z in zoom}) if isinstance(zoom, Iterable) else [int(zoom)]
    if not zooms:
        raise ValueError("zoom must name at least one level")
    return zooms


def _point_tiles(points: DataFrame, lon: str, lat: str, zoom, extent: int) -> tuple:
    """(points with both coordinates, tile_x, tile_y, qx, qy): the one
    projection (functions/geo.py:tile_project_col), then P13 extent
    quantization (round(p*extent), JS half-up).  A point with a null lon
    or lat has no tile, so it is dropped."""
    lon, lat = F.col(lon), F.col(lat)
    tx, ty, mx, my = tile_project_col(lon, lat, zoom)
    qx = transform_point_col(mx - tx, extent)
    qy = transform_point_col(my - ty, extent)
    return points.where(lon.isNotNull() & lat.isNotNull()), tx, ty, qx, qy


def points_to_features(
    points: DataFrame,
    zoom: Union[int, Iterable[int]],
    layer: str,
    extent: int = 4096,
    lon: str = "lon",
    lat: str = "lat",
    id_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
    z: Optional[str] = None,
    z_scale: float = 1.0,
) -> DataFrame:
    """Point rows -> type-1 feature rows for ``encode_tiles``, or type-4
    (3D) rows when ``z`` names a height column, quantized by ``z_scale``
    with the same JS half-up rounding as x/y (reference 3D types
    src/vectorTile.spec.ts:29-35).  All math is JVM column expressions
    (:func:`_point_tiles`).

    ``zoom`` is one zoom level or an iterable of them (sorted, deduped).
    One level stays a literal zoom column and 2^zoom a literal.  Two
    or more explode each point to every level JVM-side (``array`` +
    ``explode``, no Python), with the tile math parameterized by the zoom
    column: the whole pyramid costs one scan of the source and one shuffle
    on (zoom, tile_x, tile_y) in ``encode_tiles``, not one per level, and
    each level's rows equal a single-zoom call's."""
    zooms = _zoom_list(zoom)
    zc = zooms[0]
    if len(zooms) > 1:
        points = points.withColumn("zoom", F.explode(F.array(*[F.lit(v) for v in zooms])))
        zc = F.col("zoom")
    points, tx, ty, qx, qy = _point_tiles(points, lon, lat, zc, extent)
    geom = [qx, qy]
    if z:
        geom.append(transform_point_col(F.col(z), z_scale))
    cols = [
        F.lit(zc).alias("zoom"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        F.lit(layer).alias("layer"),
        F.lit(extent).alias("extent"),
        F.lit(4 if z else 1).alias("ftype"),
        F.array(*geom).alias("geom_xy"),
    ]
    # optional columns are OMITTED when unused: shipping all-null array<T>
    # columns through Arrow->pandas costs ~16us/row/column (measured 64s of
    # a 70s stage at 4M rows) — the encoder treats absent == null
    if id_col:
        cols.append(F.col(id_col).cast("long").alias("id"))
    if props_cols:
        cols.append(F.to_json(F.struct(*[F.col(c) for c in props_cols])).alias("props_json"))
    return points.select(*cols)


_SPARK_TO_PRIM = {
    "string": "string",
    "bigint": "i64",
    "int": "i64",
    "smallint": "i64",
    "tinyint": "i64",
    "double": "f64",
    "float": "f32",
    "boolean": "bool",
}


def points_to_features_columnar(
    points: DataFrame,
    zoom: int,
    layer: str,
    extent: int = 4096,
    lon: str = "lon",
    lat: str = "lat",
    id_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
) -> tuple[DataFrame, dict]:
    """Fully-columnar point featurization for the bulk encoder: emits
    (qx, qy[, id][, p_<prop>...]) typed columns instead of geom arrays /
    props JSON, plus the derived LayerSpec dict to pass to
    :func:`encode_point_tiles`.  Shape is pinned from the Spark schema.
    Same projection and null rule as :func:`points_to_features`."""
    points, tx, ty, qx, qy = _point_tiles(points, lon, lat, zoom, extent)
    cols = [
        F.lit(zoom).alias("zoom"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        qx.alias("qx"),
        qy.alias("qy"),
    ]
    if id_col:
        cols.append(F.col(id_col).cast("long").alias("id"))
    shape: dict = {}
    dtypes = dict(points.dtypes)
    for c in props_cols or []:
        prim = _SPARK_TO_PRIM.get(dtypes.get(c, "string"), "string")
        shape[c] = prim
        cols.append(F.col(c).alias(f"p_{c}"))
    specs = {layer: LayerSpec(extent=extent, shape=shape)}
    return points.select(*cols), {"layer": layer, "extent": extent, "specs": specs}


# ---------------------------------------------------------------------------
# Executor-side line/polygon featurizers (the 100 TB ingest path)
# ---------------------------------------------------------------------------
# These take a Spark DataFrame of geometry arrays and featurize INSIDE
# mapInPandas, mirroring polygon_covering_df (spatial_join.py): per Arrow
# batch, the mercator trig runs ONCE over the concatenated vertex array
# (vectorized) and every zoom level reuses it as a scalar multiple;
# per-geometry work is only the bbox-cover tile expansion (plus the clip
# and simplify when asked).  No createDataFrame(rows), no driver
# materialization anywhere — the layer can be arbitrarily large (the
# reference's own OMT corpus is 429 tiles of mostly line/poly layers,
# benchmarks/ovtVScovt.ts:38-44) and the output unions straight into
# encode_tiles' single (zoom,tile_x,tile_y) shuffle.

_LINES_SCHEMA = (
    "zoom int, tile_x long, tile_y long, layer string, extent int, id long, "
    "ftype int, geom_xy array<int>, ring_lens array<int>, offsets array<double>, "
    "props_json string, mvals_json string"
)
_POLYS_SCHEMA = (
    "zoom int, tile_x long, tile_y long, layer string, extent int, id long, "
    "ftype int, geom_xy array<int>, ring_lens array<int>, poly_lens array<int>, "
    "props_json string, mvals_json string"
)


def _kernel_input(
    df: DataFrame,
    zoom,
    dims: int,
    clip_buffer: Optional[int],
    mvals_json_col: Optional[str],
    props_cols: Optional[Iterable[str]],
    geom_cols: dict,
) -> tuple:
    """Argument checks and the narrow projection shared by the two
    featurizers -> (zoom list, kernel input DataFrame).

    ``geom_cols`` maps each source column the kernel reads to its aliased
    kernel-side Column; those columns and ``mvals_json_col`` are not
    properties when ``props_cols`` is None.  Props serialize JVM-side:
    to_json keeps struct-field order and OMITS null fields, so absent ==
    null on the wire."""
    if dims not in (2, 3):
        raise ValueError(f"dims must be 2|3, got {dims}")
    if clip_buffer is not None and mvals_json_col:
        raise ValueError("per-vertex M-values cannot be clipped; drop mvals_json_col")
    zooms = _zoom_list(zoom)
    if props_cols is None:
        props_cols = [c for c in df.columns if c not in geom_cols and c != mvals_json_col]
    props = [F.col(c) for c in props_cols]
    src = df.select(
        *geom_cols.values(),
        (F.col(mvals_json_col) if mvals_json_col else F.lit(None).cast("string")).alias("_mv"),
        (F.to_json(F.struct(*props)) if props else F.lit("{}")).alias("_pj"),
    )
    # fan a narrow scan out BEFORE the kernel: the per-geometry work is a
    # python-level clip loop over every covered tile (~ms/row for a
    # world-spanning line at z3, 1000x the shingle kernels' per-row cost),
    # so the width heuristic gets a 16 KB/task chunk — a single-file scan
    # otherwise runs the whole clip serially (measured 12.7 s -> one wave
    # at sf0.1 clip_pyramid); already-wide inputs are untouched
    return zooms, fan_out(src, chunk=16 * 1024)


def _zoom_scaled(arrs: list, zooms: list):
    """Per zoom: (zoom, vertex arrays of ``arrs`` with x, y as
    mercator*2^zoom and z unchanged).  The trig runs once over the batch's
    concatenated vertices; each zoom level is a scalar multiple of it."""
    from ..functions.geo import merc_x_np, merc_y_np

    flat = np.concatenate(arrs)
    proj = flat.copy()
    proj[:, 0] = merc_x_np(flat[:, 0])
    proj[:, 1] = merc_y_np(flat[:, 1])
    bounds = np.cumsum([len(a) for a in arrs])[:-1]
    for zoom in zooms:
        scaled = proj.copy()
        scaled[:, :2] *= float(1 << zoom)
        yield zoom, np.split(scaled, bounds)


def _covered_tiles(xy: np.ndarray, zoom: int):
    """(ty, tx) of every tile the bbox of ``xy`` (mercator*2^zoom rows)
    covers, rows outer — identical to cover_bbox_np over the lon/lat bbox
    (mercator is monotone, so min/max commute with the projection
    bit-exactly)."""
    lo = tile_floor_np(xy[:, :2].min(axis=0), zoom).astype(int)
    hi = tile_floor_np(xy[:, :2].max(axis=0), zoom).astype(int)
    return product(range(lo[1], hi[1] + 1), range(lo[0], hi[0] + 1))


def _tile_geom(xy: np.ndarray, tx: int, ty: int, extent: int, z_scale: float) -> list:
    """One tile's vertices (rows of mercator*2^zoom x, y[, z]) -> the flat
    interleaved ``geom_xy`` ints: x, y in tile-local extent units, z times
    ``z_scale``, all with the P13 JS half-up rounding."""
    cols = [transform_point(xy[:, 0] - tx, extent), transform_point(xy[:, 1] - ty, extent)]
    if xy.shape[1] == 3:
        cols.append(transform_point(xy[:, 2], z_scale))
    return np.column_stack(cols).ravel().tolist()


def _zero_area(ring: np.ndarray) -> bool:
    """classifyRings' degenerate-ring test on a ring's x, y rows."""
    return signed_area([tuple(p[:2]) for p in ring]) == 0.0


def _feature_frame(out: dict, layer: str, extent: int, ftype: int) -> pd.DataFrame:
    m = len(out["id"])
    return pd.DataFrame(
        {**out, "layer": [layer] * m, "extent": [extent] * m, "ftype": [ftype] * m}
    )


def lines_to_features_dist(
    lines: DataFrame,
    zoom: Union[int, Iterable[int]],
    layer: str,
    extent: int = 4096,
    id_col: str = "line_id",
    xy_col: str = "xy",
    offset_col: str = "offset",
    mvals_json_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
    dims: int = 2,
    z_scale: float = 1.0,
    clip_buffer: Optional[int] = None,
    simplify_px: Optional[float] = None,
) -> DataFrame:
    """Line layer -> type-2 (``dims=2``) or type-5 (``dims=3``) feature rows.

    ``lines``: Spark DataFrame with ``id_col long``, ``xy_col array<double>``
    (flat interleaved lon,lat[,z]), optional ``offset_col double``, optional
    ``mvals_json_col string`` (pre-serialized per-vertex M-values), plus any
    property columns (``props_cols``; default all the others).  Each line
    lands in every tile its bbox covers; vertex quantization is P13 JS
    half-up, z by ``z_scale``.

    ``zoom`` is one zoom level or an iterable of them (sorted, deduped:
    the rule of :func:`points_to_features`).  A zoom pyramid costs ONE
    source scan and one downstream shuffle, not one per level: the Arrow
    kernel loops the levels over each batch's already-projected geometry,
    and its rows equal the union of single-zoom calls — the single-pass
    shape of ``points_to_features`` given a zoom list.

    ``clip_buffer`` (extent pixels, e.g. 64): when set, each tile's copy is
    CLIPPED to the tile + buffer with vectorized Liang–Barsky
    (:func:`~open_vector_tile_spark.operators.clip.clip_polyline_np`) —
    a line that exits and re-enters becomes a multi-line, and every part
    carries offset = caller offset + arc length from the original line
    start (in extent px), the reference's VectorLineWithOffset semantics so
    dashes/labels survive clipping.  Without it the whole geometry lands in
    every covered tile (spec buffer semantics, vector-tile-spec
    README.md:411-413) — correct, but O(tiles × vertices) bytes for long
    geometries; clipping makes per-tile bytes O(vertices-in-tile), the
    shape that matters at planet scale.  Per-vertex M-values cannot be
    carried through a clip (vertices change), so combining
    ``mvals_json_col`` with ``clip_buffer`` raises.

    ``simplify_px``: Douglas–Peucker tolerance in extent pixels
    (:func:`~open_vector_tile_spark.operators.simplify.simplify_dp_np`),
    applied AFTER clipping, before quantization.  Clip window and
    tolerance both scale with each zoom's tile size, so low-zoom tiles stay
    O(visible pixels) instead of O(source vertices)."""
    has_off = offset_col in lines.columns
    zooms, src = _kernel_input(
        lines, zoom, dims, clip_buffer, mvals_json_col, props_cols,
        {
            id_col: F.col(id_col).cast("long").alias("_id"),
            xy_col: F.col(xy_col).alias("_xy"),
            offset_col: (F.col(offset_col).cast("double") if has_off else F.lit(0.0)).alias("_off"),
        },
    )
    ftype = 2 if dims == 2 else 5
    bu = None if clip_buffer is None else clip_buffer / float(extent)
    tol = None if simplify_px is None else simplify_px / float(extent)

    def run(batches: Iterable[pd.DataFrame]):
        from .clip import clip_polyline_np
        from .simplify import simplify_dp_np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = [np.asarray(v, dtype=np.float64).reshape(-1, dims) for v in pdf["_xy"]]
            ids = pdf["_id"].to_numpy()
            offs = pdf["_off"].to_numpy()
            mvs = pdf["_mv"].tolist()
            pjs = pdf["_pj"].tolist()
            out: dict = defaultdict(list)
            for zoom, geoms in _zoom_scaled(arrs, zooms):
                for i, geom in enumerate(geoms):
                    if len(geom) == 0:
                        continue
                    tiles = _covered_tiles(geom, zoom)
                    if bu is None and tol is not None:
                        # no clip: simplify once, shared by every covered tile
                        geom = simplify_dp_np(geom, tol)
                        if len(geom) < 2:
                            continue
                    for ty, tx in tiles:
                        if bu is None:
                            parts, poffs = [geom], [0.0]
                        else:
                            parts, poffs = clip_polyline_np(
                                geom, tx - bu, ty - bu, tx + 1 + bu, ty + 1 + bu,
                                return_offsets=True,
                            )
                            if tol is not None:
                                parts = [simplify_dp_np(p, tol) for p in parts]
                            kept = [(p, o) for p, o in zip(parts, poffs) if len(p) >= 2]
                            if not kept:
                                continue
                            parts, poffs = zip(*kept)
                        part_offs = [float(offs[i]) + po * extent for po in poffs]
                        out["zoom"].append(zoom)
                        out["tile_x"].append(tx)
                        out["tile_y"].append(ty)
                        out["id"].append(int(ids[i]))
                        out["geom_xy"].append(
                            _tile_geom(np.concatenate(parts), tx, ty, extent, z_scale)
                        )
                        out["ring_lens"].append([len(p) for p in parts])
                        out["offsets"].append(
                            part_offs if any(o > 0 for o in part_offs) else None
                        )
                        out["props_json"].append(pjs[i])
                        out["mvals_json"].append(mvs[i])
            if out["id"]:
                yield _feature_frame(out, layer, extent, ftype)

    return src.mapInPandas(run, _LINES_SCHEMA)


def polygons_to_features_dist(
    polygons: DataFrame,
    zoom: Union[int, Iterable[int]],
    layer: str,
    extent: int = 4096,
    drop_degenerate: bool = True,
    id_col: str = "poly_id",
    rings_col: str = "ring_xy",
    mvals_json_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
    dims: int = 2,
    z_scale: float = 1.0,
    clip_buffer: Optional[int] = None,
    simplify_px: Optional[float] = None,
) -> DataFrame:
    """Polygon layer (FIXTURES.md §2 shape) -> type-3 (``dims=2``) or
    type-6 (``dims=3``) feature rows.

    ``polygons``: Spark DataFrame with ``id_col long``, ``rings_col
    array<array<double>>`` (each ring a flat interleaved vertex list, outer
    first), optional ``mvals_json_col string``, plus property columns
    (``props_cols``; default all the others).  Each polygon lands in every
    tile its OUTER ring's bbox covers (spec buffer semantics: coordinates
    outside [0, extent] are legal, vector-tile-spec README.md:411-413);
    ring vertices quantize with P13 JS half-up rounding, z by ``z_scale``.
    Zero-area rings are dropped like classifyRings
    (src/mapbox/vectorFeature.ts:357-381) when ``drop_degenerate`` (2D
    only).  ``zoom`` is one zoom level or an iterable of them, in one scan
    (see :func:`lines_to_features_dist`).

    ``simplify_px``: Douglas–Peucker ring tolerance in extent pixels
    (:func:`~open_vector_tile_spark.operators.simplify.simplify_ring_np`),
    applied BEFORE the per-tile clip (rings shrink once, then clip per
    tile); a ring collapsing below 3 vertices is dropped, and a collapsed
    OUTER ring deletes its polygon.

    ``clip_buffer`` (extent pixels): when set, each tile's copy of every
    ring is clipped to the tile + buffer with vectorized Sutherland–Hodgman
    (:func:`~open_vector_tile_spark.operators.clip.clip_rings_np`).  A
    polygon whose outer ring clips away vanishes from that tile; holes clip
    independently (exact against a convex window).  Without it the whole
    polygon lands in every covered tile — correct per spec buffer
    semantics but O(tiles × vertices) bytes for continent-sized rings.
    Clip window and tolerance both scale with each zoom's tile size.
    Combining ``mvals_json_col`` with ``clip_buffer`` raises (per-vertex
    M-values don't survive a vertex-changing clip)."""
    zooms, src = _kernel_input(
        polygons, zoom, dims, clip_buffer, mvals_json_col, props_cols,
        {
            id_col: F.col(id_col).cast("long").alias("_id"),
            rings_col: F.col(rings_col).alias("_rings"),
        },
    )
    ftype = 3 if dims == 2 else 6
    bu = None if clip_buffer is None else clip_buffer / float(extent)
    tol = None if simplify_px is None else simplify_px / float(extent)
    # a clipped or simplified ring is re-checked for zero area per tile
    recheck = dims == 2 and drop_degenerate and (bu is not None or tol is not None)

    def run(batches: Iterable[pd.DataFrame]):
        from .clip import clip_rings_np
        from .simplify import simplify_ring_np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # surviving rings of all polygons, flat; spans[k] = (row, first
            # ring, end ring) of each polygon that keeps a ring
            arrs: list = []
            spans: list = []
            for i, rings in enumerate(pdf["_rings"]):
                first = len(arrs)
                for r in rings:
                    arr = np.asarray(r, dtype=np.float64).reshape(-1, dims)
                    if not (dims == 2 and drop_degenerate and _zero_area(arr)):
                        arrs.append(arr)
                if len(arrs) > first:
                    spans.append((i, first, len(arrs)))
            if not arrs:
                continue
            ids = pdf["_id"].to_numpy()
            mvs = pdf["_mv"].tolist()
            pjs = pdf["_pj"].tolist()
            out: dict = defaultdict(list)
            for zoom, scaled in _zoom_scaled(arrs, zooms):
                for i, a, b in spans:
                    rings = scaled[a:b]
                    tiles = _covered_tiles(rings[0], zoom)
                    if tol is not None:
                        outer = simplify_ring_np(rings[0], tol)
                        if len(outer) < 3:
                            continue
                        rings = [outer] + [
                            c for c in (simplify_ring_np(h, tol) for h in rings[1:])
                            if len(c) >= 3
                        ]
                    for ty, tx in tiles:
                        clipped = rings if bu is None else clip_rings_np(
                            rings, tx - bu, ty - bu, tx + 1 + bu, ty + 1 + bu
                        )
                        if recheck and clipped:
                            if _zero_area(clipped[0]):
                                continue  # degenerate outer: polygon gone here
                            clipped = [clipped[0]] + [
                                c for c in clipped[1:] if not _zero_area(c)
                            ]
                        if not clipped:
                            continue
                        out["zoom"].append(zoom)
                        out["tile_x"].append(tx)
                        out["tile_y"].append(ty)
                        out["id"].append(int(ids[i]))
                        out["geom_xy"].append(
                            _tile_geom(np.concatenate(clipped), tx, ty, extent, z_scale)
                        )
                        out["ring_lens"].append([len(c) for c in clipped])
                        out["poly_lens"].append([len(clipped)])
                        out["props_json"].append(pjs[i])
                        out["mvals_json"].append(mvs[i])
            if out["id"]:
                yield _feature_frame(out, layer, extent, ftype)

    return src.mapInPandas(run, _POLYS_SCHEMA)


def s2json_tiles_to_ovt(
    tiles: DataFrame,
    layer_map: Optional[dict] = None,
    json_col: str = "s2json",
) -> DataFrame:
    """S11 source adapter at table scale: rows of (zoom, tile_x, tile_y,
    s2json string) -> OVT tile rows (TILE_SCHEMA).

    Each S2JSON document is converted via the codec adapter
    (``BaseVectorTile.fromS2JSONTile`` semantics, src/base/vectorTile.ts:39-49)
    and written with the byte-exact writer — one Arrow batch pass, no
    per-tile shuffle needed since each row IS one tile.  The adapter is a
    per-row Python loop (~0.5 ms/tile: json parse + layer build + byte
    write), so a narrow input (single-row-group parquet scan = 1 task) is
    fanned to data-sized width first (no-op for already-parallel input;
    per-row output, so partitioning cannot change any tile's bytes) —
    measured 2.9 s -> 1.4 s on the sf0.1 s2json_roundtrip chain."""
    import json as _json

    from ..codec.s2json import s2json_to_base_layers

    tiles = fan_out(tiles, chunk=16 * 1024)

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            for zoom, tx, ty, doc in zip(
                pdf["zoom"].tolist(), pdf["tile_x"].tolist(),
                pdf["tile_y"].tolist(), pdf[json_col].tolist(),
            ):
                tile_dict = _json.loads(doc) if isinstance(doc, str) else doc
                layers = s2json_to_base_layers(tile_dict, layer_map)
                blob = write_ov_tile(layers)
                n = sum(len(ly.features) for ly in layers)
                out.append((int(zoom), int(tx), int(ty), blob, n, len(blob)))
            yield pd.DataFrame(
                out, columns=["zoom", "tile_x", "tile_y", "tile", "n_features", "n_bytes"]
            )

    return tiles.mapInPandas(run, TILE_SCHEMA)


def images_to_tiles(images: DataFrame) -> DataFrame:
    """Image rows (zoom, tile_x, tile_y, name, type, width, height, image)
    -> one OVT tile per key carrying the image layer(s) (S10 passthrough,
    src/open/imageLayer.ts:94-104).

    The same sorted-run walk (:func:`_encode_sorted_runs`) as
    :func:`encode_tiles`, with ``write_ov_tile(None, images=...)`` per run.
    The shuffle is ``repartition(key)``, which AQE coalesces by bytes: image
    rows are byte-heavy and cheap in Python, the opposite of the feature
    rows :func:`_arrange_for_encode` sizes its one-wave width for.  Sorting
    by (key, name, image) makes tile bytes order-independent of shuffle
    arrival: the image bytes break ties between same-named rows within one
    tile (binary sorts lexicographically JVM-side), so identical input
    always packs in one order."""
    arranged = images.repartition(*_TILE_KEY).sortWithinPartitions(*_TILE_KEY, "name", "image")

    def encode_runs(pdf: pd.DataFrame, starts: np.ndarray, ends: np.ndarray) -> list:
        imgs = [
            {"name": nm, "type": tp, "width": int(w), "height": int(hh), "image": bytes(im)}
            for nm, tp, w, hh, im in zip(
                pdf["name"].tolist(), pdf["type"].tolist(), pdf["width"].tolist(),
                pdf["height"].tolist(), pdf["image"].tolist(),
            )
        ]
        return [write_ov_tile(None, images=imgs[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]

    return _encode_sorted_runs(arranged, encode_runs)
