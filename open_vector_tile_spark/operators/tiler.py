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
from dataclasses import dataclass
from typing import Iterable, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import BaseFeature, BaseLayer, BaseLine, write_ov_tile
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
    Python runner, and on a 4-core VM (Python 3.11) each start costs
    ~0.14 s of CPU before the first batch — pyspark's worker calls
    ``importlib.invalidate_caches()``, and each zipimporter over
    ``pyspark.zip`` then re-reads its directory.  That is ~15k features of
    bulk point encoding, so a stage whose payload fits one wave gets
    nothing from more tasks."""
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


def _project_points(lon: str, lat: str, zoom: int, extent: int) -> tuple:
    """(tile_x, tile_y, qx, qy) columns of lon/lat points at a literal zoom.

    All math is column-expression (JVM): mercator projection, tile
    assignment, extent quantization (P13: round(p*extent), JS half-up
    rounding)."""
    from ..functions.geo import merc_x_col, merc_y_col

    n = float(1 << zoom)
    mx = merc_x_col(F.col(lon)) * F.lit(n)
    my = merc_y_col(F.col(lat)) * F.lit(n)
    tx = F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), F.floor(mx))).cast("long")
    ty = F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), F.floor(my))).cast("long")
    qx = F.floor((mx - tx) * F.lit(float(extent)) + F.lit(0.5)).cast("int")
    qy = F.floor((my - ty) * F.lit(float(extent)) + F.lit(0.5)).cast("int")
    return tx, ty, qx, qy


def points_to_features(
    points: DataFrame,
    zoom: int,
    layer: str,
    extent: int = 4096,
    lon: str = "lon",
    lat: str = "lat",
    id_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Point rows -> feature rows for ``encode_tiles`` (JVM-side projection:
    :func:`_project_points`)."""
    tx, ty, qx, qy = _project_points(lon, lat, zoom, extent)
    cols = [
        F.lit(zoom).alias("zoom"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        F.lit(layer).alias("layer"),
        F.lit(extent).alias("extent"),
        F.lit(1).alias("ftype"),
        F.array(qx, qy).alias("geom_xy"),
    ]
    # optional columns are OMITTED when unused: shipping all-null array<T>
    # columns through Arrow->pandas costs ~16us/row/column (measured 64s of
    # a 70s stage at 4M rows) — the encoder treats absent == null
    if id_col:
        cols.append(F.col(id_col).cast("long").alias("id"))
    if props_cols:
        cols.append(F.to_json(F.struct(*[F.col(c) for c in props_cols])).alias("props_json"))
    return points.select(*cols)


def points_to_features_pyramid(
    points: DataFrame,
    zooms: Iterable[int],
    layer: str,
    extent: int = 4096,
    lon: str = "lon",
    lat: str = "lat",
    id_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Whole zoom-pyramid featurization in ONE pass: each point is exploded
    to every requested zoom level JVM-side (``array``+``explode``, no
    Python), with tile/quantization math parameterized by the zoom COLUMN —
    so the full pyramid is built with a single scan of the source and a
    single downstream shuffle on (zoom, tile_x, tile_y) in
    ``encode_tiles``.  The per-level alternative scans the source and
    shuffles once PER zoom — z2..z14 would be 13 scans; this is one.

    Per-zoom output is row-identical to ``points_to_features(zoom=z)``
    (pinned by tests/test_vector_layers_spark.py::test_pyramid...)."""
    from ..functions.geo import merc_x_col, merc_y_col

    zs = sorted({int(z) for z in zooms})
    if not zs:
        raise ValueError("zooms must be non-empty")
    pts = points.withColumn("zoom", F.explode(F.array(*[F.lit(z) for z in zs])))
    # 2^zoom as a column expression (shiftleft needs a literal shift; pow is
    # exact in double for any real zoom level)
    n = F.pow(F.lit(2.0), F.col("zoom"))
    mx = merc_x_col(F.col(lon)) * n
    my = merc_y_col(F.col(lat)) * n
    nmax = (n - F.lit(1.0)).cast("long")
    zero = F.lit(0).cast("long")
    tx = F.greatest(zero, F.least(nmax, F.floor(mx).cast("long")))
    ty = F.greatest(zero, F.least(nmax, F.floor(my).cast("long")))
    qx = F.floor((mx - tx) * F.lit(float(extent)) + F.lit(0.5)).cast("int")
    qy = F.floor((my - ty) * F.lit(float(extent)) + F.lit(0.5)).cast("int")
    cols = [
        F.col("zoom"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        F.lit(layer).alias("layer"),
        F.lit(extent).alias("extent"),
        F.lit(1).alias("ftype"),
        F.array(qx, qy).alias("geom_xy"),
    ]
    if id_col:
        cols.append(F.col(id_col).cast("long").alias("id"))
    if props_cols:
        cols.append(F.to_json(F.struct(*[F.col(c) for c in props_cols])).alias("props_json"))
    return pts.select(*cols)


def points3d_to_features(
    points: DataFrame,
    zoom: int,
    layer: str,
    extent: int = 4096,
    lon: str = "lon",
    lat: str = "lat",
    z: str = "z",
    z_scale: float = 1.0,
    id_col: Optional[str] = None,
    props_cols: Optional[Iterable[str]] = None,
) -> DataFrame:
    """3D point rows -> type-4 feature rows (z quantized by ``z_scale`` with
    the same JS half-up rounding as x/y; reference 3D types
    src/vectorTile.spec.ts:29-35)."""
    tx, ty, qx, qy = _project_points(lon, lat, zoom, extent)
    qz = F.floor(F.col(z) * F.lit(z_scale) + F.lit(0.5)).cast("int")
    cols = [
        F.lit(zoom).alias("zoom"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        F.lit(layer).alias("layer"),
        F.lit(extent).alias("extent"),
        F.lit(4).alias("ftype"),
        F.array(qx, qy, qz).alias("geom_xy"),
    ]
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
    :func:`encode_point_tiles`.  Shape is pinned from the Spark schema."""
    tx, ty, qx, qy = _project_points(lon, lat, zoom, extent)
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


def polygons_to_features(
    spark,
    polygons_pdf,
    zoom: int,
    layer: str,
    extent: int = 4096,
    drop_degenerate: bool = True,
) -> DataFrame:
    """Polygon layer (dim-table pandas, FIXTURES.md §2 shape) -> feature rows.

    Each polygon is assigned to every tile its bbox covers (spec buffer
    semantics: coordinates outside [0, extent] are legal, reference does not
    clip — vector-tile-spec README.md:411-413); ring coords are projected to
    tile-local extent ints with JS half-up rounding (P13).  Zero-area rings
    are dropped like classifyRings does (src/mapbox/vectorFeature.ts:357-381)
    unless ``drop_degenerate=False``.

    Runs driver-side (DECLARED dim-table helper — fine below ~10^4 geometries;
    above that, use the scale twin); the corpus-scale path is
    :func:`polygons_to_features_dist`, which
    produces identical rows from a Spark DataFrame with no driver
    materialization.  Returns a Spark DataFrame ready to union with point
    feature rows for multi-layer tiles.
    """
    import json as _json

    from ..functions.geo import cover_bbox_np, merc_x_np, merc_y_np
    from ..codec.mvt import signed_area

    n = float(1 << zoom)
    rows = []
    for _, poly in polygons_pdf.iterrows():
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in poly["ring_xy"]]
        rings = [r for r in rings if not drop_degenerate or signed_area([tuple(p) for p in r]) != 0.0]
        if not rings:
            continue
        outer = rings[0]
        txs, tys = cover_bbox_np(
            outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max(), zoom
        )
        props = _json.dumps(
            {k: poly[k] for k in ("name", "kind", "rank")
             if k in poly.index and _prop_present(poly[k])},
            default=int,
        )
        for tx, ty in zip(txs.tolist(), tys.tolist()):
            geom_xy: list[int] = []
            ring_lens: list[int] = []
            for ring in rings:
                qx = np.floor((merc_x_np(ring[:, 0]) * n - tx) * extent + 0.5).astype(np.int64)
                qy = np.floor((merc_y_np(ring[:, 1]) * n - ty) * extent + 0.5).astype(np.int64)
                ring_lens.append(len(ring))
                geom_xy.extend(int(v) for pair in zip(qx.tolist(), qy.tolist()) for v in pair)
            rows.append(
                {
                    "zoom": zoom,
                    "tile_x": int(tx),
                    "tile_y": int(ty),
                    "layer": layer,
                    "extent": extent,
                    "id": int(poly["poly_id"]),
                    "ftype": 3,
                    "geom_xy": geom_xy,
                    "ring_lens": ring_lens,
                    "poly_lens": [len(ring_lens)],
                    "props_json": props,
                }
            )
    schema = (
        "zoom int, tile_x long, tile_y long, layer string, extent int, id long, "
        "ftype int, geom_xy array<int>, ring_lens array<int>, poly_lens array<int>, "
        "props_json string"
    )
    return spark.createDataFrame(rows, schema)


def lines_to_features(
    spark, lines_pdf, zoom: int, layer: str, extent: int = 4096
) -> DataFrame:
    """Line layer (pandas with line_id, xy flat lon/lat list, optional offset,
    optional mvals (per-vertex dict list), props columns) -> type-2 feature
    rows, tile-assigned by bbox covering.  M-values ride as mvals_json
    (FIXTURES.md §6).  DECLARED driver-side dim-table helper — fine below
    ~10^4 geometries; the corpus-scale twin is
    :func:`lines_to_features_dist`."""
    import json as _json

    from ..functions.geo import cover_bbox_np, merc_x_np, merc_y_np

    n = float(1 << zoom)
    rows = []
    for _, line in lines_pdf.iterrows():
        arr = np.asarray(line["xy"], dtype=np.float64).reshape(-1, 2)
        txs, tys = cover_bbox_np(
            arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max(), zoom
        )
        props = _json.dumps(
            {
                k: line[k]
                for k in line.index
                if k not in ("line_id", "xy", "offset", "mvals")
                and _prop_present(line[k])
            },
            default=int,
        )
        offset = float(line["offset"]) if "offset" in line.index else 0.0
        mvals_json = (
            _json.dumps(list(line["mvals"])) if "mvals" in line.index and line["mvals"] else None
        )
        for tx, ty in zip(txs.tolist(), tys.tolist()):
            qx = np.floor((merc_x_np(arr[:, 0]) * n - tx) * extent + 0.5).astype(np.int64)
            qy = np.floor((merc_y_np(arr[:, 1]) * n - ty) * extent + 0.5).astype(np.int64)
            rows.append(
                {
                    "zoom": zoom,
                    "tile_x": int(tx),
                    "tile_y": int(ty),
                    "layer": layer,
                    "extent": extent,
                    "id": int(line["line_id"]),
                    "ftype": 2,
                    "geom_xy": [int(v) for pair in zip(qx.tolist(), qy.tolist()) for v in pair],
                    "ring_lens": [len(arr)],
                    "offsets": [offset] if offset > 0 else None,
                    "props_json": props,
                    "mvals_json": mvals_json,
                }
            )
    schema = (
        "zoom int, tile_x long, tile_y long, layer string, extent int, id long, "
        "ftype int, geom_xy array<int>, ring_lens array<int>, offsets array<double>, "
        "props_json string, mvals_json string"
    )
    return spark.createDataFrame(rows, schema)


def lines3d_to_features(
    spark, lines_pdf, zoom: int, layer: str, extent: int = 4096, z_scale: float = 1.0
) -> DataFrame:
    """3D line layer (pandas with line_id, xyz flat [lon,lat,z,...] list,
    optional offset/mvals/props columns) -> type-5 feature rows, tile-assigned
    by bbox covering.  x/y quantize like P13; z quantizes by ``z_scale`` with
    the same JS half-up rounding (reference 3D read/write:
    src/open/vectorFeature.ts:376-587).  DECLARED driver-side dim-table
    helper — fine below ~10^4 geometries; scale twin:
    ``lines_to_features_dist(dims=3)``."""
    import json as _json

    from ..functions.geo import cover_bbox_np, merc_x_np, merc_y_np

    n = float(1 << zoom)
    rows = []
    for _, line in lines_pdf.iterrows():
        arr = np.asarray(line["xyz"], dtype=np.float64).reshape(-1, 3)
        txs, tys = cover_bbox_np(
            arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max(), zoom
        )
        props = _json.dumps(
            {k: line[k] for k in line.index
             if k not in ("line_id", "xyz", "offset", "mvals") and _prop_present(line[k])},
            default=int,
        )
        offset = float(line["offset"]) if "offset" in line.index else 0.0
        mvals_json = (
            _json.dumps(list(line["mvals"])) if "mvals" in line.index and line["mvals"] else None
        )
        qz = np.floor(arr[:, 2] * z_scale + 0.5).astype(np.int64)
        for tx, ty in zip(txs.tolist(), tys.tolist()):
            qx = np.floor((merc_x_np(arr[:, 0]) * n - tx) * extent + 0.5).astype(np.int64)
            qy = np.floor((merc_y_np(arr[:, 1]) * n - ty) * extent + 0.5).astype(np.int64)
            rows.append(
                {
                    "zoom": zoom,
                    "tile_x": int(tx),
                    "tile_y": int(ty),
                    "layer": layer,
                    "extent": extent,
                    "id": int(line["line_id"]),
                    "ftype": 5,
                    "geom_xy": [
                        int(v)
                        for trip in zip(qx.tolist(), qy.tolist(), qz.tolist())
                        for v in trip
                    ],
                    "ring_lens": [len(arr)],
                    "offsets": [offset] if offset > 0 else None,
                    "props_json": props,
                    "mvals_json": mvals_json,
                }
            )
    schema = (
        "zoom int, tile_x long, tile_y long, layer string, extent int, id long, "
        "ftype int, geom_xy array<int>, ring_lens array<int>, offsets array<double>, "
        "props_json string, mvals_json string"
    )
    return spark.createDataFrame(rows, schema)


def polygons3d_to_features(
    spark, polygons_pdf, zoom: int, layer: str, extent: int = 4096, z_scale: float = 1.0
) -> DataFrame:
    """3D polygon layer (pandas with poly_id, ring_xyz = list of flat
    [lon,lat,z,...] rings, optional mvals (flat per-vertex dict list across
    rings), props columns) -> type-6 feature rows.  Mirrors
    polygons_to_features for the 3D wire type; M-values ride as mvals_json
    (the encoder distributes them per ring via ring_lens).  DECLARED
    driver-side dim-table helper — fine below ~10^4 geometries; scale twin:
    ``polygons_to_features_dist(dims=3)``."""
    import json as _json

    from ..functions.geo import cover_bbox_np, merc_x_np, merc_y_np

    n = float(1 << zoom)
    rows = []
    for _, poly in polygons_pdf.iterrows():
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 3) for r in poly["ring_xyz"]]
        if not rings:
            continue
        outer = rings[0]
        txs, tys = cover_bbox_np(
            outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max(), zoom
        )
        props = _json.dumps(
            {
                k: poly[k]
                for k in poly.index
                if k not in ("poly_id", "ring_xyz", "mvals")
                and _prop_present(poly[k])
            },
            default=int,
        )
        mvals_json = (
            _json.dumps(list(poly["mvals"])) if "mvals" in poly.index and poly["mvals"] else None
        )
        for tx, ty in zip(txs.tolist(), tys.tolist()):
            geom_xy: list[int] = []
            ring_lens: list[int] = []
            for ring in rings:
                qx = np.floor((merc_x_np(ring[:, 0]) * n - tx) * extent + 0.5).astype(np.int64)
                qy = np.floor((merc_y_np(ring[:, 1]) * n - ty) * extent + 0.5).astype(np.int64)
                qz = np.floor(ring[:, 2] * z_scale + 0.5).astype(np.int64)
                ring_lens.append(len(ring))
                geom_xy.extend(
                    int(v)
                    for trip in zip(qx.tolist(), qy.tolist(), qz.tolist())
                    for v in trip
                )
            rows.append(
                {
                    "zoom": zoom,
                    "tile_x": int(tx),
                    "tile_y": int(ty),
                    "layer": layer,
                    "extent": extent,
                    "id": int(poly["poly_id"]),
                    "ftype": 6,
                    "geom_xy": geom_xy,
                    "ring_lens": ring_lens,
                    "poly_lens": [len(ring_lens)],
                    "props_json": props,
                    "mvals_json": mvals_json,
                }
            )
    schema = (
        "zoom int, tile_x long, tile_y long, layer string, extent int, id long, "
        "ftype int, geom_xy array<int>, ring_lens array<int>, poly_lens array<int>, "
        "props_json string, mvals_json string"
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Executor-side line/polygon featurizers (the 100 TB ingest path)
# ---------------------------------------------------------------------------
# The *_to_features helpers above take a driver-side pandas frame — fine for
# dim-sized layers, a bottleneck for corpus-scale ones (the reference's own
# OMT corpus is 429 tiles of mostly line/poly layers, benchmarks/
# ovtVScovt.ts:38-44).  These *_dist twins take a Spark DataFrame of geometry
# arrays and featurize INSIDE mapInPandas, mirroring polygon_covering_df
# (spatial_join.py:137): per Arrow batch, the mercator trig runs ONCE over
# the concatenated vertex array (vectorized), per-geometry work is only the
# bbox-cover tile expansion.  No createDataFrame(rows), no driver
# materialization anywhere — the layer can be arbitrarily large and the
# output unions straight into encode_tiles' single (zoom,tile_x,tile_y)
# shuffle.  Output rows are exactly the driver twins' rows (pinned by
# tests/test_vector_layers_spark.py equality tests).

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


def _emit_quantized(
    out: dict,
    mx: np.ndarray,
    my: np.ndarray,
    qz: Optional[np.ndarray],
    dims: int,
    extent: int,
    tile_range: tuple,
    base_row: dict,
) -> None:
    """Quantize ONE geometry's mercator*2^zoom vertices into every covered
    tile and append a feature row per tile — the inner emit shared by
    lines_to_features_dist and polygons_to_features_dist (quantization is
    P13 JS half-up in both; a fix here fixes both geometry types at once).

    ``base_row`` carries the per-feature payload columns (id, ring_lens,
    poly_lens/offsets, props_json, mvals_json) appended verbatim per tile.
    Per-tx quantized x arrays are computed once and reused across the ty
    row sweep."""
    nv = len(mx)
    tx0, tx1, ty0, ty1 = tile_range
    qxs = {
        tx: np.floor((mx - tx) * extent + 0.5).astype(np.int64)
        for tx in range(tx0, tx1 + 1)
    }
    for ty in range(ty0, ty1 + 1):
        qy = np.floor((my - ty) * extent + 0.5).astype(np.int64)
        for tx in range(tx0, tx1 + 1):
            qx = qxs[tx]
            if dims == 2:
                g = np.empty(2 * nv, dtype=np.int64)
                g[0::2], g[1::2] = qx, qy
            else:
                g = np.empty(3 * nv, dtype=np.int64)
                g[0::3], g[1::3], g[2::3] = qx, qy, qz
            out["tile_x"].append(tx)
            out["tile_y"].append(ty)
            out["geom_xy"].append(g.tolist())
            for k, v in base_row.items():
                out[k].append(v)


def _prop_present(v) -> bool:
    """Driver-twin null filter matching the distributed path's to_json
    semantics: to_json OMITS null struct fields (and json.dumps would emit
    spec-invalid NaN), so absent == null on the wire in BOTH ingest paths."""
    if v is None:
        return False
    if isinstance(v, float) and v != v:  # NaN
        return False
    return True


def _props_json_col(df: DataFrame, props_cols, exclude: tuple) -> "F.Column":
    """JVM-side props serialization (to_json keeps struct-field order, so the
    parsed dict matches the driver twins' key order and the codec's shape
    inference sees identical layouts)."""
    cols = list(props_cols) if props_cols is not None else [
        c for c in df.columns if c not in exclude
    ]
    if not cols:
        return F.lit("{}")
    # to_json omits null fields, like the driver path omits absent keys
    return F.to_json(F.struct(*[F.col(c) for c in cols]))


def _tile_range(mxn: np.ndarray, myn: np.ndarray, zoom: int) -> tuple:
    """Covered tile index range from per-vertex mercator*2^zoom coords —
    identical to cover_bbox_np over the lon/lat bbox (mercator is monotone,
    so min/max commute with the projection bit-exactly)."""
    nmax = (1 << zoom) - 1
    tx0 = int(np.clip(np.floor(mxn.min()), 0, nmax))
    tx1 = int(np.clip(np.floor(mxn.max()), 0, nmax))
    ty0 = int(np.clip(np.floor(myn.min()), 0, nmax))
    ty1 = int(np.clip(np.floor(myn.max()), 0, nmax))
    return tx0, tx1, ty0, ty1


def lines_to_features_dist(
    lines: DataFrame,
    zoom: int,
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
    """Distributed twin of :func:`lines_to_features` (dims=2 → type 2) /
    :func:`lines3d_to_features` (dims=3 → type 5).

    ``simplify_px``: Douglas–Peucker tolerance in extent pixels
    (:func:`~open_vector_tile_spark.operators.simplify.simplify_dp_np`),
    applied AFTER clipping, before quantization — the per-zoom vertex
    thinning a pyramid producer runs so low-zoom tiles stay
    O(visible pixels) instead of O(source vertices).

    ``lines``: Spark DataFrame with ``id_col long``, ``xy_col array<double>``
    (flat interleaved lon,lat[,z]), optional ``offset_col double``, optional
    ``mvals_json_col string`` (pre-serialized per-vertex M-values), plus any
    property columns.  Each line lands in every tile its bbox covers; vertex
    quantization is P13 JS half-up, z by ``z_scale``.

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
    ``mvals_json_col`` with ``clip_buffer`` raises."""
    return _lines_dist_impl(
        lines, [zoom], layer, extent, id_col, xy_col, offset_col,
        mvals_json_col, props_cols, dims, z_scale, clip_buffer, simplify_px,
    )


def lines_to_features_pyramid_dist(
    lines: DataFrame,
    zooms: Iterable[int],
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
    """Whole zoom pyramid of :func:`lines_to_features_dist` in ONE source
    scan: the Arrow kernel loops the zoom levels over each batch's already-
    parsed geometry (mercator projection computed once, scaled per zoom),
    so N levels cost one scan + one downstream shuffle instead of N of
    each — the same single-pass shape as ``points_to_features_pyramid``.
    ``clip_buffer``/``simplify_px`` apply per (zoom, tile): the clip window
    and the Douglas–Peucker tolerance both scale with the zoom's tile
    size, which is exactly the per-zoom thinning a pyramid needs.  Row-for-
    row identical to unioning per-zoom ``lines_to_features_dist`` calls
    (test-pinned)."""
    return _lines_dist_impl(
        lines, list(zooms), layer, extent, id_col, xy_col, offset_col,
        mvals_json_col, props_cols, dims, z_scale, clip_buffer, simplify_px,
    )


def _lines_dist_impl(
    lines: DataFrame,
    zooms: list,
    layer: str,
    extent: int,
    id_col: str,
    xy_col: str,
    offset_col: str,
    mvals_json_col: Optional[str],
    props_cols: Optional[Iterable[str]],
    dims: int,
    z_scale: float,
    clip_buffer: Optional[int],
    simplify_px: Optional[float],
) -> DataFrame:
    if dims not in (2, 3):
        raise ValueError(f"dims must be 2|3, got {dims}")
    if clip_buffer is not None and mvals_json_col:
        raise ValueError("per-vertex M-values cannot be clipped; drop mvals_json_col")
    ftype = 2 if dims == 2 else 5
    zooms = [int(z) for z in zooms]
    has_off = offset_col in lines.columns
    pj = _props_json_col(
        lines, props_cols, (id_col, xy_col, offset_col, mvals_json_col or "")
    )
    src = lines.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(xy_col).alias("_xy"),
        (F.col(offset_col).cast("double") if has_off else F.lit(0.0)).alias("_off"),
        (F.col(mvals_json_col) if mvals_json_col else F.lit(None).cast("string")).alias("_mv"),
        pj.alias("_pj"),
    )
    # fan a narrow scan out BEFORE the kernel: the per-line work below is a
    # python-level clip loop over every covered tile (~ms/row for a
    # world-spanning line at z3, 1000x the shingle kernels' per-row cost),
    # so the width heuristic gets a 16 KB/task chunk — a single-file scan
    # otherwise runs the whole clip serially (measured 12.7 s -> one wave
    # at sf0.1 clip_pyramid); already-wide inputs are untouched
    src = fan_out(src, chunk=16 * 1024)

    def run(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = [
                np.asarray(v, dtype=np.float64).reshape(-1, dims) for v in pdf["_xy"]
            ]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            flat = np.concatenate(arrs) if arrs else np.zeros((0, dims))
            from ..functions.geo import merc_x_np, merc_y_np

            # project ONCE; per-zoom coordinates are a scalar multiple
            mx1 = merc_x_np(flat[:, 0])
            my1 = merc_y_np(flat[:, 1])
            qzf = (
                np.floor(flat[:, 2] * z_scale + 0.5).astype(np.int64)
                if dims == 3
                else None
            )
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out: dict = {k: [] for k in (
                "zoom", "tile_x", "tile_y", "id", "geom_xy", "ring_lens",
                "offsets", "props_json", "mvals_json",
            )}
            ids = pdf["_id"].to_numpy()
            offs = pdf["_off"].to_numpy()
            mvs = pdf["_mv"].tolist()
            pjs = pdf["_pj"].tolist()
            bu = None if clip_buffer is None else clip_buffer / float(extent)
            tol = None if simplify_px is None else simplify_px / float(extent)
            for zoom in zooms:
                n = float(1 << zoom)
                mxn = mx1 * n
                myn = my1 * n
                for i in range(len(arrs)):
                    s, ln = int(starts[i]), int(lens[i])
                    if ln == 0:
                        continue
                    mx, my = mxn[s : s + ln], myn[s : s + ln]
                    off = float(offs[i])
                    if bu is None and tol is None:
                        before = len(out["id"])
                        _emit_quantized(
                            out, mx, my,
                            qzf[s : s + ln] if dims == 3 else None,
                            dims, extent, _tile_range(mx, my, zoom),
                            {
                                "id": int(ids[i]),
                                "ring_lens": [ln],
                                "offsets": [off] if off > 0 else None,
                                "props_json": pjs[i],
                                "mvals_json": mvs[i],
                            },
                        )
                        out["zoom"].extend([zoom] * (len(out["id"]) - before))
                        continue
                    from .clip import clip_polyline_np
                    from .simplify import simplify_dp_np

                    cols = [mx, my] if dims == 2 else [mx, my, flat[s : s + ln, 2]]
                    geom = np.column_stack(cols)
                    if bu is None and tol is not None:
                        # no clip: simplify once, shared by every covered tile
                        geom = simplify_dp_np(geom, tol)
                        if len(geom) < 2:
                            continue
                    tx0, tx1, ty0, ty1 = _tile_range(mx, my, zoom)
                    for ty in range(ty0, ty1 + 1):
                        for tx in range(tx0, tx1 + 1):
                            if bu is not None:
                                parts, poffs = clip_polyline_np(
                                    geom, tx - bu, ty - bu, tx + 1 + bu, ty + 1 + bu,
                                    return_offsets=True,
                                )
                                if tol is not None:
                                    parts = [simplify_dp_np(p, tol) for p in parts]
                            else:
                                parts, poffs = [geom], [0.0]
                            parts_offs = [
                                (p, o) for p, o in zip(parts, poffs) if len(p) >= 2
                            ]
                            if not parts_offs:
                                continue
                            parts = [p for p, _ in parts_offs]
                            poffs = [o for _, o in parts_offs]
                            cat = np.concatenate(parts)
                            qx = np.floor((cat[:, 0] - tx) * extent + 0.5).astype(np.int64)
                            qy = np.floor((cat[:, 1] - ty) * extent + 0.5).astype(np.int64)
                            nv = len(cat)
                            if dims == 2:
                                g = np.empty(2 * nv, dtype=np.int64)
                                g[0::2], g[1::2] = qx, qy
                            else:
                                g = np.empty(3 * nv, dtype=np.int64)
                                g[0::3], g[1::3] = qx, qy
                                g[2::3] = np.floor(cat[:, 2] * z_scale + 0.5).astype(np.int64)
                            part_offs = [off + po * extent for po in poffs]
                            out["zoom"].append(zoom)
                            out["tile_x"].append(tx)
                            out["tile_y"].append(ty)
                            out["geom_xy"].append(g.tolist())
                            out["id"].append(int(ids[i]))
                            out["ring_lens"].append([len(p) for p in parts])
                            out["offsets"].append(
                                part_offs if any(o > 0 for o in part_offs) else None
                            )
                            out["props_json"].append(pjs[i])
                            out["mvals_json"].append(mvs[i])
            if out["id"]:
                m = len(out["id"])
                yield pd.DataFrame(
                    {
                        **out,
                        "layer": [layer] * m,
                        "extent": [extent] * m,
                        "ftype": [ftype] * m,
                    }
                )

    return src.mapInPandas(run, _LINES_SCHEMA)


def polygons_to_features_dist(
    polygons: DataFrame,
    zoom: int,
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
    """Distributed twin of :func:`polygons_to_features` (dims=2 → type 3) /
    :func:`polygons3d_to_features` (dims=3 → type 6).

    ``simplify_px``: Douglas–Peucker ring tolerance in extent pixels
    (:func:`~open_vector_tile_spark.operators.simplify.simplify_ring_np`),
    applied BEFORE the per-tile clip (rings shrink once, then clip per
    tile); a ring collapsing below 3 vertices is dropped, and a collapsed
    OUTER ring deletes its polygon.

    ``polygons``: Spark DataFrame with ``id_col long``, ``rings_col
    array<array<double>>`` (each ring a flat interleaved vertex list), plus
    property columns.  Tile cover comes from the OUTER ring's bbox;
    zero-area rings are dropped like classifyRings
    (src/mapbox/vectorFeature.ts:357-381) when ``drop_degenerate`` (2D only,
    matching the driver twin).

    ``clip_buffer`` (extent pixels): when set, each tile's copy of every
    ring is clipped to the tile + buffer with vectorized Sutherland–Hodgman
    (:func:`~open_vector_tile_spark.operators.clip.clip_rings_np`).  A
    polygon whose outer ring clips away vanishes from that tile; holes clip
    independently (exact against a convex window).  Without it the whole
    polygon lands in every covered tile — correct per spec buffer
    semantics but O(tiles × vertices) bytes for continent-sized rings.
    Combining ``mvals_json_col`` with ``clip_buffer`` raises (per-vertex
    M-values don't survive a vertex-changing clip)."""
    return _polygons_dist_impl(
        polygons, [zoom], layer, extent, drop_degenerate, id_col, rings_col,
        mvals_json_col, props_cols, dims, z_scale, clip_buffer, simplify_px,
    )


def polygons_to_features_pyramid_dist(
    polygons: DataFrame,
    zooms: Iterable[int],
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
    """Whole zoom pyramid of :func:`polygons_to_features_dist` in ONE
    source scan (projection computed once, scaled per zoom inside the
    Arrow kernel) — the polygon counterpart of
    :func:`lines_to_features_pyramid_dist`.  Per-zoom ``clip_buffer`` /
    ``simplify_px`` give each level its own thinning; row-for-row equal to
    unioning per-zoom calls (test-pinned)."""
    return _polygons_dist_impl(
        polygons, list(zooms), layer, extent, drop_degenerate, id_col,
        rings_col, mvals_json_col, props_cols, dims, z_scale, clip_buffer,
        simplify_px,
    )


def _polygons_dist_impl(
    polygons: DataFrame,
    zooms: list,
    layer: str,
    extent: int,
    drop_degenerate: bool,
    id_col: str,
    rings_col: str,
    mvals_json_col: Optional[str],
    props_cols: Optional[Iterable[str]],
    dims: int,
    z_scale: float,
    clip_buffer: Optional[int],
    simplify_px: Optional[float],
) -> DataFrame:
    if dims not in (2, 3):
        raise ValueError(f"dims must be 2|3, got {dims}")
    if clip_buffer is not None and mvals_json_col:
        raise ValueError("per-vertex M-values cannot be clipped; drop mvals_json_col")
    ftype = 3 if dims == 2 else 6
    zooms = [int(z) for z in zooms]
    pj = _props_json_col(polygons, props_cols, (id_col, rings_col, mvals_json_col or ""))
    src = polygons.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(rings_col).alias("_rings"),
        (F.col(mvals_json_col) if mvals_json_col else F.lit(None).cast("string")).alias("_mv"),
        pj.alias("_pj"),
    )
    # same narrow-scan fan-out as _lines_dist_impl: per-ring python
    # area/clip work is ~ms/row, so a single-file scan must not run the
    # kernel serially; no-op for already-wide inputs
    src = fan_out(src, chunk=16 * 1024)

    def run(batches: Iterable[pd.DataFrame]):
        from ..codec.mvt import signed_area
        from ..functions.geo import merc_x_np, merc_y_np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # flatten (poly, ring) raggedness once per batch
            ring_arrs: list[np.ndarray] = []
            ring_poly: list[int] = []
            for i, rings_flat in enumerate(pdf["_rings"]):
                for r in rings_flat:
                    arr = np.asarray(r, dtype=np.float64).reshape(-1, dims)
                    if (
                        dims == 2
                        and drop_degenerate
                        and signed_area([tuple(p) for p in arr]) == 0.0
                    ):
                        continue
                    ring_arrs.append(arr)
                    ring_poly.append(i)
            if not ring_arrs:
                continue
            lens = np.array([len(a) for a in ring_arrs], dtype=np.int64)
            flat = np.concatenate(ring_arrs)
            # project ONCE; per-zoom coordinates are a scalar multiple
            mx1 = merc_x_np(flat[:, 0])
            my1 = merc_y_np(flat[:, 1])
            qzf = (
                np.floor(flat[:, 2] * z_scale + 0.5).astype(np.int64)
                if dims == 3
                else None
            )
            starts = np.zeros(len(ring_arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out: dict = {k: [] for k in (
                "zoom", "tile_x", "tile_y", "id", "geom_xy", "ring_lens",
                "poly_lens", "props_json", "mvals_json",
            )}
            ids = pdf["_id"].to_numpy()
            mvs = pdf["_mv"].tolist()
            pjs = pdf["_pj"].tolist()
            for zoom in zooms:
                n = float(1 << zoom)
                mxn = mx1 * n
                myn = my1 * n
                r = 0
                while r < len(ring_arrs):
                    i = ring_poly[r]
                    r_end = r
                    while r_end < len(ring_arrs) and ring_poly[r_end] == i:
                        r_end += 1
                    # outer ring (first surviving ring) drives the tile cover
                    s0, l0 = int(starts[r]), int(lens[r])
                    tx0, tx1, ty0, ty1 = _tile_range(
                        mxn[s0 : s0 + l0], myn[s0 : s0 + l0], zoom
                    )
                    s_all, e_all = int(starts[r]), int(starts[r_end - 1] + lens[r_end - 1])
                    mx, my = mxn[s_all:e_all], myn[s_all:e_all]
                    rlens = [int(lens[j]) for j in range(r, r_end)]
                    if clip_buffer is None and simplify_px is None:
                        before = len(out["id"])
                        _emit_quantized(
                            out, mx, my,
                            qzf[s_all:e_all] if dims == 3 else None,
                            dims, extent, (tx0, tx1, ty0, ty1),
                            {
                                "id": int(ids[i]),
                                "ring_lens": rlens,
                                "poly_lens": [len(rlens)],
                                "props_json": pjs[i],
                                "mvals_json": mvs[i],
                            },
                        )
                        out["zoom"].extend([zoom] * (len(out["id"]) - before))
                        r = r_end
                        continue
                    from .clip import clip_rings_np
                    from .simplify import simplify_ring_np

                    rings = []
                    for j in range(r, r_end):
                        sj, lj = int(starts[j]), int(lens[j])
                        cols = [mxn[sj : sj + lj], myn[sj : sj + lj]]
                        if dims == 3:
                            cols.append(flat[sj : sj + lj, 2])
                        rings.append(np.column_stack(cols))
                    if simplify_px is not None:
                        tol = simplify_px / float(extent)
                        outer0 = simplify_ring_np(rings[0], tol)
                        if len(outer0) < 3:
                            r = r_end
                            continue
                        rings = [outer0] + [
                            c for c in (simplify_ring_np(h, tol) for h in rings[1:])
                            if len(c) >= 3
                        ]
                    bu = None if clip_buffer is None else clip_buffer / float(extent)
                    for ty in range(ty0, ty1 + 1):
                        for tx in range(tx0, tx1 + 1):
                            if bu is not None:
                                clipped = clip_rings_np(
                                    rings, tx - bu, ty - bu, tx + 1 + bu, ty + 1 + bu
                                )
                            else:
                                clipped = rings
                            if dims == 2 and drop_degenerate and clipped:
                                if signed_area([tuple(p[:2]) for p in clipped[0]]) == 0.0:
                                    continue  # degenerate outer: polygon gone here
                                clipped = [clipped[0]] + [
                                    c for c in clipped[1:]
                                    if signed_area([tuple(p[:2]) for p in c]) != 0.0
                                ]
                            if not clipped:
                                continue
                            cat = np.concatenate(clipped)
                            qx = np.floor((cat[:, 0] - tx) * extent + 0.5).astype(np.int64)
                            qy = np.floor((cat[:, 1] - ty) * extent + 0.5).astype(np.int64)
                            nv = len(cat)
                            if dims == 2:
                                g = np.empty(2 * nv, dtype=np.int64)
                                g[0::2], g[1::2] = qx, qy
                            else:
                                g = np.empty(3 * nv, dtype=np.int64)
                                g[0::3], g[1::3] = qx, qy
                                g[2::3] = np.floor(cat[:, 2] * z_scale + 0.5).astype(np.int64)
                            out["zoom"].append(zoom)
                            out["tile_x"].append(tx)
                            out["tile_y"].append(ty)
                            out["geom_xy"].append(g.tolist())
                            out["id"].append(int(ids[i]))
                            out["ring_lens"].append([len(c) for c in clipped])
                            out["poly_lens"].append([len(clipped)])
                            out["props_json"].append(pjs[i])
                            out["mvals_json"].append(mvs[i])
                    r = r_end
            if out["id"]:
                m = len(out["id"])
                yield pd.DataFrame(
                    {
                        **out,
                        "layer": [layer] * m,
                        "extent": [extent] * m,
                        "ftype": [ftype] * m,
                    }
                )

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
