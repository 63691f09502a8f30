"""OVT feature write/read.

Write side re-expresses src/open/vectorFeature.ts:697-742 (writeOVFeature) and
the geometry->cache programs of src/base/vectorFeature.ts:88-342.
Read side re-expresses src/open/vectorFeature.ts:626-688 (readFeature) plus
the loadGeometry walkers (:182-329, :392-577).

Geometry model (normalized, Arrow-friendly — SURVEY.md §1.4):
- points feature (type 1/4): geometry = [point, ...] where point = (x, y[, z])
- lines feature (type 2/5):  geometry = [line, ...], line = {"points": [...],
  "offset": float}
- polys feature (type 3/6):  geometry = [poly, ...], poly = [line, ...]
M-values ride on the feature as ``mvalues``: parallel nested lists of dicts
(per vertex), or None.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield
from typing import Any, Optional

from . import kernels as K
from .column_cache import ColumnCacheReader, ColumnCacheWriter, OColumn
from .pbf import PbfReader, PbfWriter
from .shape import decode_value, encode_value


@dataclass
class BaseLine:
    """A line/ring with its dash offset (src/base/vectorFeature.ts:140-149)."""

    points: list  # [(x, y[, z]), ...]
    offset: float = 0.0
    mvalues: Optional[list] = None  # per-vertex dicts, parallel to points


@dataclass
class BaseFeature:
    """Write-side IR for one feature (src/base/vectorFeature.ts:25-374).

    geometry by type:
      1/4 -> list of points;  2/5 -> list of BaseLine;  3/6 -> list of list of BaseLine
    """

    ftype: int
    geometry: list
    properties: dict = dfield(default_factory=dict)
    id: Optional[int] = None
    bbox: Optional[list] = None
    indices: list = dfield(default_factory=list)
    tessellation: list = dfield(default_factory=list)  # [(x, y), ...]
    mvalues: Optional[list] = None  # for point features: per-vertex dicts

    @property
    def has_bbox(self) -> bool:
        return self.bbox is not None and any(v != 0 for v in self.bbox)

    @property
    def has_offsets(self) -> bool:
        if self.ftype in (2, 5):
            return any(ln.offset > 0 for ln in self.geometry)
        if self.ftype in (3, 6):
            return any(ln.offset > 0 for poly in self.geometry for ln in poly)
        return False

    @property
    def has_mvalues(self) -> bool:
        if self.ftype in (1, 4):
            return self.mvalues is not None and any(m is not None for m in self.mvalues)
        if self.ftype in (2, 5):
            return any(
                ln.mvalues is not None and any(m is not None for m in ln.mvalues)
                for ln in self.geometry
            )
        if self.ftype in (3, 6):
            return any(
                ln.mvalues is not None and any(m is not None for m in ln.mvalues)
                for poly in self.geometry
                for ln in poly
            )
        return False

    def get_mvalues(self) -> Optional[list]:
        """Flattened per-vertex M-value dicts (write-shape inference input)."""
        if not self.has_mvalues:
            return None
        if self.ftype in (1, 4):
            return [m or {} for m in (self.mvalues or [])]
        if self.ftype in (2, 5):
            return [m or {} for ln in self.geometry for m in (ln.mvalues or [{}] * len(ln.points))]
        return [
            m or {}
            for poly in self.geometry
            for ln in poly
            for m in (ln.mvalues or [{}] * len(ln.points))
        ]

    # -- geometry -> cache (src/base/vectorFeature.ts:88-342) -------------
    def add_geometry_to_cache(self, cache: ColumnCacheWriter, mshape: dict) -> int:
        t = self.ftype
        if t in (1, 4):
            return self._add_points(cache, mshape)
        if t in (2, 5):
            return self._add_lines(cache, mshape)
        return self._add_polys(cache, mshape)

    def _add_points(self, cache: ColumnCacheWriter, mshape: dict) -> int:
        geometry = self.geometry
        col = OColumn.points3D if self.ftype == 4 else OColumn.points
        if len(geometry) == 1:
            # single-point inline fast path (src/base/vectorFeature.ts:93-101)
            p = geometry[0]
            if self.ftype == 4:
                return K.weave3d_scalar(
                    K.zigzag_scalar(p[0]), K.zigzag_scalar(p[1]), K.zigzag_scalar(p[2])
                )
            return K.weave2d_scalar(K.zigzag_scalar(p[0]), K.zigzag_scalar(p[1]))
        indices = [cache.add_column_data(col, [tuple(p) for p in geometry])]
        if self.has_mvalues:
            for m in self.mvalues or []:
                indices.append(encode_value(m or {}, mshape, cache))
        return cache.add_column_data(OColumn.indices, indices)

    def _add_lines(self, cache: ColumnCacheWriter, mshape: dict) -> int:
        has_offsets = self.has_offsets
        has_m = self.has_mvalues
        col = OColumn.points3D if self.ftype == 5 else OColumn.points
        indices: list = []
        if len(self.geometry) != 1:
            indices.append(len(self.geometry))
        for line in self.geometry:
            if has_offsets:
                indices.append(int(K.encode_offset(line.offset)))
            indices.append(cache.add_column_data(col, [tuple(p) for p in line.points]))
            if has_m:
                mv = line.mvalues or [{}] * len(line.points)
                for m in mv:
                    indices.append(encode_value(m or {}, mshape, cache))
        return cache.add_column_data(OColumn.indices, indices)

    def _add_polys(self, cache: ColumnCacheWriter, mshape: dict) -> int:
        has_offsets = self.has_offsets
        has_m = self.has_mvalues
        col = OColumn.points3D if self.ftype == 6 else OColumn.points
        indices: list = []
        if len(self.geometry) > 1:
            indices.append(len(self.geometry))
        for poly in self.geometry:
            indices.append(len(poly))
            for line in poly:
                if has_offsets:
                    indices.append(int(K.encode_offset(line.offset)))
                indices.append(cache.add_column_data(col, [tuple(p) for p in line.points]))
                if has_m:
                    mv = line.mvalues or [{}] * len(line.points)
                    for m in mv:
                        indices.append(encode_value(m or {}, mshape, cache))
        return cache.add_column_data(OColumn.indices, indices)


def write_ov_feature(
    feature: BaseFeature, shape: dict, mshape: dict, cache: ColumnCacheWriter
) -> bytes:
    """Feature -> byte blob (src/open/vectorFeature.ts:697-742).

    Flag-word bit layout (:715-722): 1=id, 2=bbox, 4=offsets, 8=indices,
    16=tessellation, 32=mvalues, 64=single.
    """
    pbf = PbfWriter()
    pbf.write_varint(feature.ftype)
    has_id = feature.id is not None
    is_poly = feature.ftype in (3, 6)
    has_indices = is_poly and len(feature.indices) != 0
    has_tess = is_poly and len(feature.tessellation) != 0
    has_offsets = feature.has_offsets
    has_bbox = feature.has_bbox
    has_m = feature.has_mvalues
    single = len(feature.geometry) == 1
    flags = (
        (1 if has_id else 0)
        | ((1 << 1) if has_bbox else 0)
        | ((1 << 2) if has_offsets else 0)
        | ((1 << 3) if has_indices else 0)
        | ((1 << 4) if has_tess else 0)
        | ((1 << 5) if has_m else 0)
        | ((1 << 6) if single else 0)
    )
    pbf.write_varint(flags)
    if has_id:
        pbf.write_varint(feature.id or 0)
    pbf.write_varint(encode_value(feature.properties, shape, cache))
    pbf.write_varint(feature.add_geometry_to_cache(cache, mshape))
    if has_indices:
        pbf.write_varint(cache.add_column_data(OColumn.indices, feature.indices))
    if has_tess:
        # reference stores tessellation in the 2D points column (:737)
        pbf.write_varint(cache.add_column_data(OColumn.points, [tuple(p) for p in feature.tessellation]))
    if has_bbox:
        pbf.write_varint(cache.add_column_data(OColumn.bbox, list(feature.bbox)))
    return pbf.commit()


# ---------------------------------------------------------------------------
# read side
# ---------------------------------------------------------------------------


@dataclass
class OVFeature:
    """Decoded feature with eager geometry (read path of
    src/open/vectorFeature.ts:172-577)."""

    ftype: int
    id: Optional[int]
    properties: dict
    extent: int
    geometry: Any  # same model as BaseFeature.geometry
    bbox: Optional[list] = None
    indices: list = dfield(default_factory=list)
    tessellation: list = dfield(default_factory=list)
    mvalues: Optional[list] = None

    def load_points(self) -> list:
        """Flatten any geometry to a vertex list (:311-313,384-386)."""
        if self.ftype in (1, 4):
            return list(self.geometry)
        if self.ftype in (2, 5):
            return [p for ln in self.geometry for p in ln.points]
        return [p for poly in self.geometry for ln in poly for p in ln.points]

    def load_geometry(self):
        if self.ftype in (1, 4):
            return self.geometry
        if self.ftype in (2, 5):
            return [ln.points for ln in self.geometry]
        return [[ln.points for ln in poly] for poly in self.geometry]

    def load_geometry_flat(self) -> tuple[list, list]:
        """Polys -> [0,1]-normalized flat vertices + earcut indices
        (:335-351)."""
        mult = 1.0 / self.extent
        flat: list = []
        dims = 3 if self.ftype == 6 else 2
        for poly in self.geometry:
            for ln in poly:
                for p in ln.points:
                    flat.extend(c * mult for c in p[:dims])
        for p in self.tessellation:
            flat.extend(c * mult for c in p[:dims])
        return flat, list(self.indices)


def read_feature(
    data: bytes, extent: int, cache: ColumnCacheReader, shape: dict, mshape: Optional[dict]
) -> OVFeature:
    """(src/open/vectorFeature.ts:626-688)."""
    pbf = PbfReader(data)
    ftype = pbf.read_varint()
    flags = pbf.read_varint()
    fid = pbf.read_varint() if flags & 1 else None
    has_bbox = bool(flags & (1 << 1))
    has_offsets = bool(flags & (1 << 2))
    has_indices = bool(flags & (1 << 3))
    has_tess = bool(flags & (1 << 4))
    has_m = bool(flags & (1 << 5))
    single = bool(flags & (1 << 6))
    value_index = pbf.read_varint()
    properties = decode_value(value_index, shape, cache)
    mshape = mshape or {}

    geometry: Any
    indices_list: list = []
    tess: list = []
    if ftype in (1, 4):
        if single:
            word = pbf.read_varint()
            zagzig = K.zagzig_scalar
            if ftype == 1:
                a, b = K.unweave2d_scalar(word)
                geometry = [(zagzig(a), zagzig(b))]
            else:
                a, b, c = K.unweave3d_scalar(word)
                geometry = [(zagzig(a), zagzig(b), zagzig(c))]
            mvals = None
        else:
            prog = cache.get_column(OColumn.indices, pbf.read_varint())
            col = OColumn.points3D if ftype == 4 else OColumn.points
            geometry = list(cache.get_column(col, int(prog[0])))
            mvals = None
            if has_m:
                mvals = [
                    decode_value(int(prog[1 + j]), mshape, cache) for j in range(len(geometry))
                ]
        feature = OVFeature(ftype, fid, properties, extent, geometry, mvalues=mvals)
    else:
        prog = list(cache.get_column(OColumn.indices, pbf.read_varint()))
        col = OColumn.points3D if ftype in (5, 6) else OColumn.points
        pos = 0

        def read_line() -> BaseLine:
            nonlocal pos
            offset = 0.0
            if has_offsets:
                offset = float(K.decode_offset(int(prog[pos])))
                pos += 1
            pts = list(cache.get_column(col, int(prog[pos])))
            pos += 1
            mv = None
            if has_m:
                mv = [decode_value(int(prog[pos + j]), mshape, cache) for j in range(len(pts))]
                pos += len(pts)
            return BaseLine(points=pts, offset=offset, mvalues=mv)

        if ftype in (2, 5):
            line_count = 1 if single else int(prog[pos])
            if not single:
                pos += 1
            geometry = [read_line() for _ in range(line_count)]
        else:
            poly_count = 1 if single else int(prog[pos])
            if not single:
                pos += 1
            geometry = []
            for _ in range(poly_count):
                line_count = int(prog[pos])
                pos += 1
                geometry.append([read_line() for _ in range(line_count)])
        feature = OVFeature(ftype, fid, properties, extent, geometry)
        if ftype in (3, 6):
            if has_indices:
                feature.indices = list(cache.get_column(OColumn.indices, pbf.read_varint()))
            if has_tess:
                # reference READS tessellation from points3D for 3D polys
                # (vectorFeature.ts:573) though the writer stores 2D points
                # (:737); we mirror the reader for 2D and document the 3D
                # asymmetry — 3D tessellation is not round-trippable upstream.
                tcol = OColumn.points3D if ftype == 6 else OColumn.points
                feature.tessellation = list(cache.get_column(tcol, pbf.read_varint()))
    if has_bbox:
        feature.bbox = list(cache.get_column(OColumn.bbox, pbf.read_varint()))
    return feature
