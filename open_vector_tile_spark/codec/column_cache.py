"""Tile-scoped columnar store (the "column cache").

Re-expresses reference src/open/columnCache.ts (enum :21-71, reader :117-226,
writer :263-420).  All tile data (strings, numbers, point runs, index
programs, shape programs, bboxes) is deduplicated into 10 typed columns;
features store only varint indices.

Write-side parity notes (byte-exactness contract, SURVEY.md §3.2):
- number columns (unsigned/signed/float/double) are insertion-keyed but
  re-sorted by (use-count desc, value asc) at write time; shape programs hold
  *live references* to number chunks whose final index is resolved only after
  the sort (columnCache.ts:409-413,428-436).
- every other column keeps insertion order.
- dedup keys replicate the reference's JSON.stringify keying (injective on
  content, so index assignment matches).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import numpy as np

from . import kernels as K
from .pbf import PbfReader, PbfWriter


class OColumn:
    """Column wire ids (src/open/columnCache.ts:21-71)."""

    string = 1
    unsigned = 2
    signed = 3
    float = 4
    double = 5
    points = 6
    points3D = 7
    indices = 8
    shapes = 9
    bbox = 10


NUMBER_COLUMNS = (OColumn.unsigned, OColumn.signed, OColumn.float, OColumn.double)


@dataclass
class NumberChunk:
    """Late-bound number column entry (src/open/columnCache.ts:231-243)."""

    col: int
    data: Any
    index: int
    count: int = 0


class ColumnCacheWriter:
    """(src/open/columnCache.ts:263-420)."""

    def __init__(self) -> None:
        # col id -> {key: NumberChunk}
        self._cols: dict[int, dict] = {c: {} for c in range(1, 11)}

    def add_string(self, value: str) -> int:
        """Hot-path string insert (no type dispatch)."""
        col_data = self._cols[OColumn.string]
        chunk = col_data.get(value)
        if chunk is not None:
            chunk.count += 1
            return chunk.index
        col_data[value] = NumberChunk(col=OColumn.string, data=value, index=len(col_data), count=1)
        return len(col_data) - 1

    def add_column_data(self, col: int, value: Any) -> int:
        """Dedup + insert non-number data; returns insertion index
        (src/open/columnCache.ts:291-322)."""
        if isinstance(value, (int, float)) and not isinstance(value, bool):
            raise TypeError("use add_number for scalars")
        if col == OColumn.string:
            key = value
        elif col == OColumn.shapes:
            # key on (col,data) for refs, raw ints otherwise (:300-305)
            key = tuple(
                (v.col, _freeze(v.data)) if isinstance(v, NumberChunk) else int(v) for v in value
            )
        else:
            key = _freeze(value)
        col_data = self._cols[col]
        chunk = col_data.get(key)
        if chunk is not None:
            chunk.count += 1
            return chunk.index
        col_data[key] = NumberChunk(col=col, data=value, index=len(col_data), count=1)
        return len(col_data) - 1

    def add_number(self, value, ctype: int | None = None) -> NumberChunk:
        """Insert a number into its (sorted-later) column; returns the live
        chunk reference (src/open/columnCache.ts:332-361)."""
        if ctype is None:
            if float(value) % 1 == 0:
                ctype = OColumn.unsigned if value >= 0 else OColumn.signed
            else:
                ctype = OColumn.double
        column = self._cols[ctype]
        chunk = column.get(value)
        if chunk is None:
            chunk = NumberChunk(col=ctype, data=value, index=len(column), count=0)
            column[value] = chunk
        chunk.count += 1
        return chunk

    def write(self, pbf: PbfWriter) -> None:
        """Emit all 10 columns as fields of the column-cache message
        (src/open/columnCache.ts:369-419)."""
        cols = self._cols
        # two-phase: sort number columns first, rewriting chunk indices
        for col_id in NUMBER_COLUMNS:
            _sort_column(list(cols[col_id].values()))
        for chunk in cols[OColumn.string].values():
            pbf.write_string_field(OColumn.string, chunk.data)
        for chunk in sorted(cols[OColumn.unsigned].values(), key=lambda c: c.index):
            pbf.write_varint_field(OColumn.unsigned, int(chunk.data))
        for chunk in sorted(cols[OColumn.signed].values(), key=lambda c: c.index):
            pbf.write_svarint_field(OColumn.signed, int(chunk.data))
        for chunk in sorted(cols[OColumn.float].values(), key=lambda c: c.index):
            pbf.write_float_field(OColumn.float, float(chunk.data))
        for chunk in sorted(cols[OColumn.double].values(), key=lambda c: c.index):
            pbf.write_double_field(OColumn.double, float(chunk.data))
        for chunk in cols[OColumn.points].values():
            xs, ys = _split_xy(chunk.data)
            pbf.write_packed_varint(OColumn.points, K.weave_and_delta_encode(xs, ys))
        for chunk in cols[OColumn.points3D].values():
            xs, ys, zs = _split_xyz(chunk.data)
            pbf.write_packed_varint(OColumn.points3D, K.weave_and_delta_encode_3d(xs, ys, zs))
        for chunk in cols[OColumn.indices].values():
            pbf.write_packed_varint(OColumn.indices, K.delta_encode(chunk.data))
        for chunk in cols[OColumn.shapes].values():
            packed = [v.index if isinstance(v, NumberChunk) else int(v) for v in chunk.data]
            pbf.write_packed_varint(OColumn.shapes, packed)
        for chunk in cols[OColumn.bbox].values():
            pbf.write_bytes_field(OColumn.bbox, K.quantize_bbox(chunk.data))


def _sort_column(chunks: list[NumberChunk]) -> None:
    """count desc, value asc; reassign indices (src/open/columnCache.ts:428-436)."""
    chunks.sort(key=lambda c: (-c.count, c.data))
    for i, c in enumerate(chunks):
        c.index = i


def _freeze(value: Any):
    if isinstance(value, (list, tuple)):
        return tuple(_freeze(v) for v in value)
    if isinstance(value, dict):
        return tuple((k, _freeze(v)) for k, v in value.items())
    if isinstance(value, np.ndarray):
        return tuple(value.tolist())
    return value


def _split_xy(points):
    """points is a list of (x, y) or (x, y, m) tuples."""
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    return xs, ys


def _split_xyz(points):
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    zs = [p[2] for p in points]
    return xs, ys, zs


@dataclass
class _Lazy:
    pos: int


@dataclass
class ColumnCacheReader:
    """Lazy, memoized column reads (src/open/columnCache.ts:117-226)."""

    pbf: PbfReader
    _cols: dict[int, list] = field(default_factory=lambda: {c: [] for c in range(1, 11)})

    @classmethod
    def from_pbf(cls, pbf: PbfReader, end: int) -> "ColumnCacheReader":
        self = cls(pbf)

        def handler(fld: int, wt: int, reader: PbfReader) -> None:
            if not 1 <= fld <= 10:
                raise ValueError("Unknown column type")
            self._cols[fld].append(_Lazy(reader.pos))

        pbf.read_fields(handler, end)
        return self

    def get_column(self, col: int, index: int):
        entry = self._cols[col][index]
        if isinstance(entry, _Lazy):
            save = self.pbf.pos
            self.pbf.pos = entry.pos
            entry = self._read_column_data(col)
            self._cols[col][index] = entry
            self.pbf.pos = save
        return entry

    def _read_column_data(self, col: int):
        pbf = self.pbf
        if col == OColumn.string:
            return pbf.read_string()
        if col == OColumn.unsigned:
            return pbf.read_varint()
        if col == OColumn.signed:
            return pbf.read_svarint()
        if col == OColumn.float:
            return pbf.read_float()
        if col == OColumn.double:
            return pbf.read_double()
        if col == OColumn.points:
            xs, ys = K.unweave_and_delta_decode(pbf.read_packed_varint())
            return [(int(x), int(y)) for x, y in zip(xs.tolist(), ys.tolist())]
        if col == OColumn.points3D:
            xs, ys, zs = K.unweave_and_delta_decode_3d(pbf.read_packed_varint())
            return [(int(x), int(y), int(z)) for x, y, z in zip(xs.tolist(), ys.tolist(), zs.tolist())]
        if col == OColumn.indices:
            return K.delta_decode(pbf.read_packed_varint().astype(np.int64)).tolist()
        if col == OColumn.shapes:
            return pbf.read_packed_varint().tolist()
        if col == OColumn.bbox:
            return K.dequantize_bbox(pbf.read_bytes())
        raise ValueError("Unknown column type")
