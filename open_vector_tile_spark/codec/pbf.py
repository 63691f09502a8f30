"""Minimal protobuf wire codec (writer + reader) used by the tile codecs.

Wire-compatible with the ``pbf-ts`` / ``mapbox/pbf`` conventions the reference
library uses (reference: /root/reference/src/open/columnCache.ts:183-214 reads,
/root/reference/src/vectorTile.ts:148-185 writes).  Pure Python for the framing
layer (headers are tiny); bulk packed-varint arrays go through the vectorized
numpy paths in :mod:`open_vector_tile_spark.codec.kernels`.

Wire types: 0 = varint, 1 = 64-bit (double), 2 = length-delimited
(bytes/string/message/packed), 5 = 32-bit (float).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "PbfWriter",
    "PbfReader",
    "TileDecodeError",
    "write_varint",
    "read_varint",
    "zigzag64",
    "zagzig64",
]

_MASK64 = (1 << 64) - 1


class TileDecodeError(ValueError):
    """A tile buffer is truncated or structurally invalid.

    The operational error type: at fleet scale a handful of corrupt blobs
    (torn object-store writes, bitrot) must be skippable per-row
    (``decode_tiles(on_error="skip")``) instead of failing a multi-hour job
    with a bare IndexError from the framing layer."""


def zigzag64(n: int) -> int:
    """64-bit zigzag encode (sint wire format)."""
    return ((n << 1) ^ (n >> 63)) & _MASK64


def zagzig64(n: int) -> int:
    """64-bit zigzag decode."""
    return (n >> 1) ^ -(n & 1)


def write_varint(out: bytearray, value: int) -> None:
    """Append an unsigned LEB128 varint. Negative ints are written as their
    64-bit two's complement (protobuf convention)."""
    if 0 <= value < 0x80:  # 1-byte fast path (the overwhelmingly common case)
        out.append(value)
        return
    value &= _MASK64
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Read an unsigned varint at ``pos``; returns (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7


class PbfWriter:
    """Append-only protobuf writer mirroring the ``Pbf`` writer API surface
    the reference uses (writeVarintField/writeMessage/commit...)."""

    __slots__ = ("buf",)

    def __init__(self) -> None:
        self.buf = bytearray()

    # -- raw --------------------------------------------------------------
    def write_varint(self, value: int) -> None:
        write_varint(self.buf, value)

    def write_svarint(self, value: int) -> None:
        write_varint(self.buf, zigzag64(value))

    def _tag(self, field: int, wire_type: int) -> None:
        write_varint(self.buf, (field << 3) | wire_type)

    # -- fields -----------------------------------------------------------
    def write_varint_field(self, field: int, value: int) -> None:
        self._tag(field, 0)
        self.write_varint(value)

    def write_svarint_field(self, field: int, value: int) -> None:
        self._tag(field, 0)
        self.write_svarint(value)

    def write_boolean_field(self, field: int, value: bool) -> None:
        self.write_varint_field(field, 1 if value else 0)

    def write_float_field(self, field: int, value: float) -> None:
        self._tag(field, 5)
        self.buf += struct.pack("<f", value)

    def write_double_field(self, field: int, value: float) -> None:
        self._tag(field, 1)
        self.buf += struct.pack("<d", value)

    def write_string_field(self, field: int, value: str) -> None:
        self.write_bytes_field(field, value.encode("utf-8"))

    def write_bytes_field(self, field: int, value: bytes | bytearray | memoryview) -> None:
        self._tag(field, 2)
        self.write_varint(len(value))
        self.buf += value

    def write_packed_varint(self, field: int, values) -> None:
        """Length-delimited packed varints.  Always written, even when empty,
        so column indices stay aligned with field occurrence counts
        (reference reader counts fields: columnCache.ts:221-226)."""
        body = pack_varints(values)
        self._tag(field, 2)
        self.write_varint(len(body))
        self.buf += body

    def write_message(self, field: int, body: bytes | bytearray) -> None:
        self.write_bytes_field(field, body)

    def commit(self) -> bytes:
        return bytes(self.buf)


def pack_varints(values) -> bytes:
    """Vectorized LEB128 pack of a sequence of non-negative ints (uint64).

    numpy path: compute per-element byte counts, then scatter each byte
    position in one masked vector op — no per-element Python loop.
    """
    arr = np.asarray(values, dtype=np.uint64)
    n = arr.size
    if n == 0:
        return b""
    if n < 16:  # tiny arrays: plain loop is faster than vector setup
        out = bytearray()
        for v in arr.tolist():
            write_varint(out, int(v))
        return bytes(out)
    # bits needed -> varint byte length (1..10); uint64 here so max 10
    nbytes = np.ones(n, dtype=np.int64)
    v = arr.copy()
    v >>= np.uint64(7)
    while v.any():
        nbytes += (v != 0).astype(np.int64)
        v >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    starts = ends - nbytes
    out = np.empty(total, dtype=np.uint8)
    maxb = int(nbytes.max())
    for j in range(maxb):
        mask = nbytes > j
        vals = (arr[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[starts[mask] + j] = vals.astype(np.uint8) | cont
    return out.tobytes()


# Packed-varint bodies shorter than this many bytes decode with a pure-Python
# LEB128 loop; longer ones with the numpy kernel, whose ~12 vector ops cost a
# fixed ~30 us whatever the length.  Measured on a 4-core Xeon VM (Python
# 3.11, numpy 1.26), best of 7, whole unpack_varints call (the scalar side
# includes building the uint64 array), scalar / numpy in us:
#   body bytes (points-indices)   points column   indices column
#       3-4                     1.1 / 27        1.0 / 27
#     191-233                    20 / 30         24 / 31
#     266-321                    28 / 30         32 / 30
#     297-349                    29 / 30         34 / 31
#     329-396                    32 / 30         39 / 31
#   12083-14593                1105 / 157      1394 / 182
# Both columns (1-3 byte varints) cross over near 300 bytes.  Single points,
# short rings and the index/shape programs stay below it; grids and long
# rings go above it.
SCALAR_VARINT_MAX_BYTES = 300


def unpack_varints_scalar(buf: bytes | memoryview) -> list[int]:
    """Pure-Python LEB128 unpack of a packed-varint body -> list of ints.

    Raises :class:`TileDecodeError` on a trailing partial varint, one
    longer than 10 bytes or one of 2**64 or more, like :func:`unpack_varints`."""
    out: list[int] = []
    append = out.append
    value = 0
    shift = 0
    for b in buf:
        if b < 0x80:
            if shift:
                if shift == 63 and b > 1:
                    raise TileDecodeError("packed varint does not fit in 64 bits")
                append(value | (b << shift))
                value = 0
                shift = 0
            else:
                append(b)
        else:
            value |= (b & 0x7F) << shift
            shift += 7
            if shift == 70:
                raise TileDecodeError("packed varint longer than 10 bytes")
    if shift:
        raise TileDecodeError("packed varint body ends mid-varint")
    return out


def unpack_varints(buf: bytes | memoryview) -> np.ndarray:
    """LEB128 unpack of a packed-varint body -> uint64 array.

    Bodies below :data:`SCALAR_VARINT_MAX_BYTES` take the scalar loop;
    longer ones are decoded vectorized.  Both raise :class:`TileDecodeError`
    on a trailing partial varint, one longer than 10 bytes or one of 2**64
    or more."""
    if len(buf) < SCALAR_VARINT_MAX_BYTES:
        return np.array(unpack_varints_scalar(buf), dtype=np.uint64)
    return _unpack_varints_numpy(buf)


def _unpack_varints_numpy(buf: bytes | memoryview) -> np.ndarray:
    """Vectorized LEB128 unpack of a non-empty packed-varint body."""
    data = np.frombuffer(buf, dtype=np.uint8)
    is_term = (data & 0x80) == 0  # last byte of each varint
    if not is_term[-1]:
        raise TileDecodeError("packed varint body ends mid-varint")
    # element id for every byte: number of terminators strictly before it
    elem = np.zeros(data.size, dtype=np.int64)
    np.cumsum(is_term[:-1], out=elem[1:])
    n = int(is_term.sum())
    starts = np.zeros(n, dtype=np.int64)
    term_pos = np.flatnonzero(is_term)
    starts[1:] = term_pos[:-1] + 1
    pos_in_elem = np.arange(data.size, dtype=np.int64) - starts[elem]
    longest = int(pos_in_elem.max())
    if longest >= 10:
        raise TileDecodeError("packed varint longer than 10 bytes")
    if longest == 9 and (data[pos_in_elem == 9] > 1).any():
        raise TileDecodeError("packed varint does not fit in 64 bits")
    contrib = (data.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * pos_in_elem.astype(np.uint64)
    )
    out = np.zeros(n, dtype=np.uint64)
    np.add.at(out, elem, contrib)
    return out


class PbfReader:
    """Protobuf reader with the same navigation surface the reference uses:
    ``read_fields`` dispatch, positional lazy reads (pos save/restore)."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def read_varint(self) -> int:
        pos = self.pos
        b = self.buf[pos]
        if b < 0x80:  # single-byte varint: tags, lengths, column indices
            self.pos = pos + 1
            return b
        v, self.pos = read_varint(self.buf, pos)
        return v

    def read_svarint(self) -> int:
        return zagzig64(self.read_varint())

    def read_boolean(self) -> bool:
        return self.read_varint() != 0

    def read_float(self) -> float:
        v = struct.unpack_from("<f", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def read_double(self) -> float:
        v = struct.unpack_from("<d", self.buf, self.pos)[0]
        self.pos += 8
        return v

    def read_bytes(self) -> bytes:
        ln = self.read_varint()
        end = self.pos + ln
        if end > len(self.buf):
            raise TileDecodeError("length-delimited field runs past the end of the buffer")
        out = self.buf[self.pos : end]
        self.pos = end
        return out

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")

    def read_packed_varint(self) -> np.ndarray:
        return unpack_varints(self.read_bytes())

    def skip(self, wire_type: int) -> None:
        if wire_type == 0:
            self.read_varint()
        elif wire_type == 1:
            self.pos += 8
        elif wire_type == 2:
            ln = self.read_varint()
            self.pos += ln
        elif wire_type == 5:
            self.pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire_type}")

    def read_fields(self, handler, end: int = 0) -> None:
        """Call ``handler(field, wire_type, reader)`` for each field until
        ``end`` (0 = end of buffer). Handler may consume the value; if the
        position didn't move, the field is skipped."""
        if end == 0:
            end = len(self.buf)
        elif end > len(self.buf):
            raise TileDecodeError("message runs past the end of the buffer")
        while self.pos < end:
            key = self.read_varint()
            field, wire_type = key >> 3, key & 0x7
            before = self.pos
            handler(field, wire_type, self)
            if self.pos == before:
                self.skip(wire_type)
