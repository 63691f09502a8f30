"""Bit-exact numpy kernels for the open-vector-tile encodings.

Each function re-expresses (NOT ports) a reference kernel, cited per function
into /root/reference.  Wire semantics follow the Rust mirror's explicit
unsigned types (rust/util.rs:85-160) which are the sane superset of the
JS 32-bit-int behavior for all in-range inputs.

All kernels are vectorized over numpy arrays; scalars also accepted.
"""

from __future__ import annotations

import numpy as np

U32 = np.uint64(0xFFFFFFFF)

# ---------------------------------------------------------------------------
# command codes (reference: src/util.ts:10-29)
# ---------------------------------------------------------------------------


def command_encode(cmd, length):
    """(len << 3) + (cmd & 7)."""
    return (np.asarray(length, dtype=np.int64) << 3) + (np.asarray(cmd, dtype=np.int64) & 0x7)


def command_decode(word):
    """-> (cmd, len)."""
    w = np.asarray(word, dtype=np.int64)
    return w & 0x7, w >> 3


# ---------------------------------------------------------------------------
# zigzag (reference: src/util.ts:36-47; rust/util.rs:85 zigzag(i32)->u32)
# ---------------------------------------------------------------------------


def zigzag(n):
    """Signed -> unsigned zigzag, 32-bit domain."""
    a = np.asarray(n, dtype=np.int64)
    return ((a << 1) ^ (a >> 31)).astype(np.int64) & 0xFFFFFFFF


def zagzig(n):
    """Unsigned zigzag -> signed, 32-bit domain."""
    a = np.asarray(n, dtype=np.int64)
    return (a >> 1) ^ -(a & 1)


# ---------------------------------------------------------------------------
# bit weaving / morton interleave (reference: src/util.ts:56-147)
# ---------------------------------------------------------------------------


def _part1by1(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) & np.uint64(0xFFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x33333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x55555555)
    return x


def _compact1by1(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) & np.uint64(0x55555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x33333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF)
    return x


def _part1by2(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) & np.uint64(0x1FFFFF)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def _compact1by2(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) & np.uint64(0x1249249249249249)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x >> np.uint64(32))) & np.uint64(0x1FFFFF)
    return x


def weave2d(a, b):
    """Interleave two 16-bit uints -> u32 (src/util.ts:56-66)."""
    a = np.asarray(a)
    b = np.asarray(b)
    return (_part1by1(a) | (_part1by1(b) << np.uint64(1))).astype(np.uint64)


def unweave2d(num):
    """u32 -> (a, b) 16-bit uints (src/util.ts:79-89)."""
    n = np.asarray(num).astype(np.uint64)
    return _compact1by1(n), _compact1by1(n >> np.uint64(1))


def weave3d(a, b, c):
    """Interleave three 16-bit uints -> 48-bit uint (src/util.ts:99-117)."""
    return (
        _part1by2(np.asarray(a))
        | (_part1by2(np.asarray(b)) << np.uint64(1))
        | (_part1by2(np.asarray(c)) << np.uint64(2))
    ).astype(np.uint64)


def unweave3d(num):
    """48-bit uint -> (a, b, c) (src/util.ts:131-147)."""
    n = np.asarray(num).astype(np.uint64)
    return _compact1by2(n), _compact1by2(n >> np.uint64(1)), _compact1by2(n >> np.uint64(2))


# scalar (pure python int) fast paths — numpy scalar ops cost ~2-5us each,
# which dominates per-feature encode and decode; these are ~50ns.  The
# unweave twins serve the single-point branch of feature decode
def zigzag_scalar(n: int) -> int:
    return ((n << 1) ^ (n >> 31)) & 0xFFFFFFFF


def zagzig_scalar(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _part1by1_scalar(x: int) -> int:
    x &= 0xFFFF
    x = (x | (x << 8)) & 0x00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F
    x = (x | (x << 2)) & 0x33333333
    x = (x | (x << 1)) & 0x55555555
    return x


def weave2d_scalar(a: int, b: int) -> int:
    return _part1by1_scalar(a) | (_part1by1_scalar(b) << 1)


def _part1by2_scalar(x: int) -> int:
    x &= 0x1FFFFF
    x = (x | (x << 32)) & 0x1F00000000FFFF
    x = (x | (x << 16)) & 0x1F0000FF0000FF
    x = (x | (x << 8)) & 0x100F00F00F00F00F
    x = (x | (x << 4)) & 0x10C30C30C30C30C3
    x = (x | (x << 2)) & 0x1249249249249249
    return x


def weave3d_scalar(a: int, b: int, c: int) -> int:
    return _part1by2_scalar(a) | (_part1by2_scalar(b) << 1) | (_part1by2_scalar(c) << 2)


def _compact1by1_scalar(x: int) -> int:
    x &= 0x55555555
    x = (x | (x >> 1)) & 0x33333333
    x = (x | (x >> 2)) & 0x0F0F0F0F
    x = (x | (x >> 4)) & 0x00FF00FF
    x = (x | (x >> 8)) & 0x0000FFFF
    return x


def unweave2d_scalar(num: int) -> tuple[int, int]:
    return _compact1by1_scalar(num), _compact1by1_scalar(num >> 1)


def _compact1by2_scalar(x: int) -> int:
    x &= 0x1249249249249249
    x = (x | (x >> 2)) & 0x10C30C30C30C30C3
    x = (x | (x >> 4)) & 0x100F00F00F00F00F
    x = (x | (x >> 8)) & 0x1F0000FF0000FF
    x = (x | (x >> 16)) & 0x1F00000000FFFF
    x = (x | (x >> 32)) & 0x1FFFFF
    return x


def unweave3d_scalar(num: int) -> tuple[int, int, int]:
    return _compact1by2_scalar(num), _compact1by2_scalar(num >> 1), _compact1by2_scalar(num >> 2)


# ---------------------------------------------------------------------------
# delta encodings (reference: src/util.ts:154-313)
# ---------------------------------------------------------------------------


def _deltas(vals: np.ndarray) -> np.ndarray:
    d = np.empty_like(vals)
    if vals.size:
        d[0] = vals[0]
        np.subtract(vals[1:], vals[:-1], out=d[1:])
    return d


def weave_and_delta_encode(xs, ys):
    """Point array -> interwoven zigzag-delta words (src/util.ts:154-169)."""
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    return weave2d(zigzag(_deltas(xs)), zigzag(_deltas(ys)))


def unweave_and_delta_decode(words):
    """Inverse of :func:`weave_and_delta_encode` -> (xs, ys)."""
    a, b = unweave2d(np.asarray(words))
    dx = zagzig(a.astype(np.int64))
    dy = zagzig(b.astype(np.int64))
    return np.cumsum(dx), np.cumsum(dy)


def weave_and_delta_encode_3d(xs, ys, zs):
    """3D point array -> 48-bit interwoven words (src/util.ts:198-216)."""
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    zs = np.asarray(zs, dtype=np.int64)
    return weave3d(zigzag(_deltas(xs)), zigzag(_deltas(ys)), zigzag(_deltas(zs)))


def unweave_and_delta_decode_3d(words):
    a, b, c = unweave3d(np.asarray(words))
    return (
        np.cumsum(zagzig(a.astype(np.int64))),
        np.cumsum(zagzig(b.astype(np.int64))),
        np.cumsum(zagzig(c.astype(np.int64))),
    )


def delta_encode(vals):
    """zigzag-delta (src/util.ts:248-259)."""
    return zigzag(_deltas(np.asarray(vals, dtype=np.int64)))


def delta_decode(words):
    """Inverse zigzag-delta (src/util.ts:266-277)."""
    return np.cumsum(zagzig(np.asarray(words, dtype=np.int64)))


def delta_encode_sorted(vals):
    """Plain delta, no zigzag, for sorted input (src/util.ts:284-295)."""
    return _deltas(np.asarray(vals, dtype=np.int64))


def delta_decode_sorted(words):
    return np.cumsum(np.asarray(words, dtype=np.int64))


# ---------------------------------------------------------------------------
# 24-bit WGS84 quantization (reference: src/util.ts:322-351)
# ---------------------------------------------------------------------------

_Q = 16_777_215.0


def _js_round(x):
    """JS Math.round: half-up (toward +inf), unlike numpy banker's rounding."""
    return np.floor(np.asarray(x, dtype=np.float64) + 0.5).astype(np.int64)


def quantize_lon(lon):
    return _js_round((np.asarray(lon, dtype=np.float64) + 180.0) * _Q / 360.0)


def quantize_lat(lat):
    return _js_round((np.asarray(lat, dtype=np.float64) + 90.0) * _Q / 180.0)


def dequantize_lon(q):
    return np.asarray(q, dtype=np.float64) * 360.0 / _Q - 180.0


def dequantize_lat(q):
    return np.asarray(q, dtype=np.float64) * 180.0 / _Q - 90.0


# ---------------------------------------------------------------------------
# bbox quantization blobs (reference: src/util.ts:359-473)
# ---------------------------------------------------------------------------


def _pack24(buf: bytearray, value: int) -> None:
    buf += bytes(((value >> 16) & 0xFF, (value >> 8) & 0xFF, value & 0xFF))


def _unpack24(buf: bytes, off: int) -> int:
    return (buf[off] << 16) | (buf[off + 1] << 8) | buf[off + 2]


def quantize_bbox(bbox) -> bytes:
    """BBox (len 4) or BBox3D (len 6) -> 12/20-byte blob (src/util.ts:416-435)."""
    import struct

    is3d = len(bbox) == 6
    out = bytearray()
    _pack24(out, int(quantize_lon(bbox[0])))
    _pack24(out, int(quantize_lat(bbox[1])))
    _pack24(out, int(quantize_lon(bbox[2])))
    _pack24(out, int(quantize_lat(bbox[3])))
    if is3d:
        out += struct.pack("<f", bbox[4])
        out += struct.pack("<f", bbox[5])
    return bytes(out)


def dequantize_bbox(buf: bytes):
    """12/20-byte blob -> bbox list (src/util.ts:441-473)."""
    import struct

    out = [
        float(dequantize_lon(_unpack24(buf, 0))),
        float(dequantize_lat(_unpack24(buf, 3))),
        float(dequantize_lon(_unpack24(buf, 6))),
        float(dequantize_lat(_unpack24(buf, 9))),
    ]
    if len(buf) == 20:
        out.append(struct.unpack_from("<f", buf, 12)[0])
        out.append(struct.unpack_from("<f", buf, 16)[0])
    return out


# ---------------------------------------------------------------------------
# offsets / extents / grid remap (reference: src/base/vectorFeature.ts:609-620,
# src/open/vectorLayer.ts:92-114, src/open/gridLayer.ts:98-111)
# ---------------------------------------------------------------------------


def encode_offset(offset):
    return np.floor(np.asarray(offset, dtype=np.float64) * 1000.0).astype(np.int64)


def decode_offset(enc):
    return np.asarray(enc, dtype=np.float64) / 1000.0


_EXTENTS = (512, 1024, 2048, 4096, 8192, 16384)


def encode_extent(extent: int) -> int:
    try:
        return _EXTENTS.index(extent)
    except ValueError:
        raise ValueError(
            "invalid extent, must be 512, 1_024, 2_048, 4_096, 8_192, or 16_384"
        ) from None


def decode_extent(enc: int) -> int:
    if not 0 <= enc <= 5:
        raise ValueError("invalid encoded extent, must be 0, 1, 2, 3, 4, or 5")
    return _EXTENTS[enc]


def remap_value(value, vmin, vmax, extent):
    """Grid remap (src/open/gridLayer.ts:98-100): round((v-min)*extent/(max-min))."""
    return _js_round((np.asarray(value, dtype=np.float64) - vmin) * extent / (vmax - vmin))


def unmap_value(value, vmin, vmax, extent):
    return np.asarray(value, dtype=np.float64) * (vmax - vmin) / extent + vmin


def convert_terrarium_elevation(r, g, b):
    """(src/open/gridLayer.ts:119-121)."""
    return (
        np.asarray(r, dtype=np.float64) * 256.0
        + np.asarray(g, dtype=np.float64)
        + np.asarray(b, dtype=np.float64) / 256.0
        - 32768.0
    )


def convert_mapbox_elevation(r, g, b):
    """(src/open/gridLayer.ts:129-131)."""
    return -10000.0 + (
        np.asarray(r, dtype=np.float64) * 65536.0
        + np.asarray(g, dtype=np.float64) * 256.0
        + np.asarray(b, dtype=np.float64)
    ) * 0.1


def transform_point(p, extent):
    """[0,1] world coord -> extent-quantized int (src/base/vectorFeature.ts:584-602)."""
    return _js_round(np.asarray(p, dtype=np.float64) * extent)
