"""Vectorized bulk encoder and decoder for the dominant tile shape: OVT
layers of 2D single-point features with a flat Shape, for EVERY tile of a
batch in one pass.

The encoder (:func:`encode_point_layer_tiles_bulk`) writes ONE such layer
per tile for a tile-sorted batch in one numpy pass.  Its twin
(:func:`decode_point_layer_tiles_bulk`) reads back any tile made only of
such layers, from either writer: Python walks only the protobuf framing,
the geometry of the whole batch decodes in one numpy pass, and every other
tile is left to the generic ``VectorTile`` decoder.

The encoder is byte-for-byte identical to the generic writer path
(tile.write_ov_tile over BaseLayer/BaseFeature), and the decoder gives the
generic decode's rows — both asserted by randomized equivalence tests.
Both work on whole columns instead of per-feature objects, so a tile costs
a byte-slice join (encode) or a framing walk (decode) rather than ~25us
(encode) or ~70us (decode) per feature: the z10+ regime, where millions
of tiles hold a handful of features each, pays no per-tile numpy fixed
cost.

Replicated decode contracts: ``props_json`` equals ``json.dumps(
feature.properties, default=str)`` byte for byte, key order included; a
u64 id at or above 2**63 comes back in two's complement, as the Spark long
column carries it.

Replicated encode ordering contracts (reference: src/open/vectorLayer.ts:128-143,
src/open/vectorFeature.ts:697-742, src/open/columnCache.ts:369-436):
- string column: insertion order = layer name, shape keys, then per-feature
  values in shape-key order (first occurrence wins)
- shapes column: shape program, mShape program, then value stores in first
  occurrence order (dedup by full index tuple incl. number-column identity)
- number columns: insertion keyed, finally sorted by (use-count desc, value
  asc); value stores carry the POST-sort indices (two-phase assignment)
- feature flags: single-point inline weave fast path (flag bit 6), id bit 0
"""

from __future__ import annotations

import struct
from json.encoder import encode_basestring_ascii
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from . import kernels as K
from .pbf import PbfWriter, pack_varints, read_varint, unpack_varints_scalar, zagzig64
from .shape import _COL_TO_PRIM, _PRIM_TO_COL  # shared primitive<->column mappings
from .column_cache import OColumn
from .tile import DECODE_ERROR_CLASSES


def _varint_sizes(vals: np.ndarray) -> np.ndarray:
    """LEB128 byte length per uint64 value (vectorized)."""
    v = vals.astype(np.uint64)
    sizes = np.ones(v.shape, dtype=np.int64)
    v = v >> np.uint64(7)
    while v.any():
        sizes += (v != 0).astype(np.int64)
        v >>= np.uint64(7)
    return sizes


# Core device: with rows sorted by tile, factorizing the pair (tile_id,
# value) assigns group ids in first-occurrence order, and because tiles are
# contiguous each tile's group ids occupy a contiguous range — so the
# WITHIN-tile insertion index is `pair_code - base[tile]` where base[t] =
# cumulative unique count of earlier tiles.  No per-row Python anywhere; the
# only per-tile loop does byte-slice concatenation.


def _tile_base(tid_of_unique: np.ndarray, n_tiles: int) -> np.ndarray:
    """base[t] = number of uniques belonging to tiles < t."""
    per_tile = np.bincount(tid_of_unique, minlength=n_tiles)
    base = np.zeros(n_tiles, dtype=np.int64)
    np.cumsum(per_tile[:-1], out=base[1:])
    return base


def _split_bytes(packed: bytes, unit_sizes: np.ndarray, unit_tid: np.ndarray, n_tiles: int):
    """One packed blob covering units in tile order -> per-tile memoryviews."""
    per_tile = np.bincount(
        unit_tid, weights=unit_sizes.astype(np.float64), minlength=n_tiles
    ).astype(np.int64)
    ends = np.cumsum(per_tile)
    starts = ends - per_tile
    mv = memoryview(packed)
    return [mv[s:e] for s, e in zip(starts.tolist(), ends.tolist())]


def _pair_codes(tid: np.ndarray, gcodes: np.ndarray, n_glob: int):
    """(tile, global-code) pairs -> first-occurrence group ids + metadata.

    Returns (pcodes, first_pos) where pcodes are contiguous per tile."""
    pair = tid * np.int64(max(n_glob, 1)) + gcodes
    pcodes, _ = pd.factorize(pair)
    first_pos = np.unique(pcodes, return_index=True)[1]
    return pcodes, first_pos


def encode_point_layer_tiles_bulk(
    layer_name: str,
    extent: int,
    shape: dict,
    prop_arrays: dict,
    qx: np.ndarray,
    qy: np.ndarray,
    counts: np.ndarray,
    ids: Optional[np.ndarray] = None,
) -> list:
    """Encode ALL tiles of a tile-sorted batch in one numpy pass.

    ``counts[t]`` = rows of tile t (rows contiguous per tile, t ascending in
    row order).  ``ids`` are per-row feature ids (or None for none); a null
    one writes no id.  Returns a list of tile byte strings, each
    byte-identical to the generic writer (``operators.tiler._encode_rows``)
    on the same rows.
    """
    n = len(qx)
    keys = list(shape)
    counts = np.asarray(counts, dtype=np.int64)
    n_tiles = len(counts)
    row_tid = np.repeat(np.arange(n_tiles, dtype=np.int64), counts)

    # ---- string column ----------------------------------------------------
    # per-tile sequence = [layer_name, *keys, row-major feature values]; the
    # prefix is identical for every tile, so its within-tile codes are too
    prefix = np.array([layer_name] + keys, dtype=object)
    prefix_codes, prefix_uniq = pd.factorize(prefix)
    p = len(prefix_uniq)
    name_idx = int(prefix_codes[0])  # always 0: layer name leads the column
    key_idx = {k: int(prefix_codes[1 + i]) for i, k in enumerate(keys)}
    string_cols = [k for k in keys if shape[k] == "string"]
    str_value_idx: dict[str, np.ndarray] = {}
    extras_gid = np.empty(0, dtype=np.int64)
    extras_tid = np.empty(0, dtype=np.int64)
    guniq = prefix_uniq
    if string_cols and n:
        mat = np.empty((n, len(string_cols)), dtype=object)
        for j, k in enumerate(string_cols):
            col = prop_arrays[k]
            mat[:, j] = np.where(pd.isna(col), "", col.astype(object))
        vals = mat.ravel()
        gcodes_all, guniq = pd.factorize(np.concatenate([prefix_uniq, vals]))
        gv = gcodes_all[p:]  # global ids; ids < p are prefix strings
        vtid = np.repeat(row_tid, len(string_cols))
        fresh = gv >= p
        within = np.empty(len(gv), dtype=np.int64)
        within[~fresh] = gv[~fresh]
        if fresh.any():
            ftid = vtid[fresh]
            pcodes, first_pos = _pair_codes(ftid, gv[fresh], len(guniq))
            extras_tid = ftid[first_pos]
            extras_gid = gv[fresh][first_pos]
            base = _tile_base(extras_tid, n_tiles)
            within[fresh] = p + (pcodes - base[ftid])
        codes2 = within.reshape(n, len(string_cols))
        for j, k in enumerate(string_cols):
            str_value_idx[k] = codes2[:, j]

    # per-tile string cache bytes: shared prefix block + tile's extra uniques
    def _enc_str(s) -> bytes:
        w = PbfWriter()
        w.write_string_field(OColumn.string, str(s))
        return w.commit()

    prefix_block = b"".join(_enc_str(s) for s in prefix_uniq)
    enc_cache: dict[int, bytes] = {}
    extras_enc = []
    for g in extras_gid.tolist():
        b = enc_cache.get(g)
        if b is None:
            b = enc_cache[g] = _enc_str(guniq[g])
        extras_enc.append(b)
    extras_per_tile = np.bincount(extras_tid, minlength=n_tiles).tolist()
    str_bytes: list[bytes] = []
    pos = 0
    for t in range(n_tiles):
        cnt = extras_per_tile[t]
        str_bytes.append(prefix_block + b"".join(extras_enc[pos : pos + cnt]))
        pos += cnt

    # ---- number columns (per-tile two-phase index assignment) -------------
    num_final_idx: dict[str, np.ndarray] = {}
    num_bytes_by_col: dict[int, list] = {}
    by_col: dict[int, list[str]] = {}
    for k in keys:
        t = shape[k]
        if t == "string":
            continue
        col_id = OColumn.unsigned if t in ("u64", "bool") else _PRIM_TO_COL[t]
        by_col.setdefault(col_id, []).append(k)
    for col_id, knames in by_col.items():
        seq_parts = []
        for k in knames:
            arr = prop_arrays[k]
            if shape[k] == "bool":
                v = np.where(pd.isna(arr), 0, arr.astype(object)).astype(np.int64)
                v = (v != 0).astype(np.int64)
            elif shape[k] in ("u64", "i64"):
                v = np.where(pd.isna(arr), 0, arr).astype(np.int64)
            else:
                # f32 dedups on the raw double; truncation only at write time.
                # + 0.0 turns -0.0 into +0.0, as the generic float(value or 0)
                v = np.where(pd.isna(arr), 0.0, arr).astype(np.float64) + 0.0
            seq_parts.append(v)
        seq = np.stack(seq_parts, axis=1).ravel()
        stid = np.repeat(row_tid, len(knames))
        gcodes, guniq_n = pd.factorize(seq)
        pcodes, first_pos = _pair_codes(stid, gcodes, len(guniq_n))
        cnts = np.bincount(pcodes)
        tid_u = stid[first_pos]
        val_u = seq[first_pos]
        base = _tile_base(tid_u, n_tiles)
        order = np.lexsort((val_u, -cnts, tid_u))  # tile, count desc, value asc
        tid_sorted = tid_u[order]
        rank_in_tile = np.arange(len(order), dtype=np.int64) - base[tid_sorted]
        final_of_insert = np.empty(len(order), dtype=np.int64)
        final_of_insert[order] = rank_in_tile
        codes2 = final_of_insert[pcodes].reshape(n, len(knames))
        for j, k in enumerate(knames):
            num_final_idx[k] = codes2[:, j]
        vals_sorted = val_u[order]
        # per-tile cache bytes for this column
        if col_id in (OColumn.unsigned, OColumn.signed):
            if col_id == OColumn.signed:
                iv = vals_sorted.astype(np.int64)
                wire = ((iv << np.int64(1)) ^ (iv >> np.int64(63))).astype(np.uint64)
            else:
                wire = vals_sorted.astype(np.uint64)
            stream = np.stack(
                [np.full(len(order), np.uint64(col_id << 3), dtype=np.uint64), wire],
                axis=1,
            )
            sizes = _varint_sizes(stream).sum(axis=1)
            packed = pack_varints(stream.ravel())
            num_bytes_by_col[col_id] = _split_bytes(packed, sizes, tid_sorted, n_tiles)
        else:
            if col_id == OColumn.float:
                tag, width, dt = (OColumn.float << 3) | 5, 5, "<f4"
            else:
                tag, width, dt = (OColumn.double << 3) | 1, 9, "<f8"
            k_u = len(order)
            buf = np.empty((k_u, width), dtype=np.uint8)
            buf[:, 0] = tag
            buf[:, 1:] = (
                vals_sorted.astype(dt).view(np.uint8).reshape(k_u, width - 1)
            )
            packed = buf.tobytes()
            sizes = np.full(k_u, width, dtype=np.int64)
            num_bytes_by_col[col_id] = _split_bytes(packed, sizes, tid_sorted, n_tiles)

    # ---- shapes column ------------------------------------------------------
    shape_prog = [(len(keys) << 2) | 1]
    for k in keys:
        shape_prog.append(key_idx[k])
        shape_prog.append((_PRIM_TO_COL[shape[k]] << 2) | 2)
    mshape_prog = [1]
    progs_dedup = shape_prog == mshape_prog
    mshape_idx = 0 if progs_dedup else 1
    store_base = 1 if progs_dedup else 2
    shapes_head = PbfWriter()
    shapes_head.write_packed_varint(OColumn.shapes, shape_prog)
    if not progs_dedup:
        shapes_head.write_packed_varint(OColumn.shapes, mshape_prog)
    shapes_head_bytes = shapes_head.commit()

    # per-feature value stores: dedup rows of (tile, per-slot identity)
    slot_key_cols = []
    slot_written_cols = []
    for k in keys:
        if shape[k] == "string":
            kk = str_value_idx[k].astype(np.int64)
            slot_key_cols.append(kk)
            slot_written_cols.append(kk)
        else:
            written = num_final_idx[k]
            col_id = OColumn.unsigned if shape[k] in ("u64", "bool") else _PRIM_TO_COL[shape[k]]
            slot_key_cols.append(written.astype(np.int64) | (np.int64(col_id) << 56))
            slot_written_cols.append(written.astype(np.int64))
    code = row_tid
    for colv in slot_key_cols:
        gc, gu = pd.factorize(colv)
        comb = code * np.int64(len(gu)) + gc
        code, _ = pd.factorize(comb)
    # `code` is already contiguous per tile (tid seeds the fold)
    first_pos = np.unique(code, return_index=True)[1]
    store_tid = row_tid[first_pos]
    base = _tile_base(store_tid, n_tiles)
    feature_value_idx = (code - base[row_tid]) + store_base
    if slot_written_cols:
        written_mat = np.stack(slot_written_cols, axis=1)[first_pos].astype(np.uint64)
    else:
        written_mat = np.zeros((len(first_pos), 0), dtype=np.uint64)
    # store stream rows: [tag, payload_bytelen, values...]
    k_s = len(first_pos)
    payload_sizes = (
        _varint_sizes(written_mat).sum(axis=1) if written_mat.size else np.zeros(k_s, dtype=np.int64)
    )
    store_stream = np.concatenate(
        [
            np.full((k_s, 1), np.uint64((OColumn.shapes << 3) | 2), dtype=np.uint64),
            payload_sizes.astype(np.uint64)[:, None],
            written_mat,
        ],
        axis=1,
    )
    store_sizes = _varint_sizes(store_stream).sum(axis=1)
    store_packed = pack_varints(store_stream.ravel())
    store_bytes = _split_bytes(store_packed, store_sizes, store_tid, n_tiles)

    # ---- feature blobs ------------------------------------------------------
    geom_words = K.weave2d(K.zigzag(qx.astype(np.int64)), K.zigzag(qy.astype(np.int64)))
    has_id = ids is not None
    flags = np.full(n, np.uint64(1 << 6))
    if has_id:
        # a null id (None/NaN) writes no id and clears flag bit 0, as the
        # generic writer does; negative longs carry u64 ids (two's complement)
        present = pd.notna(ids)
        flags |= present.astype(np.uint64)
        ids = np.where(present, ids, 0).astype(np.int64).astype(np.uint64)
    field_cols = [np.full(n, 1, dtype=np.uint64), flags]
    if has_id:
        field_cols.append(ids)
    field_cols.append(feature_value_idx.astype(np.uint64))
    field_cols.append(geom_words.astype(np.uint64))
    fields = np.stack(field_cols, axis=1)
    sizes = _varint_sizes(fields)
    if has_id:
        sizes[:, 2] *= present
    blob_lens = sizes.sum(axis=1)
    feat_stream = np.concatenate(
        [
            np.full((n, 1), 0x22, dtype=np.uint64),
            blob_lens.astype(np.uint64)[:, None],
            fields,
        ],
        axis=1,
    )
    if has_id and not present.all():
        keep = np.ones(feat_stream.shape, dtype=bool)
        keep[:, 4] = present  # the id column: tag, length, type, flags, id
        feat_stream = feat_stream[keep]
    feat_sizes = 1 + _varint_sizes(blob_lens) + blob_lens
    feat_packed = pack_varints(feat_stream.ravel())
    feat_bytes = _split_bytes(feat_packed, feat_sizes, row_tid, n_tiles)

    # ---- assembly (per-tile loop does only slicing + joins) ----------------
    head = PbfWriter()
    head.write_varint_field(1, 1)
    head.write_varint_field(2, name_idx)
    head.write_varint_field(3, K.encode_extent(extent))
    head.write_varint_field(5, 0)
    head.write_varint_field(6, mshape_idx)
    layer_head = head.commit()

    out: list[bytes] = []
    empty = num_bytes_by_col  # alias for line-length
    unsigned_b = empty.get(OColumn.unsigned)
    signed_b = empty.get(OColumn.signed)
    float_b = empty.get(OColumn.float)
    double_b = empty.get(OColumn.double)
    for t in range(n_tiles):
        layer_body = layer_head + feat_bytes[t]
        cache_parts = [str_bytes[t]]
        if unsigned_b is not None:
            cache_parts.append(unsigned_b[t])
        if signed_b is not None:
            cache_parts.append(signed_b[t])
        if float_b is not None:
            cache_parts.append(float_b[t])
        if double_b is not None:
            cache_parts.append(double_b[t])
        cache_parts.append(shapes_head_bytes)
        cache_parts.append(store_bytes[t])
        cache_body = b"".join(cache_parts)
        w = PbfWriter()
        w.write_message(4, layer_body)
        w.write_message(5, cache_body)
        out.append(w.commit())
    return out


# ---------------------------------------------------------------------------
# decode side: the bulk decoder for the same tile shape
# ---------------------------------------------------------------------------

# Field keys, each one byte on the wire.  A key written as a longer varint
# matches none of them, so its tile goes to the generic decoder.
_LAYER_KEY = (4 << 3) | 2  # a tile's OVT layer message
_CACHE_KEY = (5 << 3) | 2  # a tile's column cache message
_FEATURE_KEY = (4 << 3) | 2  # a layer's feature blob
_NAME_KEY, _EXTENT_KEY, _SHAPE_KEY, _MSHAPE_KEY = 2 << 3, 3 << 3, 5 << 3, 6 << 3
# a layer's varint fields: version, name, extent, shape, mShape
_LAYER_VARINTS = (1 << 3, _NAME_KEY, _EXTENT_KEY, _SHAPE_KEY, _MSHAPE_KEY)
_STRING_KEY = (OColumn.string << 3) | 2
_UNSIGNED_KEY = OColumn.unsigned << 3
_SIGNED_KEY = OColumn.signed << 3
_FLOAT_KEY = (OColumn.float << 3) | 5
_DOUBLE_KEY = (OColumn.double << 3) | 1
_SHAPES_KEY = (OColumn.shapes << 3) | 2
_F32 = struct.Struct("<f")
_F64 = struct.Struct("<d")
_INF = float("inf")


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 0x80:
        return b, pos + 1
    return read_varint(buf, pos)


def _json_float(v: float) -> str:
    """``json.dumps`` of one float (allow_nan, the default)."""
    if v != v:
        return "NaN"
    if v == _INF:
        return "Infinity"
    if v == -_INF:
        return "-Infinity"
    return float.__repr__(v)


# primitive -> (its column in the tile's (strings, unsigned, signed, floats,
# doubles), the ``json.dumps`` text of one entry)
_JSON_OF = {
    "string": (0, encode_basestring_ascii),
    "u64": (1, int.__repr__),
    "bool": (1, lambda v: "false" if v == 0 else "true"),
    "i64": (2, int.__repr__),
    "f32": (3, _json_float),
    "f64": (4, _json_float),
}


def _flat_shape(program: list, strings: list) -> Optional[dict]:
    """``shape.decode_shape`` of a top-level object whose values are all
    primitives, over one tile's decoded columns; None for any other shape.
    Reads as the generic decoder does: a program that ends early reads 0,
    keys are the string column's entries, and a repeated key keeps its
    first position with its last type."""
    n = len(program)
    head = program[0] if n else 0
    if head & 0b11 != 1:
        return None
    shape: dict = {}
    j = 1
    for _ in range(head >> 2):
        key = strings[program[j] if j < n else 0]
        attr = program[j + 1] if j + 1 < n else 0
        j += 2
        if attr & 0b11 < 2:  # an array or a nested object
            return None
        shape[key] = _COL_TO_PRIM[attr >> 2]
    return shape


def _point_tile_features(buf: bytes, want: Optional[set], ovt: bool) -> Optional[list]:
    """One tile -> its wanted features as (layer, extent, index, id, geometry
    word, props_json) tuples, or None when the tile is not made only of OVT
    layers of 2D single-point features with flat shapes.  Reads only what
    the generic decoder reads, and no more leniently: a tile this returns
    rows for decodes to the same rows through ``VectorTile``."""
    size = len(buf)
    layer_spans = []
    cache = None
    pos = 0
    while pos < size:
        key = buf[pos]
        length, pos = _varint(buf, pos + 1)
        if key == _LAYER_KEY:
            layer_spans.append((pos, pos + length))
        elif key == _CACHE_KEY and cache is None:
            cache = (pos, pos + length)
        else:
            return None
        pos += length
    if pos != size or (layer_spans and cache is None):
        return None

    # the column cache: every column this tile shape can reference
    columns: tuple = ([], [], [], [], [])
    strings, unsigned, signed, floats, doubles = columns
    shapes: list = []
    pos, end = cache or (0, 0)
    while pos < end:
        key = buf[pos]
        if key == _STRING_KEY:
            length, pos = _varint(buf, pos + 1)
            strings.append(buf[pos : pos + length].decode("utf-8"))
            pos += length
        elif key == _SHAPES_KEY:
            length, pos = _varint(buf, pos + 1)
            body = buf[pos : pos + length]
            # all bytes below 0x80: each one is a whole varint
            shapes.append(list(body) if body.isascii() else unpack_varints_scalar(body))
            pos += length
        elif key == _UNSIGNED_KEY:
            v, pos = _varint(buf, pos + 1)
            unsigned.append(v)
        elif key == _SIGNED_KEY:
            v, pos = _varint(buf, pos + 1)
            signed.append(zagzig64(v))
        elif key == _FLOAT_KEY:
            floats.append(_F32.unpack_from(buf, pos + 1)[0])
            pos += 5
        elif key == _DOUBLE_KEY:
            doubles.append(_F64.unpack_from(buf, pos + 1)[0])
            pos += 9
        else:
            return None
    if pos != end:
        return None

    out: list = []
    texts: dict = {}  # primitive -> the JSON text of each column entry
    names = set()
    for start, end in layer_spans:
        name, extent, shape_i, mshape_i = "", 4096, -1, -1
        feats = []
        pos = start
        while pos < end:
            key = buf[pos]
            if key == _FEATURE_KEY:
                length, pos = _varint(buf, pos + 1)
                feats.append((pos, pos + length))
                pos += length
            elif key in _LAYER_VARINTS:
                v, pos = _varint(buf, pos + 1)
                if key == _NAME_KEY:
                    name = strings[v]
                elif key == _EXTENT_KEY:
                    extent = K.decode_extent(v)
                elif key == _SHAPE_KEY:
                    shape_i = v
                elif key == _MSHAPE_KEY:
                    mshape_i = v
            else:
                return None
        if pos != end or name in names:
            return None
        names.add(name)
        if not feats or not ovt or (want is not None and name not in want):
            continue
        shape = _flat_shape(shapes[shape_i], strings)
        if shape is None or (mshape_i != -1 and _flat_shape(shapes[mshape_i], strings) is None):
            return None
        # per key: its '"key": ' prefix, and its column's texts (None: null)
        slots = []
        for k, t in shape.items():
            col = None
            if t != "null":
                col = texts.get(t)
                if col is None:
                    i, text = _JSON_OF[t]
                    col = texts[t] = list(map(text, columns[i]))
            slots.append((encode_basestring_ascii(k) + ": ", col))
        for i, (pos, fend) in enumerate(feats):
            if buf[pos] != 1 or buf[pos + 1] & ~1 != 64:  # 2D, one point, id or not
                return None
            fid = None
            if buf[pos + 1] & 1:
                fid, pos = _varint(buf, pos + 2)
                if fid >> 64:
                    return None
                if fid >> 63:
                    fid -= 1 << 64
            else:
                pos += 2
            value_i, pos = _varint(buf, pos)
            word, pos = _varint(buf, pos)
            if pos > fend:
                return None
            store = shapes[value_i]
            n_store = len(store)
            parts = []
            j = 0
            for prefix, col in slots:
                if col is None:
                    parts.append(prefix + "null")
                else:
                    parts.append(prefix + col[store[j] if j < n_store else 0])
                    j += 1
            out.append((name, extent, i, fid, word & 0xFFFFFFFF, "{" + ", ".join(parts) + "}"))
    return out


def decode_point_layer_tiles_bulk(
    blobs: list, layers: Optional[list] = None, ovt: bool = True
) -> tuple:
    """Decode the features of every tile of ``blobs`` made only of OVT
    layers of 2D single-point features with flat primitive shapes (every
    tile :func:`encode_point_layer_tiles_bulk` writes, and the generic
    writer's tiles of such layers) in one pass.

    Python walks only each tile's protobuf framing; the geometry words of
    the whole batch are unwoven and zig-zag decoded in one numpy pass, and
    ``props_json`` is joined from column entries JSON-encoded once per
    tile, equal byte for byte to ``json.dumps(feature.properties,
    default=str)``.  ``layers`` keeps only the named layers; ``ovt=False``
    keeps none (the tile is still read).

    Returns ``(ok, counts, columns)``: ``ok[t]`` says whether tile t was
    decoded here (any other tile, a corrupt one included, is left to the
    generic ``VectorTile`` path), ``counts[t]`` is its feature count (0
    where not ok), and ``columns`` holds the features of the ok tiles in
    tile order, then feature order: ``layer``, ``extent``,
    ``feature_index``, ``id`` (long; a u64 id at or above 2**63 in two's
    complement), ``geom_xy`` (list<int32> [x, y]) and ``props_json``, as
    Arrow arrays."""
    want = set(layers) if layers else None
    ok = np.zeros(len(blobs), dtype=bool)
    counts = np.zeros(len(blobs), dtype=np.int64)
    feats: list = []
    for t, blob in enumerate(blobs):
        try:
            tile = _point_tile_features(blob, want, ovt)
        except DECODE_ERROR_CLASSES:
            tile = None
        if tile is not None:
            ok[t] = True
            counts[t] = len(tile)
            feats.extend(tile)
    n = len(feats)
    names, extents, index, ids, words, props = zip(*feats) if n else ([],) * 6
    a, b = K.unweave2d(np.array(words, dtype=np.uint64))
    xy = np.empty(2 * n, dtype=np.int32)
    xy[0::2] = K.zagzig(a)
    xy[1::2] = K.zagzig(b)
    columns = {
        "layer": pa.array(names, pa.string()),
        "extent": pa.array(extents, pa.int32()),
        "feature_index": pa.array(index, pa.int32()),
        "id": pa.array(ids, pa.int64()),
        "geom_xy": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)), pa.array(xy)
        ),
        "props_json": pa.array(props, pa.string()),
    }
    return ok, counts, columns
