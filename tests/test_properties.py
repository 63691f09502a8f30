"""Property-based (hypothesis) round-trips for the wire kernels and codec.

The unit suite pins the reference's published vectors; these pin the
ALGEBRA — encode/decode inverses over the whole legal domain, so any
refactor of the bit math gets hammered with adversarial inputs."""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from open_vector_tile_spark.codec import kernels as K
from open_vector_tile_spark.codec.pbf import (
    _unpack_varints_numpy,
    pack_varints,
    read_varint,
    unpack_varints,
    unpack_varints_scalar,
    write_varint,
    zagzig64,
    zigzag64,
)

# JS 32-bit signed domain (the reference runs on |0 semantics)
i32 = st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1)
# delta streams zigzag each DELTA through 32-bit math, so consecutive values
# must stay within ±2^31 of each other; ±2^30 values guarantee it
i30 = st.integers(min_value=-(1 << 30), max_value=(1 << 30) - 1)
u16 = st.integers(min_value=0, max_value=(1 << 16) - 1)  # weave per-axis width
u64 = st.integers(min_value=0, max_value=(1 << 64) - 1)
i64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@given(i32)
def test_zigzag_roundtrip(n):
    assert K.zagzig(K.zigzag(n)) == n
    assert K.zagzig_scalar(K.zigzag_scalar(n)) == n


@given(st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=(1 << 29) - 1))
def test_command_roundtrip(cmd, length):
    c, ln = K.command_decode(K.command_encode(cmd, length))
    assert (c, ln) == (cmd, length)


@given(u16, u16)
def test_weave2d_roundtrip(a, b):
    x, y = K.unweave2d(K.weave2d(a, b))
    assert (int(x), int(y)) == (a, b)
    assert K.weave2d_scalar(a, b) == int(K.weave2d(a, b))


@given(u16, u16, u16)
def test_weave3d_roundtrip(a, b, c):
    x, y, z = K.unweave3d(K.weave3d(a, b, c))
    assert (int(x), int(y), int(z)) == (a, b, c)
    assert K.weave3d_scalar(a, b, c) == int(K.weave3d(a, b, c))


@given(st.lists(i30, min_size=1, max_size=60))
def test_delta_roundtrip(vals):
    assert [int(v) for v in K.delta_decode(K.delta_encode(vals))] == vals


@given(st.lists(st.integers(min_value=0, max_value=1 << 40), min_size=1, max_size=60))
def test_delta_sorted_roundtrip(vals):
    vals = sorted(vals)
    assert [int(v) for v in K.delta_decode_sorted(K.delta_encode_sorted(vals))] == vals


# weave-and-delta words carry zigzag(delta) in 16 bits per axis, so legal
# sequences keep every delta (and the first value) within [-32768, 32767] —
# exactly what extent-quantized tile coordinates satisfy at any extent up to
# the maximum 16384.  Coordinates in [0, 16384] guarantee it.
coord16 = st.integers(min_value=0, max_value=16384)


@given(
    st.lists(coord16, min_size=1, max_size=40),
    st.lists(coord16, min_size=1, max_size=40),
)
def test_weave_delta_roundtrip(xs, ys):
    n = min(len(xs), len(ys))
    xs, ys = xs[:n], ys[:n]
    gx, gy = K.unweave_and_delta_decode(K.weave_and_delta_encode(xs, ys))
    assert [int(v) for v in gx] == xs and [int(v) for v in gy] == ys


@settings(max_examples=200)
@given(st.lists(st.one_of(st.integers(0, 127), u64), min_size=1, max_size=120))
def test_packed_varint_scalar_equals_numpy(vals):
    """For any well-formed packed stream, on either side of the crossover,
    the scalar and numpy unpackers agree with each other and the input."""
    body = pack_varints(vals)
    assert unpack_varints_scalar(body) == vals
    assert _unpack_varints_numpy(body).tolist() == vals
    assert unpack_varints(body).tolist() == vals


@given(i64)
def test_zigzag64_roundtrip(n):
    assert zagzig64(zigzag64(n)) == n


@given(u64)
def test_varint_roundtrip(v):
    buf = bytearray()
    write_varint(buf, v)
    got, pos = read_varint(bytes(buf), 0)
    assert got == v and pos == len(buf)


@given(st.floats(min_value=0.0, max_value=1.0e4, allow_nan=False))
def test_offset_roundtrip_quantized(off):
    # offsets quantize by floor(offset*1000): one-sided error < 1/1000
    dec = float(K.decode_offset(K.encode_offset(off)))
    assert 0.0 <= off - dec < 1e-3 + 1e-9


@given(st.sampled_from([512, 1024, 2048, 4096, 8192, 16384]))
def test_extent_roundtrip(extent):
    assert K.decode_extent(K.encode_extent(extent)) == extent


@given(st.floats(min_value=-180, max_value=180, allow_nan=False))
def test_lon_quantization_error_bound(lon):
    q = K.quantize_lon(lon)
    assert abs(K.dequantize_lon(q) - lon) <= 360.0 / (1 << 24) + 1e-12


@given(st.floats(min_value=-90, max_value=90, allow_nan=False))
def test_lat_quantization_error_bound(lat):
    q = K.quantize_lat(lat)
    assert abs(K.dequantize_lat(q) - lat) <= 180.0 / (1 << 24) + 1e-12


# ---------------------------------------------------------------------------
# whole-tile property: random point features survive the codec byte-for-byte
# ---------------------------------------------------------------------------

props_st = st.dictionaries(
    st.sampled_from(["name", "rank", "flag", "score"]),
    st.one_of(
        st.text(max_size=8),
        st.integers(min_value=0, max_value=1 << 30),
        st.booleans(),
    ),
    max_size=3,
)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=4095),
                    st.integers(min_value=0, max_value=4095),
                ),
                min_size=1,
                max_size=6,
            ),
            props_st,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_point_tile_roundtrip_property(features):
    """Arbitrary point features (uniform property keys per tile are NOT
    required — the layer shape unions keys) encode -> decode -> re-encode
    byte-identically via the lossless IR converter."""
    from open_vector_tile_spark.codec import (
        VectorTile,
        ovt_tile_to_base_layers,
        write_ov_tile,
    )
    from open_vector_tile_spark.codec.feature import BaseFeature
    from open_vector_tile_spark.codec.layer import BaseLayer

    layer = BaseLayer(name="t", extent=4096)
    for i, (pts, props) in enumerate(features):
        layer.add_feature(
            BaseFeature(ftype=1, geometry=[tuple(p) for p in pts], properties=props, id=i)
        )
    blob = write_ov_tile([layer])
    t = VectorTile(blob)
    assert len(t.layers["t"]) == len(features)
    again = write_ov_tile(ovt_tile_to_base_layers(t))
    assert again == blob
    # decoded geometry matches input exactly (integer coordinates)
    for i, (pts, _props) in enumerate(features):
        # features are type-sorted stably; all ftype=1 here -> order kept
        f = t.layers["t"].feature(i)
        got = [tuple(int(c) for c in p) for p in f.load_points()]
        assert got == [tuple(p) for p in pts]
