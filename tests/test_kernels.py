"""Kernel unit vectors ported (constants only) from the reference tests/spec.

Sources: /root/reference/tests/util.test.ts:28-66,
/root/reference/vector-tile-spec/1.0.0/README.md:206-216,270-281.
"""

import numpy as np
import pytest

from open_vector_tile_spark.codec import kernels as K
from open_vector_tile_spark.codec import pbf


def test_weave_and_delta_encode_spec_vector():
    # spec README.md:206-216
    out = K.weave_and_delta_encode([55, 11, 22, 23], [22, 33, 44, 42])
    assert out.tolist() == [7412, 4925, 828, 14]
    xs, ys = K.unweave_and_delta_decode(out)
    assert xs.tolist() == [55, 11, 22, 23]
    assert ys.tolist() == [22, 33, 44, 42]


def test_weave_and_delta_encode_3d_spec_vector():
    # spec README.md:270-281
    out = K.weave_and_delta_encode_3d([55, 11, 22, 23], [22, 33, 44, 42], [1, 2, 3, 4])
    assert out.tolist() == [362216, 274681, 12536, 58]
    xs, ys, zs = K.unweave_and_delta_decode_3d(out)
    assert xs.tolist() == [55, 11, 22, 23]
    assert ys.tolist() == [22, 33, 44, 42]
    assert zs.tolist() == [1, 2, 3, 4]


def test_quantize_lonlat():
    # tests/util.test.ts:30-33
    assert int(K.quantize_lon(-179.6765432)) == 15074
    assert int(K.quantize_lat(-89.235657434254)) == 71242
    assert int(K.quantize_lon(-180)) == 0
    assert int(K.quantize_lat(-90)) == 0
    assert int(K.quantize_lon(180)) == 16777215
    assert int(K.quantize_lat(90)) == 16777215
    # round-trip precision ~2.4m lon / ~1.2m lat
    for lon in (-179.6765432, 0.0, 45.123456, 179.99999):
        assert abs(float(K.dequantize_lon(K.quantize_lon(lon))) - lon) < 0.000022
    for lat in (-89.235657434254, 0.0, 45.123456, 84.99999):
        assert abs(float(K.dequantize_lat(K.quantize_lat(lat))) - lat) < 0.000011


def test_quantize_bbox():
    # tests/util.test.ts:55-57
    assert list(K.quantize_bbox([-180, -90, 180, 90])) == [0] * 6 + [255] * 6
    rt = K.dequantize_bbox(K.quantize_bbox([-120.5, -45.5, 120.5, 45.5]))
    assert rt == pytest.approx([-120.5, -45.5, 120.5, 45.5], abs=3e-5)
    blob3d = K.quantize_bbox([-120.5, -45.5, 120.5, 45.5, -10.25, 1000.5])
    assert len(blob3d) == 20
    rt3d = K.dequantize_bbox(blob3d)
    assert rt3d[4] == pytest.approx(-10.25)
    assert rt3d[5] == pytest.approx(1000.5)


def test_command_encode_decode():
    assert int(K.command_encode(1, 1)) == 9
    assert int(K.command_encode(2, 5)) == 42
    assert int(K.command_encode(7, 1)) == 15
    cmd, ln = K.command_decode(42)
    assert (int(cmd), int(ln)) == (2, 5)


def test_zigzag_roundtrip():
    vals = np.array([0, -1, 1, -2, 2, 2**30, -(2**30), 16383, -16384])
    assert K.zagzig(K.zigzag(vals)).tolist() == vals.tolist()
    assert K.zigzag(0) == 0 and K.zigzag(-1) == 1 and K.zigzag(1) == 2


def test_weave2d_exhaustive_edges():
    a = np.array([0, 1, 0xFFFF, 0x8000, 12345])
    b = np.array([0, 0xFFFF, 1, 0x8000, 54321])
    words = K.weave2d(a, b)
    ra, rb = K.unweave2d(words)
    assert ra.tolist() == a.tolist() and rb.tolist() == b.tolist()
    # scalar twins (single-point decode) match the kernels
    assert [K.unweave2d_scalar(w) for w in words.tolist()] == list(zip(ra.tolist(), rb.tolist()))
    for comp in (ra, rb):
        assert [K.zagzig_scalar(v) for v in comp.tolist()] == K.zagzig(comp).tolist()


def test_weave3d_edges():
    a = np.array([0, 0xFFFF, 1, 777])
    b = np.array([0xFFFF, 0, 2, 888])
    c = np.array([1, 0xFFFF, 3, 999])
    words = K.weave3d(a, b, c)
    ra, rb, rc = K.unweave3d(words)
    assert ra.tolist() == a.tolist()
    assert rb.tolist() == b.tolist()
    assert rc.tolist() == c.tolist()
    assert [K.unweave3d_scalar(w) for w in words.tolist()] == list(
        zip(ra.tolist(), rb.tolist(), rc.tolist())
    )
    for comp in (ra, rb, rc):
        assert [K.zagzig_scalar(v) for v in comp.tolist()] == K.zagzig(comp).tolist()


def test_delta_encodings():
    vals = [5, 10, 7, 7, 100, -3]
    assert K.delta_decode(K.delta_encode(vals)).tolist() == vals
    svals = [1, 5, 7, 30, 1000]
    assert K.delta_decode_sorted(K.delta_encode_sorted(svals)).tolist() == svals


def test_offsets_and_extents():
    assert int(K.encode_offset(1.2345)) == 1234
    assert float(K.decode_offset(1234)) == 1.234
    assert [K.encode_extent(e) for e in (512, 1024, 2048, 4096, 8192, 16384)] == [0, 1, 2, 3, 4, 5]
    assert [K.decode_extent(i) for i in range(6)] == [512, 1024, 2048, 4096, 8192, 16384]
    with pytest.raises(ValueError):
        K.encode_extent(1000)


def test_grid_remap():
    data = np.array([-500.0, 0.0, 499.9, 1000.0])
    r = K.remap_value(data, -500, 1000, 8192)
    back = K.unmap_value(r, -500, 1000, 8192)
    assert np.abs(back - data).max() <= (1000 - (-500)) / 8192 / 2 + 1e-9


def test_elevation_converters():
    assert float(K.convert_terrarium_elevation(128, 0, 0)) == 128 * 256 - 32768
    assert float(K.convert_mapbox_elevation(1, 134, 160)) == pytest.approx(
        -10000 + (65536 + 134 * 256 + 160) * 0.1
    )


def test_varint_pack_roundtrip():
    rng = np.random.RandomState(42)
    vals = np.concatenate(
        [
            rng.randint(0, 128, 50),
            rng.randint(0, 2**28, 50),
            rng.randint(0, 2**62, 50),
            [0, 1, 127, 128, 16383, 16384, 2**63 - 1],
        ]
    ).astype(np.uint64)
    assert pbf.unpack_varints(pbf.pack_varints(vals)).tolist() == vals.tolist()
    # bodies on both sides of the scalar/numpy crossover, and right at it
    cross = pbf.SCALAR_VARINT_MAX_BYTES
    for nbytes in (0, 1, 3, cross - 1, cross, cross + 1, 4 * cross):
        wide = [2**40, 300] * (nbytes // 16)  # 6 + 2 bytes per pair
        vals = wide + [5] * (nbytes - 8 * (nbytes // 16))  # 1-byte tail
        body = pbf.pack_varints(vals)
        assert len(body) == nbytes
        assert pbf.unpack_varints(body).tolist() == vals
        assert pbf.unpack_varints_scalar(body) == vals
    # corrupt bodies stay loud on both paths: a trailing partial varint, a
    # varint longer than 10 bytes and a 10-byte varint of 2**64 or more
    # raise the typed decode error
    for pad in (b"", b"\x01" * 4 * cross):
        for body in (
            b"\x05\x81",
            b"\x80",
            b"\xff" * 10 + b"\x01",
            b"\x81" * 11 + b"\x00",
            b"\xff" * 9 + b"\x7f",
            b"\x80" * 9 + b"\x02",
        ):
            with pytest.raises(pbf.TileDecodeError):
                pbf.unpack_varints(pad + body)
            with pytest.raises(pbf.TileDecodeError):
                pbf.unpack_varints_scalar(pad + body)
        # ten bytes is the longest legal varint (2**64 - 1)
        body = pad + b"\xff" * 9 + b"\x01"
        assert pbf.unpack_varints(body).tolist()[-1] == 2**64 - 1
        assert pbf.unpack_varints_scalar(body)[-1] == 2**64 - 1


def test_pbf_fields_roundtrip():
    w = pbf.PbfWriter()
    w.write_varint_field(1, 300)
    w.write_svarint_field(2, -42)
    w.write_float_field(3, 1.5)
    w.write_double_field(4, -2.25)
    w.write_string_field(5, "héllo")
    w.write_bytes_field(6, b"\x00\xff")
    w.write_packed_varint(7, [1, 2, 300])
    got = {}
    r = pbf.PbfReader(w.commit())

    def handler(fld, wt, reader):
        if fld == 1:
            got["v"] = reader.read_varint()
        elif fld == 2:
            got["s"] = reader.read_svarint()
        elif fld == 3:
            got["f"] = reader.read_float()
        elif fld == 4:
            got["d"] = reader.read_double()
        elif fld == 5:
            got["str"] = reader.read_string()
        elif fld == 6:
            got["b"] = reader.read_bytes()
        elif fld == 7:
            got["p"] = reader.read_packed_varint().tolist()

    r.read_fields(handler)
    assert got == {
        "v": 300,
        "s": -42,
        "f": 1.5,
        "d": -2.25,
        "str": "héllo",
        "b": b"\x00\xff",
        "p": [1, 2, 300],
    }


def test_transform_point_js_round():
    # JS Math.round is half-toward-+inf
    assert int(K.transform_point(0.5 / 4096, 4096)) == 1
    assert K.transform_point([0.25, 0.75], 4096).tolist() == [1024, 3072]
