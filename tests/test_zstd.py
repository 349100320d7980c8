"""zstd tests: the codec table's zstd (``codecs.decode("zstd", ...)``,
pyarrow's streaming libzstd) on REAL frames from libzstd's encoder
(levels, sizes, data shapes), hand-built frames for paths encoders
rarely emit (RLE blocks, skippable frames, checksums, frame
concatenation), error paths, and the integration points (zarr v2
compressor, zarr v3 codec chain, blosc cname, HDF5 filter 32015)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from bcdp_spark.sources import codecs

pa = pytest.importorskip("pyarrow")
_Z = pa.Codec("zstd")


def _c(data: bytes, level: int | None = None) -> bytes:
    codec = _Z if level is None else pa.Codec("zstd", compression_level=level)
    return bytes(codec.compress(data))


def _d(data: bytes, size: int | None = None) -> bytes:
    return codecs.decode("zstd", data, size)


# ------------------------------------------------------ libzstd frames


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_levels_and_shapes(level):
    """Frames from every level, sized and unsized, including empty,
    incompressible and multi-block payloads."""
    rng = np.random.RandomState(level)
    cases = [
        b"",
        b"z",
        b"the quick brown fox jumps over the lazy dog. " * 200,
        b"\x00" * 70000,
        rng.bytes(5000),  # incompressible
        np.round(rng.randn(30000), 2).tobytes(),
        (np.arange(200000) % 251).astype(np.uint8).tobytes(),  # multi-block
    ]
    for data in cases:
        comp = _c(data, level)
        assert _d(comp, len(data)) == data
        assert _d(comp) == data


# ------------------------------------------------------ hand-built frames


def _frame(blocks: list[tuple[int, bytes]], checksum: bytes | None = None,
           fhd: int = 0x20, fcs: bytes = b"") -> bytes:
    """Minimal single-segment frame from (block_type, payload) pairs;
    payload of an RLE block is (byte, size)."""
    out = struct.pack("<I", 0xFD2FB528) + bytes([fhd]) + fcs
    for i, (btype, payload) in enumerate(blocks):
        last = 1 if i == len(blocks) - 1 else 0
        if btype == 1:
            byte, size = payload
            out += struct.pack("<I", last | (1 << 1) | (size << 3))[:3]
            out += bytes([byte])
        else:
            out += struct.pack(
                "<I", last | (btype << 1) | (len(payload) << 3)
            )[:3]
            out += payload
    return out + (checksum or b"")


def test_raw_and_rle_blocks():
    f = _frame([(0, b"abc"), (1, (0x7A, 5)), (0, b"!")],
               fhd=0x20, fcs=bytes([9]))
    assert _d(f) == b"abczzzzz!"
    assert _d(f, 9) == b"abczzzzz!"


def test_content_size_mismatch_raises():
    f = _frame([(0, b"abc")], fhd=0x20, fcs=bytes([7]))
    with pytest.raises(ValueError, match="zstd"):
        _d(f)


# low 32 bits of XXH64(b"checksummed payload", seed 0): the frame's
# content checksum (RFC 8878 section 3.1.1)
_CHECKSUM = 0x4C284C1D


def test_checksum_verified():
    body = b"checksummed payload"
    good = struct.pack("<I", _CHECKSUM)
    f = _frame([(0, body)], checksum=good,
               fhd=0x24, fcs=bytes([len(body)]))
    assert _d(f) == body
    bad = struct.pack("<I", _CHECKSUM ^ 1)
    f2 = _frame([(0, body)], checksum=bad,
                fhd=0x24, fcs=bytes([len(body)]))
    with pytest.raises(ValueError, match="zstd"):
        _d(f2)


def test_skippable_and_concatenated_frames():
    skip = struct.pack("<II", 0x184D2A53, 4) + b"meta"
    data1, data2 = b"first frame " * 30, b"second frame " * 30
    blob = skip + _c(data1) + skip + _c(data2)
    assert _d(blob) == data1 + data2
    assert _d(blob, len(data1 + data2)) == data1 + data2


def test_bad_magic_and_dict_raise():
    with pytest.raises(ValueError, match="zstd"):
        _d(b"\x00\x01\x02\x03rest")
    # frame header demanding a dictionary
    f = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 0])
    with pytest.raises(ValueError, match="zstd"):
        _d(f)


def test_expected_size_enforced():
    with pytest.raises(ValueError, match="zstd"):
        _d(_c(b"abcdef"), 5)


def test_decode_sized_unsized_and_concatenated():
    """Sized and unsized decodes agree on every shape; concatenated
    frames decode whole; a wrong size or a truncated frame fails
    naming zstd."""
    rng = np.random.RandomState(42)
    for data in (b"", b"abc" * 1000, rng.bytes(10000),
                 np.round(rng.randn(5000), 2).tobytes()):
        comp = _c(data)
        assert _d(comp, len(data)) == data
        assert _d(comp) == data
    d1, d2 = b"x" * 500, b"y" * 700
    blob = _c(d1) + _c(d2)
    assert _d(blob, 1200) == d1 + d2
    for bad, n in ((blob, 1201), (blob, 1199), (blob[:-4], 1200),
                   (blob[:-4], None), (blob + b"garbage!", None)):
        with pytest.raises(ValueError, match="zstd"):
            _d(bad, n)


# ------------------------------------------------------------ integrations


def test_blosc_cname_zstd_roundtrip():
    from bcdp_spark.sources.blosc import blosc_compress, blosc_decompress

    rng = np.random.RandomState(8)
    data = np.round(rng.randn(4096), 2).astype("<f8").tobytes()
    for shuffle in (True, False):
        frame = blosc_compress(data, typesize=8, cname="zstd",
                               shuffle=shuffle)
        assert blosc_decompress(frame) == data


def test_hdf5_zstd_filter_roundtrip():
    from bcdp_spark.sources.hdf5 import read_hdf5, write_hdf5

    rng = np.random.RandomState(10)
    data = np.round(rng.randn(10, 5, 6), 2)
    raw = write_hdf5(
        {"pr": (["t", "a", "o"], data, {})},
        chunk={"pr": (4, 5, 6)},
        zstd=True, gzip_level=None, shuffle=True,
    )
    h5 = read_hdf5(raw)
    assert 32015 in [f[0] for f in h5.datasets["pr"].filters]
    np.testing.assert_array_equal(h5.read("pr"), data)


def test_zarr_v2_zstd_compressor(tmp_path):
    from bcdp_spark.sources.zarr import (
        decode_chunk_bytes,
        read_array_meta,
        write_zarr,
    )

    store = str(tmp_path / "s.zarr")
    data = (np.arange(240, dtype="<f8") * 0.25).reshape(20, 12)
    write_zarr(
        store,
        dims={"y": 20, "x": 12},
        variables={"v": (["y", "x"], data, {})},
        chunks={"v": (8, 5)},
        compressor={"id": "zstd", "level": 3},
    )
    meta = read_array_meta(store, "v")
    assert meta.compressor["id"] == "zstd"
    import os

    chunk = open(os.path.join(store, "v", "0.0"), "rb").read()
    got = decode_chunk_bytes(chunk, meta)
    np.testing.assert_array_equal(got, data[:8, :5])


def test_zarr_v3_zstd_codec(tmp_path, spark):
    """zarr-python v3's DEFAULT chain (bytes -> zstd), through the full
    load_zarr read path."""
    from bcdp_spark.sources.zarr import load_zarr, write_zarr_v3

    store = str(tmp_path / "v3.zarr")
    nt, na, no = 10, 3, 4
    t = np.arange(nt)[:, None, None]
    a = np.arange(na)[None, :, None]
    o = np.arange(no)[None, None, :]
    data = 0.5 * (t * 100 + a * 10 + o)
    write_zarr_v3(
        store,
        dims={"time": nt, "lat": na, "lon": no},
        variables={
            "time": (["time"], np.arange(nt, dtype="<f8"),
                     {"units": "days since 2001-01-01"}),
            "lat": (["lat"], np.linspace(-30, 30, na), {}),
            "lon": (["lon"], np.arange(no) * 90.0, {}),
            "pr": (["time", "lat", "lon"], data, {}),
        },
        chunks={"pr": (4, 3, 4)},
        codec="zstd",
    )
    pdf = load_zarr(spark, store).toPandas()
    assert len(pdf) == data.size
    assert pdf.value.sum() == pytest.approx(data.sum())

