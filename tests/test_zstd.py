"""zstd decoder tests (sources/zstd.py): differential certification
against REAL frames from pyarrow's bundled libzstd encoder (levels,
sizes, data shapes), hand-built frames for paths encoders rarely emit
(RLE blocks, skippable frames, checksums, frame concatenation), xxh64
published vectors, error paths, and the integration points (zarr v2
compressor, zarr v3 codec chain, blosc cname, HDF5 filter 32015)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bcdp_spark.sources import codecs
from bcdp_spark.sources.zstd import xxh64, zstd_decompress_pure

pa = pytest.importorskip("pyarrow")
_Z = pa.Codec("zstd")


def _c(data: bytes, level: int | None = None) -> bytes:
    codec = _Z if level is None else pa.Codec("zstd", compression_level=level)
    return bytes(codec.compress(data))


# ---------------------------------------------------------------- xxh64


def test_xxh64_published_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert (
        xxh64(b"Nobody inspects the spammish repetition")
        == 0xFBCEA83C8A378BF1
    )


# ------------------------------------------------- differential vs libzstd


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_levels_and_shapes(level):
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
        assert zstd_decompress_pure(_c(data, level), len(data)) == data


def test_differential_fuzz():
    """Mixed word-soup / numeric / random payloads across levels —
    exercises 1- and 4-stream Huffman, FSE-compressed and predefined
    sequence tables, treeless repeats, repeat offsets."""
    for level in (1, 6, 12, 22):
        for seed in range(5):
            rng = np.random.RandomState(seed * 31 + level)
            n = int(rng.randint(1, 150000))
            kind = seed % 3
            if kind == 0:
                words = [rng.bytes(int(rng.randint(2, 16)))
                         for _ in range(10)]
                data = b"".join(
                    words[int(rng.randint(0, 10))] for _ in range(n // 6)
                )
            elif kind == 1:
                data = np.round(rng.randn(n // 8), 3).tobytes()
            else:
                data = rng.bytes(n)
            assert zstd_decompress_pure(_c(data, level), len(data)) == data


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=20000), st.sampled_from([1, 3, 19]))
def test_roundtrip_property(data, level):
    assert zstd_decompress_pure(_c(data, level), len(data)) == data


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
    assert zstd_decompress_pure(f) == b"abczzzzz!"


def test_content_size_mismatch_raises():
    f = _frame([(0, b"abc")], fhd=0x20, fcs=bytes([7]))
    with pytest.raises(ValueError, match="content size mismatch"):
        zstd_decompress_pure(f)


def test_checksum_verified():
    body = b"checksummed payload"
    good = struct.pack("<I", xxh64(body) & 0xFFFFFFFF)
    f = _frame([(0, body)], checksum=good,
               fhd=0x24, fcs=bytes([len(body)]))
    assert zstd_decompress_pure(f) == body
    bad = struct.pack("<I", (xxh64(body) ^ 1) & 0xFFFFFFFF)
    f2 = _frame([(0, body)], checksum=bad,
                fhd=0x24, fcs=bytes([len(body)]))
    with pytest.raises(ValueError, match="checksum mismatch"):
        zstd_decompress_pure(f2)
    assert zstd_decompress_pure(f2, verify_checksum=False) == body


def test_skippable_and_concatenated_frames():
    skip = struct.pack("<II", 0x184D2A53, 4) + b"meta"
    data1, data2 = b"first frame " * 30, b"second frame " * 30
    blob = skip + _c(data1) + skip + _c(data2)
    assert zstd_decompress_pure(blob) == data1 + data2


def test_bad_magic_and_dict_raise():
    with pytest.raises(ValueError, match="bad magic"):
        zstd_decompress_pure(b"\x00\x01\x02\x03rest")
    # frame header demanding a dictionary
    f = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 0])
    with pytest.raises(NotImplementedError, match="dictionary"):
        zstd_decompress_pure(f)


def test_expected_size_enforced():
    with pytest.raises(ValueError, match="output size"):
        zstd_decompress_pure(_c(b"abcdef"), 5)


def test_dispatcher_matches_pure():
    """The codec table's zstd (libzstd when the size is known, the pure
    decoder otherwise) returns byte-identical output to the pure spec
    implementation on every shape, and fails loudly naming zstd."""
    rng = np.random.RandomState(42)
    for data in (b"", b"abc" * 1000, rng.bytes(10000),
                 np.round(rng.randn(5000), 2).tobytes()):
        comp = _c(data)
        assert codecs.decode("zstd", comp, len(data)) == data
        assert codecs.decode("zstd", comp) == data  # no-size → pure path
        assert zstd_decompress_pure(comp) == data
    # concatenated frames with a known total: whichever decoder takes
    # them, the output is the whole concatenation
    d1, d2 = b"x" * 500, b"y" * 700
    blob = _c(d1) + _c(d2)
    assert codecs.decode("zstd", blob, 1200) == d1 + d2
    for bad, n in ((blob, 1201), (blob, 1199), (blob[:-4], 1200)):
        with pytest.raises(ValueError, match="zstd"):
            codecs.decode("zstd", bad, n)


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


def test_read_num_seq_carry():
    """RFC 8878 long-form sequence count: byte0=255 means byte1 +
    (byte2<<8) + 0x7F00 — addition with carry, not OR (a block can
    legally hold >= 32512 sequences)."""
    from bcdp_spark.sources.zstd import _read_num_seq

    assert _read_num_seq(bytes([42])) == (42, 1)
    assert _read_num_seq(bytes([128 + 3, 7])) == ((3 << 8) | 7, 2)
    assert _read_num_seq(bytes([255, 0xA0, 0x0D])) == (
        0xA0 + (0x0D << 8) + 0x7F00, 3)  # 36000, not 32672
    assert _read_num_seq(bytes([255, 0xFF, 0xFF])) == (
        0xFFFF + 0x7F00, 3)
