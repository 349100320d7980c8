"""The codec table (sources/codecs.py): every codec round trips through
``encode``/``decode``, short or corrupt payloads raise ``ValueError``
naming the codec, unknown names raise ``NotImplementedError`` naming
them, and the numcodecs-LZ4 Zarr framing cannot hide a short block."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from bcdp_spark.sources import codecs

_DATA = np.round(np.random.default_rng(5).normal(size=2000), 1).tobytes()


@pytest.mark.parametrize("name", sorted(codecs.CODECS))
def test_every_codec_round_trips(name):
    comp = codecs.encode(name, _DATA)
    assert codecs.decode(name, comp, len(_DATA)) == _DATA
    assert codecs.decode(name, codecs.encode(name, b""), 0) == b""


@pytest.mark.parametrize("name", sorted(codecs.CODECS))
def test_corrupt_or_short_payload_names_the_codec(name):
    comp = codecs.encode(name, _DATA)
    with pytest.raises(ValueError, match=name):
        codecs.decode(name, comp, len(_DATA) + 1)
    with pytest.raises(ValueError, match=name):
        codecs.decode(name, comp[: len(comp) // 2], len(_DATA))


def test_unknown_codec_names_itself():
    with pytest.raises(NotImplementedError, match="brotli"):
        codecs.decode("brotli", b"x", 1)
    with pytest.raises(NotImplementedError, match="brotli"):
        codecs.encode("brotli", b"x")


def test_levels_reach_the_codec():
    fast = codecs.encode("zlib", _DATA, 1)
    best = codecs.encode("zlib", _DATA, 9)
    assert fast != best
    assert codecs.decode("zlib", fast, len(_DATA)) == _DATA
    assert codecs.encode("gzip", _DATA, 1) == codecs.encode("gzip", _DATA, 1)


def test_oversize_zstd_frame_fails_within_the_container_size():
    """A frame that decodes to far more than its container says fails
    after reading size + 1 bytes, not after building the whole output."""
    import tracemalloc

    frame = codecs.encode("zstd", bytes(64 << 20))
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="zstd"):
            codecs.decode("zstd", frame, 4096)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


def test_zarr_lz4_chunk_with_overstated_prefix_raises(tmp_path):
    """numcodecs.LZ4 stores a LE uint32 size before the block; a prefix
    larger than the block decodes to must fail, not return the
    uninitialised tail of the buffer pyarrow allocated."""
    from bcdp_spark.sources.zarr import (
        decode_chunk_bytes,
        read_array_meta,
        write_zarr,
    )

    data = np.arange(64, dtype="<f8")
    store = str(tmp_path / "lz4.zarr")
    write_zarr(store, {"x": 64}, {"v": (["x"], data, {})},
               compressor={"id": "lz4"})
    meta = read_array_meta(store, "v")
    raw = open(tmp_path / "lz4.zarr" / "v" / "0", "rb").read()
    np.testing.assert_array_equal(decode_chunk_bytes(raw, meta), data)
    (plain,) = struct.unpack_from("<I", raw)
    assert plain == data.nbytes
    overstated = struct.pack("<I", plain + 8) + raw[4:]
    with pytest.raises(ValueError, match="lz4"):
        decode_chunk_bytes(overstated, meta)
    with pytest.raises(ValueError, match="lz4"):
        decode_chunk_bytes(raw[:3], meta)


@pytest.mark.parametrize("comp", [{"id": "zstd"}, {"id": "lzma"}])
def test_zarr_compressor_under_a_narrowing_filter(tmp_path, comp):
    """The compressor's decoded size is the FILTERED payload's (here one
    byte per value after fixedscaleoffset astype u1), not the array's."""
    from bcdp_spark.sources.zarr import read_array, write_zarr

    data = np.round(np.linspace(0, 10, 64), 1)
    store = str(tmp_path / "narrow.zarr")
    write_zarr(
        store, {"x": 64}, {"v": (["x"], data, {})}, chunks={"v": (32,)},
        compressor=comp,
        filters={"v": [{"id": "fixedscaleoffset", "scale": 10,
                        "offset": 0, "dtype": "<f8", "astype": "u1"}]},
    )
    got, _ = read_array(store, "v")
    np.testing.assert_allclose(got, data)


def test_zarr_v3_crc32c_inside_a_compressor():
    """A v3 chain may checksum before it compresses: the compressor then
    decodes to the chunk bytes plus the 4-byte crc32c suffix."""
    import gzip

    from bcdp_spark.sources.crc32c import crc32c
    from bcdp_spark.sources.zarr import ZArrayMeta, decode_chunk_bytes

    data = np.arange(16, dtype="<i4")
    plain = data.tobytes()
    for comp in ({"name": "gzip"}, {"name": "zstd"}):
        chain = [{"name": "bytes", "configuration": {"endian": "little"}},
                 {"name": "crc32c"}, comp]
        raw = plain + crc32c(plain).to_bytes(4, "little")
        raw = (gzip.compress(raw) if comp["name"] == "gzip"
               else codecs.encode("zstd", raw))
        meta = ZArrayMeta(
            shape=(16,), chunks=(16,), dtype=np.dtype("<i4"), order="C",
            fill_value=0, compressor=None, separator="/", attrs={},
            v3=True, codecs=chain,
        )
        np.testing.assert_array_equal(decode_chunk_bytes(raw, meta), data)
