"""Snappy raw blocks through the codec table (sources/codecs.py): hand
vectors from the public format description, the table's preamble
check, and round trips through pyarrow's bundled libsnappy."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bcdp_spark.sources import codecs


def snappy_decompress(src: bytes, expected: int | None = None) -> bytes:
    return codecs.decode("snappy", src, expected)


def snappy_compress(data: bytes) -> bytes:
    return codecs.encode("snappy", data)


# -- hand vectors (format_description.txt semantics) --------------------


def test_literal_only():
    # preamble varint 5, tag (5-1)<<2 | 00, then the 5 bytes
    src = bytes([5, (4 << 2) | 0]) + b"hello"
    assert snappy_decompress(src) == b"hello"


def test_long_literal_one_extra_byte():
    body = bytes(range(256)) * 1  # 256 literal bytes
    # length-1 = 255 -> tag 60<<2, one extra LE byte
    src = bytes([0x80, 0x02]) + bytes([60 << 2, 255]) + body
    assert snappy_decompress(src) == body


def test_copy1_rle_overlap():
    # 'ab' literal then copy offset 1 len 6 -> 'abbbbbbb'? no:
    # offset 1 repeats the LAST byte: 'ab' + 6 x 'b'
    src = bytes([8, (1 << 2) | 0]) + b"ab" + bytes([(2 << 2) | 1, 1])
    assert snappy_decompress(src) == b"ab" + b"b" * 6


def test_copy2_offset():
    # 8 literal bytes then a len-8 copy at offset 8 (2-byte form)
    src = (
        bytes([16, (7 << 2) | 0])
        + b"abcdefgh"
        + bytes([((8 - 1) << 2) | 2, 8, 0])
    )
    assert snappy_decompress(src) == b"abcdefgh" * 2


def test_bad_offset_raises():
    src = bytes([6, (1 << 2) | 0]) + b"ab" + bytes([(0 << 2) | 1, 9])
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress(src)


def test_preamble_mismatch_raises():
    src = bytes([9, (4 << 2) | 0]) + b"hello"
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress(src)
    with pytest.raises(ValueError, match="snappy: preamble says 5"):
        snappy_decompress(bytes([5, (4 << 2) | 0]) + b"hello", expected=6)
    # the 1-byte empty block must not hand back an uninitialised buffer
    # of the container's size
    with pytest.raises(ValueError, match="snappy: preamble says 0"):
        snappy_decompress(b"\x00", expected=5)


def test_truncation_raises():
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress(bytes([5, (4 << 2) | 0]) + b"hel")
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress(b"\x80")  # preamble varint cut short


# -- round trips through libsnappy -----------------------------------------


@settings(max_examples=120, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=8000),
    kind=st.integers(min_value=0, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_decode_matches_reference_producer(n, kind, seed):
    rng = np.random.default_rng(seed)
    if kind == 0:
        data = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
    elif kind == 1:
        data = (b"spark-graft-" * (n // 12 + 1))[:n]
    elif kind == 2:
        data = np.cumsum(rng.integers(0, 3, size=n)).astype("u1").tobytes()
    else:
        data = b"\x00" * n
    enc = snappy_compress(data)
    assert snappy_decompress(enc, expected=n) == data


def test_four_byte_offset_copy_via_reference():
    # >64 KiB between repetitions forces the 4-byte-offset element
    rng = np.random.default_rng(3)
    blob = rng.integers(0, 256, size=70000, dtype=np.uint8).tobytes()
    data = blob[:64] + bytes(70000) + blob[:64]
    enc = snappy_compress(data)
    assert snappy_decompress(enc) == data
