"""The codec table: every byte codec the sources read or write, by name.

Containers keep their own framing and look the codec itself up here:
blosc headers and splits (``sources/blosc.py``), numcodecs-LZ4's 4-byte
size prefix and the kerchunk pseudo-codecs (``sources/zarr.py``), the
HDF5 filter pipeline (``sources/hdf5.py``). So which codecs exist, and
whether each runs natively or in Python, is decided in this module only.

Native vs pure:

- lz4 (raw block), snappy (raw block) and zstd go through pyarrow's
  bundled C libraries; pyarrow is a hard engine dependency. zstd reads
  pyarrow's streaming decompressor, which needs no decoded size and
  handles concatenated and skippable frames. With a known size it reads
  at most size + 1 bytes, so an oversize frame fails without building
  its whole output.
- zlib, gzip, bz2 and lzma are the standard library's C modules.
- blosclz (``sources/blosclz.py``) and lzf (``sources/lzf.py``) stay pure
  Python: pyarrow ships no native twin for them.

Exact sizes: ``pa.Codec.decompress(buf, n)`` returns n bytes whatever
the codec wrote, so an lz4 or snappy payload that decodes short comes
back padded with uninitialised memory and no error. lz4 therefore also
confirms that capacity n - 1 is rejected, snappy compares its length
preamble with n, and :func:`decode` checks every codec's output length
against ``size`` when the caller knows it. A mismatch or a codec error
raises ``ValueError`` naming the codec; an unknown name raises
``NotImplementedError`` naming it.
"""

from __future__ import annotations

import bz2
import functools
import gzip
import lzma
import struct
import zlib
from collections.abc import Callable

import pyarrow as pa

from bcdp_spark.sources.blosclz import blosclz_compress, blosclz_decompress
from bcdp_spark.sources.lzf import lzf_compress, lzf_decompress

# what a corrupt payload raises inside the codecs below
_ERRORS = (
    ValueError, OSError, EOFError, IndexError, struct.error, zlib.error,
    lzma.LZMAError, pa.ArrowException,
)


@functools.lru_cache(maxsize=None)
def _native(name: str, level: int | None = None) -> pa.Codec:
    return pa.Codec(name, compression_level=level)


def _need(name: str, size: int | None) -> int:
    if size is None:
        raise ValueError(f"{name}: the decoded size must be known")
    return size


def _lz4_decode(data: bytes, size: int | None, cfg: dict) -> bytes:
    n = _need("lz4", size)
    if n == 0 and not data:
        return b""  # the empty block older fixture writers emitted
    out = bytes(_native("lz4_raw").decompress(data, n))
    if n:
        try:
            _native("lz4_raw").decompress(data, n - 1)
        except (OSError, pa.ArrowException):
            return out
        raise ValueError(f"lz4: block decodes to fewer than {n} bytes")
    return out


def _snappy_decode(data: bytes, size: int | None, cfg: dict) -> bytes:
    # the raw block opens with its decoded length as a LE base-128 varint
    n = shift = pos = 0
    while True:
        if pos >= len(data) or shift > 28:
            raise ValueError("snappy: bad length preamble")
        b = data[pos]
        n |= (b & 0x7F) << shift
        pos, shift = pos + 1, shift + 7
        if not b & 0x80:
            break
    if size is not None and n != size:
        raise ValueError(
            f"snappy: preamble says {n} bytes, container expects {size}"
        )
    return bytes(_native("snappy").decompress(data, n))


def _zstd_decode(data: bytes, size: int | None, cfg: dict) -> bytes:
    stream = pa.input_stream(pa.py_buffer(data), compression="zstd")
    return stream.read() if size is None else stream.read(size + 1)


def _lzma_decode(data: bytes, size: int | None, cfg: dict) -> bytes:
    # xz/alone containers self-describe; FORMAT_RAW needs the filter
    # chain from the codec configuration
    fmt = int(cfg.get("format", lzma.FORMAT_XZ))
    if fmt == lzma.FORMAT_RAW:
        return lzma.decompress(data, format=fmt, filters=cfg.get("filters"))
    return lzma.decompress(data)


def _zstd_encode(data: bytes, level: int | None) -> bytes:
    return bytes(_native("zstd", level).compress(data))


# name -> (decode(data, size, cfg), encode(data, level)); a level of
# None is the codec's own default, and codecs without levels ignore it
CODECS: dict[str, tuple[Callable, Callable]] = {
    "zlib": (
        lambda d, n, c: zlib.decompress(d),
        lambda d, lv: zlib.compress(d, -1 if lv is None else lv),
    ),
    "gzip": (
        lambda d, n, c: gzip.decompress(d),
        lambda d, lv: gzip.compress(
            d, compresslevel=9 if lv is None else lv, mtime=0
        ),
    ),
    "bz2": (
        lambda d, n, c: bz2.decompress(d),
        lambda d, lv: bz2.compress(d, 9 if lv is None else lv),
    ),
    "lzma": (_lzma_decode, lambda d, lv: lzma.compress(d, preset=lv)),
    "zstd": (_zstd_decode, _zstd_encode),
    "lz4": (_lz4_decode, lambda d, lv: bytes(_native("lz4_raw").compress(d))),
    "snappy": (
        _snappy_decode,
        lambda d, lv: bytes(_native("snappy").compress(d)),
    ),
    "blosclz": (
        lambda d, n, c: blosclz_decompress(d, _need("blosclz", n)),
        lambda d, lv: blosclz_compress(d),
    ),
    "lzf": (
        lambda d, n, c: lzf_decompress(d, _need("lzf", n)),
        lambda d, lv: lzf_compress(d),
    ),
}


def _lookup(name: str) -> tuple[Callable, Callable]:
    try:
        return CODECS[name]
    except KeyError:
        raise NotImplementedError(
            f"codec {name!r} is not in the codec table "
            f"(known: {', '.join(sorted(CODECS))})"
        ) from None


def decode(
    name: str, data: bytes, size: int | None = None, cfg: dict | None = None
) -> bytes:
    """Decode ``data`` with codec ``name``. ``size`` is the decoded byte
    count when the container knows it (required by lz4, blosclz and
    lzf, checked for all); ``cfg`` is the codec's stored configuration
    (read by lzma only)."""
    dec = _lookup(name)[0]
    try:
        out = dec(data, size, cfg or {})
    except _ERRORS as e:
        if isinstance(e, ValueError) and str(e).startswith(name):
            raise
        raise ValueError(f"{name}: {e}") from e
    if size is not None and len(out) != size:
        raise ValueError(f"{name}: decoded {len(out)} bytes, expected {size}")
    return out


def encode(name: str, data: bytes, level: int | None = None) -> bytes:
    """Encode ``data`` with codec ``name`` (``level``: zlib/gzip/bz2
    level, lzma preset or zstd level; None keeps the codec default)."""
    return _lookup(name)[1](data, level)
