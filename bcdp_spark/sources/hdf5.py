"""Pure-Python read-only HDF5 subset codec + deterministic writer.

NetCDF-4 — the dominant on-disk format of modern climate archives
(CMIP6, ERA5) and the reference's real-world input (bcdp/io.py via
xarray/netCDF4 [UNVERIFIED — /root/reference empty, SURVEY.md §0]) — is
HDF5 underneath. The container ships neither h5py nor netCDF4, so this
module implements the subset of the public HDF5 File Format
Specification (v3, https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html)
that NetCDF-4 files actually use:

READ (``H5File``):
- superblock v0/v1 (symbol-table root) and v2/v3 (direct root header)
- object headers v1 (with continuation blocks) and v2 (``OHDR``)
- old-style groups (B-tree v1 + local heap + SNOD) and new-style
  compact groups (inline Link messages); dense (fractal-heap) link
  storage raises loudly — netCDF-4 only produces it past ~8 vars with
  the "latest" libver, which climate files don't use
- dataspace v1/v2, datatype classes 0/1/3/9 (fixed, float, string,
  vlen-string via global heap), 6 (compound → numpy structured dtype
  with explicit offsets — CF discrete-sampling-geometry obs records;
  r8), 8 (enum → base integer + member map; r8) and 7 (object
  references → referenced object's path via the walk-time address
  map; region/external references raise — r11), fill value v2/v3,
  attributes v1/v3
- data layouts: compact, contiguous, chunked — v3 messages with
  B-tree v1 (any depth) AND v4 messages (the 1.10 'latest' format)
  with all five chunk indexes (single-chunk, implicit, fixed-array
  paged or not, extensible-array, v2 B-tree)
- filter pipeline v1/v2: deflate (id 1), shuffle (id 2), fletcher32
  (id 3, checksum stripped), n-bit (id 5) and scale-offset (id 6 —
  netCDF ``significant_digits``; both in `sources/h5filters.py`),
  LZF (id 32000, h5py's bundled filter), zstd (id 32015); deflate,
  LZF and zstd decode through the codec table (`sources/codecs.py`);
  anything else raises with the filter id

WRITE (``write_hdf5``): deterministic fixture generator with two
profiles so tests exercise both reader generations —
- ``profile="v0"``: superblock v0, object headers v1, old-style root
  group (B-tree v1 + heap + SNOD) — the layout classic libhdf5 emits
- ``profile="v2"``: superblock v2 (lookup3-checksummed), object
  headers v2, compact Link messages in the root group
Data layout per call: contiguous, or chunked with optional
shuffle+deflate — matching h5py's filter order.

Everything decodes via ``numpy.frombuffer`` on whole-chunk slabs — no
per-value Python loops.
"""

from __future__ import annotations

import itertools
import struct
from dataclasses import dataclass, field

import numpy as np

from bcdp_spark.sources import codecs


def _up(fmt: str, buf, off: int = 0) -> tuple:
    """``struct.unpack`` over an explicit slice. Unlike
    ``struct.unpack_from`` this needs no buffer protocol, so every
    metadata walk works identically over bytes, mmap, AND the lazy
    ranged-transport view (``sources/ranged.py`` SparseBytes) — the
    property that makes remote (http) HDF5 archives readable without
    downloading them."""
    return struct.unpack(fmt, buf[off : off + struct.calcsize(fmt)])

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF
# raw element type of a vlen-string dataset: the 16-byte global-heap
# reference (length:4, collection address:8, object index:4)
_V16 = np.dtype("V16")

# ---------------------------------------------------------------------------
# Jenkins lookup3 (public-domain hash; HDF5 metadata checksum)
# ---------------------------------------------------------------------------


def _rot(x: int, k: int) -> int:
    x &= 0xFFFFFFFF
    return ((x << k) | (x >> (32 - k))) & 0xFFFFFFFF


def lookup3(data: bytes, init: int = 0) -> int:
    """Jenkins hashlittle() over bytes — the checksum HDF5 v2 metadata
    blocks carry."""
    length = len(data)
    a = b = c = (0xDEADBEEF + length + init) & 0xFFFFFFFF
    pos = 0
    while length > 12:
        a = (a + int.from_bytes(data[pos : pos + 4], "little")) & 0xFFFFFFFF
        b = (b + int.from_bytes(data[pos + 4 : pos + 8], "little")) & 0xFFFFFFFF
        c = (c + int.from_bytes(data[pos + 8 : pos + 12], "little")) & 0xFFFFFFFF
        # mix
        a = (a - c) & 0xFFFFFFFF; a ^= _rot(c, 4); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= _rot(a, 6); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= _rot(b, 8); b = (b + a) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= _rot(c, 16); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= _rot(a, 19); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= _rot(b, 4); b = (b + a) & 0xFFFFFFFF
        pos += 12
        length -= 12
    tail = data[pos:] + b"\x00" * (12 - length)
    if length > 0:
        a = (a + int.from_bytes(tail[0:4], "little")) & 0xFFFFFFFF
        if length > 4:
            b = (b + int.from_bytes(tail[4:8], "little")) & 0xFFFFFFFF
        if length > 8:
            c = (c + int.from_bytes(tail[8:12], "little")) & 0xFFFFFFFF
        # final
        c ^= b; c = (c - _rot(b, 14)) & 0xFFFFFFFF
        a ^= c; a = (a - _rot(c, 11)) & 0xFFFFFFFF
        b ^= a; b = (b - _rot(a, 25)) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 16)) & 0xFFFFFFFF
        a ^= c; a = (a - _rot(c, 4)) & 0xFFFFFFFF
        b ^= a; b = (b - _rot(a, 14)) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 24)) & 0xFFFFFFFF
    return c


def _fletcher32(data: bytes) -> int:
    """H5_checksum_fletcher32: Fletcher-32 over big-endian 16-bit
    words (an odd trailing byte pads as its high byte), with
    ones-complement (mod-65535) folding of both sums. Vectorized:
    repeated 16-bit folding of a sum x is congruent to x mod 65535
    and, for x > 0, never reaches 0 — i.e. exactly
    ((x - 1) mod 65535) + 1 — so the per-360-word inner loop of the
    C implementation collapses to two weighted numpy sums."""
    if not data:
        return 0
    buf = data if len(data) % 2 == 0 else data + b"\x00"
    words = np.frombuffer(buf, dtype=">u2").astype(np.uint64)
    n = words.size
    m = np.uint64(0xFFFF)
    nz = bool(words.any())
    s1m = int(words.sum() % m)
    # sum2 accumulates sum1 after every word: sum2 = sum_i (n-i+1)*w_i;
    # reduce term-wise mod 65535 so the weighted sum cannot overflow
    # uint64 on multi-MB chunks
    weights = np.arange(n, 0, -1, dtype=np.uint64) % m
    s2m = int((((words % m) * weights) % m).sum() % m)
    # a positive sum folds to the 1..65535 representative, never 0
    s1 = (s1m or 0xFFFF) if nz else 0
    s2 = (s2m or 0xFFFF) if nz else 0
    return (s2 << 16) | s1


# HDF5 filter id -> codec-table name: deflate, h5py's LZF plugin, and
# the zstd plugin
_H5_CODECS = {1: "zlib", 32000: "lzf", 32015: "zstd"}


def defilter_chunk(
    raw: bytes,
    filters: list,
    dt: np.dtype,
    chunk_shape: tuple,
    fmask: int = 0,
    name: str = "",
) -> bytes:
    """Run one chunk's raw on-disk bytes backwards through an HDF5
    filter pipeline (``filters`` = [(id, flags, cd_values), ...] in
    message order; ``fmask`` bit i set = filter i skipped for this
    chunk, per the v1-B-tree/v4 chunk record contract). Shared by
    ``H5File.read`` and the kerchunk ``{"id": "hdf5-filter"}``
    pseudo-codec in ``sources/zarr.py`` — the zarr refs document
    carries the pipeline verbatim so both paths decode byte-for-byte
    identically. Unknown filter ids raise loudly by name."""
    for i in range(len(filters) - 1, -1, -1):
        fid, _flags, cvals = filters[i]
        if fmask & (1 << i):
            continue  # filter skipped for this chunk
        if fid == 1:
            raw = codecs.decode(_H5_CODECS[fid], raw)
        elif fid == 2:
            esz = cvals[0] if cvals else dt.itemsize
            a = np.frombuffer(raw, dtype=np.uint8)
            raw = a.reshape(esz, len(a) // esz).T.tobytes()
        elif fid == 3:
            # verify-and-strip: stored LE; the byte-reversed
            # value is also accepted (pre-1.6.3 libhdf5 wrote
            # it with a byte-order bug, and real HDF5 accepts
            # both on read)
            (stored,) = _up("<I", raw, len(raw) - 4)
            calc = _fletcher32(raw[:-4])
            swapped = int.from_bytes(
                calc.to_bytes(4, "little"), "big"
            )
            if stored not in (calc, swapped):
                raise ValueError(
                    "HDF5 fletcher32 checksum mismatch on a "
                    f"chunk of {name!r}: stored 0x{stored:08x}, "
                    f"computed 0x{calc:08x} (corrupt chunk)"
                )
            raw = raw[:-4]
        elif fid in (32000, 32015):  # h5py LZF / zstd plugin
            # expected plain size: the chunk payload, plus the
            # 4-byte suffix of any fletcher32 applied BEFORE
            # this filter on write (its checksum rides inside
            # the compressed stream)
            expect = int(
                np.prod(chunk_shape, dtype=np.int64)
            ) * dt.itemsize + 4 * sum(
                1 for f in filters[:i] if f[0] == 3
            )
            raw = codecs.decode(_H5_CODECS[fid], raw, expect)
        elif fid == 6:  # scale-offset (netCDF significant_digits)
            from bcdp_spark.sources.h5filters import scaleoffset_decode

            raw = scaleoffset_decode(raw, cvals)
        elif fid == 5:  # n-bit (reduced-precision datatypes)
            from bcdp_spark.sources.h5filters import nbit_decode

            raw = nbit_decode(
                raw, cvals,
                signed=dt.kind == "i",
                is_float=dt.kind == "f",
            )
        elif fid == 4:  # szip (CCSDS 121 extended Rice/AEC)
            from bcdp_spark.sources.h5filters import szip_decode

            raw = szip_decode(raw, cvals)
        else:
            raise NotImplementedError(f"HDF5 filter id {fid}")
    return raw


# ---------------------------------------------------------------------------
# Datatype <-> numpy
# ---------------------------------------------------------------------------


@dataclass
class _DType:
    cls: int
    size: int
    little: bool = True
    signed: bool = True
    vlen_string: bool = False
    # enum (class 8) member map, name -> integer code; values decode
    # as the base integer type, the map rides along for callers that
    # want labels (netCDF-4 enum typed variables)
    enum_members: dict | None = None
    # compound (class 6) members: (name, byte_offset, _DType) triples;
    # decodes as a numpy structured dtype with explicit offsets, so
    # libhdf5's padding/alignment choices are honored byte-for-byte
    members: list | None = None
    # array (class 10): fixed subarray shape + base datatype — decodes
    # as a numpy subarray dtype (base, shape)
    array_shape: tuple | None = None
    base: "_DType | None" = None
    # reference (class 7, r11): type 0 = object reference (an 8-byte
    # file address of the referenced object's header — what netCDF-4
    # dimension scales and DSG index variables store); decodes to the
    # referenced object's PATH string via the walk-time address map.
    # type 1 (r12) = dataset-region reference (a 12-byte global-heap
    # ID whose heap object holds the target's header address + a
    # serialized dataspace selection); decodes to H5RegionRef
    ref_type: int | None = None

    @property
    def np_dtype(self) -> np.dtype:
        order = "<" if self.little else ">"
        if self.cls == 0:
            return np.dtype(f"{order}{'i' if self.signed else 'u'}{self.size}")
        if self.cls == 1:
            return np.dtype(f"{order}f{self.size}")
        if self.cls == 3:
            return np.dtype(f"S{self.size}")
        if self.cls == 10:
            return np.dtype((self.base.np_dtype, self.array_shape))
        if self.cls == 6:
            return np.dtype(
                {
                    "names": [m[0] for m in self.members],
                    # vlen members (r12) occupy 16 raw bytes in the
                    # record (the GCOL reference); H5File.read
                    # resolves them to str / ragged arrays post-slab
                    "formats": [
                        _V16 if m[2].cls == 9 else m[2].np_dtype
                        for m in self.members
                    ],
                    "offsets": [m[1] for m in self.members],
                    "itemsize": self.size,
                }
            )
        if self.cls == 7:
            if self.ref_type == 1:
                # region references only decode through the dataset
                # read path (H5File.read handles the 12-byte heap-ID
                # layout itself); as an attribute / compound-member /
                # vlen-base element type they are unsupported — raise
                # HERE so every such path fails loudly, never by
                # misreading 12-byte elements as 8-byte addresses
                raise NotImplementedError(
                    "HDF5 dataset-region reference as an attribute, "
                    "compound-member or vlen-base element (dataset "
                    "elements decode via H5File.read)"
                )
            # object references read as raw 8-byte addresses, resolved
            # to path strings by H5File.read (needs the walk-time map)
            return np.dtype("<u8")
        raise NotImplementedError(f"HDF5 datatype class {self.cls} as array")


def _parse_datatype(body: bytes) -> _DType:
    return _parse_datatype_sized(body)[0]


def _parse_datatype_sized(body: bytes) -> tuple[_DType, int]:
    """Parse a datatype message, also returning its ENCODED byte
    length — what lets compound members embed datatypes of non-fixed
    encoded size (nested compounds, class-10 arrays; r10, VERDICT r9
    item 4)."""
    cv = body[0]
    cls, ver = cv & 0x0F, cv >> 4
    if ver not in (1, 2, 3):
        raise NotImplementedError(f"HDF5 datatype version {ver}")
    b0 = body[1]
    size = _up("<I", body, 4)[0]
    if cls in (0, 1):  # fixed-point / float
        return (
            _DType(
                cls=cls, size=size, little=(b0 & 1) == 0,
                signed=bool(b0 & 0x08) if cls == 0 else True,
            ),
            8 + (4 if cls == 0 else 12),
        )
    if cls == 3:  # fixed-length string
        return _DType(cls=3, size=size), 8
    if cls == 9:  # variable-length
        vtype = b0 & 0x0F
        if vtype == 1:  # vlen string: the message carries a trailing
            # base datatype (a 1-byte string) — its encoded length
            # matters when the vlen is a COMPOUND MEMBER (r12), where
            # the member parser must skip exactly past it
            _base, used = _parse_datatype_sized(body[8:])
            return _DType(cls=9, size=size, vlen_string=True), 8 + used
        if vtype == 0:  # vlen SEQUENCE (r10): the ragged-array layout
            # NetCDF-4 vlen variables / DSG ragged obs use — each
            # element is a 16-byte global-heap reference whose object
            # holds `length` base-type values. r11: ONE level of
            # nesting (vlen-of-vlen — each outer object holds inner
            # 16-byte references) decodes too; deeper nesting raises.
            base, used = _parse_datatype_sized(body[8:])
            if base.cls == 9 and not base.vlen_string:
                if base.base is None or base.base.cls not in (0, 1):
                    raise NotImplementedError(
                        "HDF5 vlen-of-vlen deeper than one level (or "
                        "with a non-numeric innermost base)"
                    )
            elif base.cls not in (0, 1, 7):
                # class-7 base (r11): vlen of OBJECT REFERENCES — the
                # netCDF-4 DIMENSION_LIST attribute element type
                raise NotImplementedError(
                    f"HDF5 vlen sequence of class-{base.cls} base "
                    "(fixed-point/float/object-reference bases, or "
                    "one nested vlen level, only)"
                )
            return _DType(cls=9, size=size, base=base), 8 + used
        raise NotImplementedError(
            f"HDF5 vlen datatype of type {vtype} (sequences and "
            "strings only)"
        )
    if cls == 7:  # reference: object (r11) and dataset-region (r12)
        rtype = b0 & 0x0F
        if rtype not in (0, 1):
            raise NotImplementedError(
                f"HDF5 reference datatype of type {rtype} (object and "
                "dataset-region references only — the revised (1.12+) "
                "attribute/external reference encodings raise)"
            )
        if rtype == 0 and size != 8:
            raise NotImplementedError(
                f"HDF5 object reference of size {size} (8-byte file "
                "offsets only)"
            )
        if rtype == 1 and size != 12:
            # pre-1.12 H5T_STD_REF_DSETREG: 8-byte global-heap
            # collection address + 4-byte object index
            raise NotImplementedError(
                f"HDF5 dataset-region reference of size {size} "
                "(12-byte heap IDs only)"
            )
        return _DType(cls=7, size=size, ref_type=rtype), 8
    if cls == 10:  # array: fixed-shape subarray of a base type
        ndims = body[8]
        pos = 12 if ver < 3 else 9  # pre-v3: 3 reserved bytes
        dims = tuple(
            _up("<I", body, pos + 4 * d)[0] for d in range(ndims)
        )
        pos += 4 * ndims
        if ver < 3:
            pos += 4 * ndims  # permutation indexes (never implemented)
        base, used = _parse_datatype_sized(body[pos:])
        if base.cls not in (0, 1):
            raise NotImplementedError(
                f"HDF5 array datatype of class-{base.cls} base "
                "(fixed-point/float bases only)"
            )
        return (
            _DType(cls=10, size=size, array_shape=dims, base=base),
            pos + used,
        )
    if cls == 6:  # compound: named members at explicit byte offsets
        nmem = b0 | (body[2] << 8)
        members = []
        pos = 8
        for _ in range(nmem):
            end = body.index(b"\x00", pos)
            mname = body[pos:end].decode("utf-8")
            if ver < 3:  # names padded to 8-byte multiples before v3
                pos += ((end - pos + 1 + 7) // 8) * 8
            else:
                pos = end + 1
            if ver == 1:
                (moff,) = _up("<I", body, pos)
                # v1 carries 28 further octets of array-member fields
                # (dimensionality, permutation, 4 dim sizes) libhdf5
                # zeroes for scalar members
                pos += 4 + 28
            elif ver == 2:
                (moff,) = _up("<I", body, pos)
                pos += 4
            else:  # v3: offset in the minimal bytes that hold `size`
                nb = (size.bit_length() + 7) // 8 or 1
                moff = int.from_bytes(body[pos : pos + nb], "little")
                pos += nb
            sub, used = _parse_datatype_sized(body[pos:])
            if sub.cls not in (0, 1, 3, 6, 7, 9, 10):
                raise NotImplementedError(
                    f"HDF5 compound member {mname!r} of class {sub.cls}"
                    " (fixed-point/float/string/nested-compound/array/"
                    "object-reference/vlen members only)"
                )
            if sub.cls == 9 and not sub.vlen_string and (
                sub.base is None or sub.base.cls not in (0, 1)
            ):
                # r12: vlen STRING and numeric vlen SEQUENCE members
                # decode (the CF-DSG obs-record shape — netCDF-4
                # compounds with string/ragged fields); deeper nesting
                # inside a compound stays a loud seam
                raise NotImplementedError(
                    f"HDF5 compound member {mname!r}: vlen member "
                    f"with base class "
                    f"{None if sub.base is None else sub.base.cls} "
                    "(vlen-string and numeric vlen-sequence members "
                    "only)"
                )
            pos += used
            members.append((mname, moff, sub))
        return _DType(cls=6, size=size, members=members), pos
    if cls == 8:  # enum: a base type + named integer members
        base = _parse_datatype(body[8:])
        if base.cls != 0:
            raise NotImplementedError(
                f"HDF5 enum with class-{base.cls} base (integer bases "
                "only)"
            )
        nmem = b0 | (body[2] << 8)
        # the base message for a fixed-point type is 8 header bytes +
        # 4 property bytes (bit offset + precision); names follow,
        # null-terminated and (before version 3) padded to 8-byte
        # multiples, then the member values in the base type
        pos = 8 + 8 + 4
        names = []
        for _ in range(nmem):
            end = body.index(b"\x00", pos)
            names.append(body[pos:end].decode("utf-8"))
            if ver < 3:
                pos += ((end - pos + 1 + 7) // 8) * 8
            else:
                pos = end + 1
        vals = np.frombuffer(
            bytes(body[pos : pos + nmem * base.size]),
            dtype=base.np_dtype,
        )
        return (
            _DType(
                cls=0, size=base.size, little=base.little,
                signed=base.signed,
                enum_members={n: int(v) for n, v in zip(names, vals)},
            ),
            pos + nmem * base.size,
        )
    raise NotImplementedError(f"HDF5 datatype class {cls}")


def _parse_dataspace(body: bytes, lsize: int = 8) -> tuple[int, ...]:
    ver = body[0]
    rank = body[1]
    if ver == 1:
        off = 8
    elif ver == 2:
        if body[3] == 2:  # null dataspace
            return (0,)
        off = 4
    else:
        raise NotImplementedError(f"HDF5 dataspace version {ver}")
    fmt = "<Q" if lsize == 8 else "<I"
    return tuple(
        _up(fmt, body, off + i * lsize)[0] for i in range(rank)
    )


def _parse_maxdims(body: bytes, lsize: int = 8) -> tuple[int, ...] | None:
    """Maximum dimensions from a dataspace message, or None when not
    stored. 0xFF..FF entries mean H5S_UNLIMITED."""
    ver = body[0]
    rank = body[1]
    flags = body[2]
    if not flags & 0x1:
        return None
    off = (8 if ver == 1 else 4) + rank * lsize
    fmt = "<Q" if lsize == 8 else "<I"
    return tuple(
        _up(fmt, body, off + i * lsize)[0] for i in range(rank)
    )


# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------


class _RefAddr(int):
    """Unresolved object-reference address inside an attribute value
    (r11): attributes parse DURING the group walk, before every
    referenced object's address is known, so reference-typed attribute
    elements carry the raw address and H5File.__init__ resolves them
    to paths in a post-walk pass (DIMENSION_LIST / REFERENCE_LIST —
    the netCDF-4 dimension-scale bookkeeping attributes)."""


@dataclass(frozen=True)
class H5RegionRef:
    """A DATASET-REGION reference (class 7 type 1, r12) — both the
    reader's decoded value and the writer-twin element.

    ``target`` is the referenced dataset's slash path on read (the
    variable NAME on write; ``None`` = a NULL reference, all-zero
    heap ID on disk). The selection is one of:

    - ``kind='hyperslab'``: ``blocks`` = tuple of ``(start, stop)``
      corner pairs, one per block, ``stop`` EXCLUSIVE (numpy slice
      convention; the on-disk v1 encoding stores INCLUSIVE opposite
      corners — converted at the codec boundary),
    - ``kind='points'``: ``points`` = tuple of coordinate tuples,
    - ``kind='all'`` / ``kind='none'``: the whole / empty extent.

    This is the shape real satellite and CF-DSG products (NPP/VIIRS
    quality regions, packed-obs record pointers) store; libhdf5 writes
    the same three-part layout (H5Rint.c): a 12-byte element =
    8-byte global-heap collection address + 4-byte object index; the
    heap object = 8-byte target header address + the serialized
    dataspace selection."""

    target: str | None
    kind: str = "hyperslab"
    blocks: tuple = ()
    points: tuple = ()

    def spec(self) -> str:
        """Canonical string form (what Spark columns carry): NULL
        reference → '', '/grid[2:5,0:4]' (';'-joined blocks),
        '/grid@(1,2);(3,0)', '/grid[...]' (all), '/grid[]' (none)."""
        if self.target is None:
            return ""
        if self.kind == "all":
            return f"{self.target}[...]"
        if self.kind == "none":
            return f"{self.target}[]"
        if self.kind == "points":
            pts = ";".join(
                "(" + ",".join(str(c) for c in p) + ")"
                for p in self.points
            )
            return f"{self.target}@{pts}"
        blks = ";".join(
            ",".join(f"{s}:{e}" for s, e in zip(start, stop))
            for start, stop in self.blocks
        )
        return f"{self.target}[{blks}]"


def _sel_serialize(ref: H5RegionRef) -> bytes:
    """Serialize ``ref``'s selection in the version-1 dataspace
    selection encoding (HDF5 file-format spec, 'Dataspace Selection';
    what libhdf5 emits for ≤32-bit extents): u32 type, u32 version,
    u32 padding, u32 extra-length, then the type-specific payload —
    hyperslab: rank, nblocks, per-block u32 start corners then u32
    INCLUSIVE end corners; points: rank, npoints, u32 coords."""
    if ref.kind == "all":
        return struct.pack("<IIII", 3, 1, 0, 0)
    if ref.kind == "none":
        return struct.pack("<IIII", 0, 1, 0, 0)
    if ref.kind == "points":
        if not ref.points:
            raise ValueError("points region reference with no points")
        rank = len(ref.points[0])
        out = struct.pack(
            "<IIIIII", 1, 1, 0, 8 + 4 * rank * len(ref.points),
            rank, len(ref.points),
        )
        for p in ref.points:
            if len(p) != rank or any(c < 0 for c in p):
                raise ValueError(f"bad point {p} (rank {rank})")
            out += struct.pack(f"<{rank}I", *p)
        return out
    if ref.kind != "hyperslab":
        raise ValueError(f"unknown region selection kind {ref.kind!r}")
    if not ref.blocks:
        raise ValueError("hyperslab region reference with no blocks")
    rank = len(ref.blocks[0][0])
    out = struct.pack(
        "<IIIIII", 2, 1, 0, 8 + 8 * rank * len(ref.blocks),
        rank, len(ref.blocks),
    )
    for start, stop in ref.blocks:
        if len(start) != rank or len(stop) != rank or any(
            e <= s or s < 0 for s, e in zip(start, stop)
        ):
            raise ValueError(f"bad hyperslab block {(start, stop)}")
        out += struct.pack(f"<{rank}I", *start)
        out += struct.pack(f"<{rank}I", *(e - 1 for e in stop))
    return out


def _sel_parse(buf: bytes, pos: int) -> tuple[str, tuple, tuple]:
    """Parse a serialized dataspace selection at ``buf[pos:]`` →
    (kind, blocks, points). Hyperslab versions 1 (u32 block corners)
    and 2 (the 1.10.7+ regular start/stride/count/block u64 form —
    expanded to explicit blocks) decode; version 3 (1.12) and point
    version ≥2 raise loudly."""
    styp, ver = struct.unpack_from("<II", buf, pos)
    if styp == 3:  # all
        return "all", (), ()
    if styp == 0:  # none
        return "none", (), ()
    if styp == 1:  # points
        if ver != 1:
            raise NotImplementedError(
                f"point selection serialization version {ver}"
            )
        rank, npts = struct.unpack_from("<II", buf, pos + 16)
        off = pos + 24
        pts = []
        for _ in range(npts):
            pts.append(struct.unpack_from(f"<{rank}I", buf, off))
            off += 4 * rank
        return "points", (), tuple(pts)
    if styp != 2:
        raise NotImplementedError(f"dataspace selection type {styp}")
    if ver == 1:
        rank, nblk = struct.unpack_from("<II", buf, pos + 16)
        off = pos + 24
        blocks = []
        for _ in range(nblk):
            start = struct.unpack_from(f"<{rank}I", buf, off)
            off += 4 * rank
            end = struct.unpack_from(f"<{rank}I", buf, off)
            off += 4 * rank
            blocks.append((start, tuple(e + 1 for e in end)))
        return "hyperslab", tuple(blocks), ()
    if ver == 2:
        # u8 flags (bit 0 = regular — the only v2 form libhdf5
        # emits), u32 length, u32 rank, then per-dim u64
        # start/stride/count/block
        flags = buf[pos + 8]
        if not flags & 0x01:
            raise NotImplementedError(
                "hyperslab selection v2 without the regular flag"
            )
        rank = struct.unpack_from("<I", buf, pos + 13)[0]
        off = pos + 17
        dims = []
        for _ in range(rank):
            dims.append(struct.unpack_from("<4Q", buf, off))
            off += 32
        counts = [int(d[2]) for d in dims]
        total = 1
        for c in counts:
            total *= c
        if total > 65536:
            raise NotImplementedError(
                f"regular hyperslab expanding to {total} blocks"
            )
        blocks = []
        for idx in itertools.product(*(range(c) for c in counts)):
            start = tuple(
                int(d[0] + i * d[1]) for d, i in zip(dims, idx)
            )
            stop = tuple(s + int(d[3]) for s, d in zip(start, dims))
            blocks.append((start, stop))
        return "hyperslab", tuple(blocks), ()
    raise NotImplementedError(
        f"hyperslab selection serialization version {ver}"
    )


@dataclass
class H5Dataset:
    name: str
    shape: tuple
    dtype: _DType
    attrs: dict[str, object] = field(default_factory=dict)
    layout: str = "contiguous"
    data_addr: int = _UNDEF
    data_size: int = 0
    chunk_shape: tuple = ()
    btree_addr: int = _UNDEF
    filters: list = field(default_factory=list)  # (id, flags, client_vals)
    compact: bytes = b""
    fill: object = None
    # layout-v4 chunk indexing (libver 'latest'): 'btree1' (v3 message),
    # 'single', 'implicit', 'fixed_array'
    chunk_index: str = "btree1"
    single_nbytes: int = 0  # v4 single-chunk: filtered size (0 = unfiltered)
    single_fmask: int = 0
    maxdims: tuple | None = None  # None = not stored (all fixed)


class H5File:
    """Parse an in-memory HDF5 byte buffer into named datasets.

    ``datasets`` maps slash-joined paths (root children are bare names)
    to :class:`H5Dataset`; ``read(name)`` materializes the array.
    """

    def __init__(self, buf: bytes):
        if buf[:8] != _SIG:
            raise ValueError(
                "not an HDF5 file (bad signature); CDF-classic files are "
                "handled by bcdp_spark.sources.netcdf3"
            )
        self.buf = buf
        self.datasets: dict[str, H5Dataset] = {}
        self.attrs: dict[str, object] = {}
        # object-header address -> slash path, built during the group
        # walk — what resolves class-7 object references (r11)
        self._path_by_addr: dict[int, str] = {}
        sb_ver = buf[8]
        if sb_ver in (0, 1):
            self._osize = buf[13]
            self._lsize = buf[14]
            if (self._osize, self._lsize) != (8, 8):
                raise NotImplementedError(
                    f"offset/length sizes {self._osize}/{self._lsize}"
                )
            # root group symbol-table entry:
            # v0: fixed part ends at 24 + 4*osize; v1 adds 4 bytes
            fixed = 24 + (4 if sb_ver == 1 else 0) + 4 * 8
            root_ohdr = _up("<Q", buf, fixed + 8)[0]
        elif sb_ver in (2, 3):
            self._osize = buf[9]
            self._lsize = buf[10]
            if (self._osize, self._lsize) != (8, 8):
                raise NotImplementedError(
                    f"offset/length sizes {self._osize}/{self._lsize}"
                )
            root_ohdr = _up("<Q", buf, 12 + 3 * 8)[0]
        else:
            raise NotImplementedError(f"HDF5 superblock version {sb_ver}")
        self._walk_group(root_ohdr, prefix="", out_attrs=self.attrs)
        # post-walk: resolve reference-typed attribute elements (the
        # walk sees DIMENSION_LIST before its targets register)
        self._resolve_attr_refs(self.attrs)
        for ds in self.datasets.values():
            self._resolve_attr_refs(ds.attrs)

    def _resolve_attr_refs(self, attrs: dict) -> None:
        def fix(v):
            if isinstance(v, _RefAddr):
                a = int(v)
                if a == 0 or a == _UNDEF:
                    return ""
                try:
                    return self._path_by_addr[a]
                except KeyError:
                    raise ValueError(
                        f"attribute object reference to unknown header"
                        f" address {a:#x} (dangling or external)"
                    ) from None
            if isinstance(v, list):
                return [fix(x) for x in v]
            if isinstance(v, tuple):
                return tuple(fix(x) for x in v)
            return v

        for k, v in list(attrs.items()):
            if isinstance(v, (_RefAddr, list, tuple)):
                attrs[k] = fix(v)

    # ----------------------------------------------------- object headers
    def _messages(self, addr: int) -> list[tuple[int, bytes]]:
        """All (msg_type, body) of an object header, v1 or v2, following
        continuation blocks."""
        buf = self.buf
        msgs: list[tuple[int, bytes]] = []
        if buf[addr : addr + 4] == b"OHDR":
            ver = buf[addr + 4]
            if ver != 2:
                raise NotImplementedError(f"OHDR version {ver}")
            flags = buf[addr + 5]
            pos = addr + 6
            if flags & 0x20:
                # four 4-byte times: access, modification, change, birth
                pos += 16
            if flags & 0x10:
                pos += 4  # max compact/dense attrs
            csize_bytes = 1 << (flags & 0x03)
            chunk0 = int.from_bytes(buf[pos : pos + csize_bytes], "little")
            pos += csize_bytes
            track_order = bool(flags & 0x04)
            todo = [(pos, pos + chunk0)]
            while todo:
                p, end = todo.pop(0)
                while p + 4 <= end:
                    mtype = buf[p]
                    msize = _up("<H", buf, p + 1)[0]
                    p += 4
                    if track_order:
                        p += 2
                    body = buf[p : p + msize]
                    p += msize
                    if mtype == 0x10:  # continuation
                        caddr, clen = _up("<QQ", body, 0)
                        # v2 continuation blocks: OCHK sig + payload + csum
                        todo.append((caddr + 4, caddr + clen - 4))
                    elif mtype != 0:
                        msgs.append((mtype, body))
            return msgs
        ver = buf[addr]
        if ver != 1:
            raise NotImplementedError(f"object header version {ver}")
        nmsgs = _up("<H", buf, addr + 2)[0]
        hsize = _up("<I", buf, addr + 8)[0]
        todo = [(addr + 16, addr + 16 + hsize)]
        got = 0
        while todo and got < nmsgs:
            p, end = todo.pop(0)
            while p + 8 <= end and got < nmsgs:
                mtype, msize = _up("<HH", buf, p)
                body = buf[p + 8 : p + 8 + msize]
                p += 8 + msize
                got += 1
                if mtype == 0x10:
                    caddr, clen = _up("<QQ", body, 0)
                    todo.append((caddr, caddr + clen))
                elif mtype != 0:
                    msgs.append((mtype, body))
        return msgs

    # ----------------------------------------------------------- groups
    def _walk_group(self, addr: int, prefix: str, out_attrs: dict) -> None:
        links: list[tuple[str, int]] = []
        is_dataset = False
        msgs = self._messages(addr)
        for mtype, body in msgs:
            if mtype == 0x08:
                is_dataset = True
        self._path_by_addr.setdefault(addr, prefix.rstrip("/") or "/")
        if is_dataset:
            name = prefix.rstrip("/") or "/"
            self.datasets[name] = self._dataset(name, msgs)
            return
        for mtype, body in msgs:
            if mtype == 0x11:  # symbol table (old-style group)
                bt, heap = _up("<QQ", body, 0)
                links.extend(self._old_links(bt, heap))
            elif mtype == 0x06:  # link message (new-style compact)
                links.append(self._link(body))
            elif mtype == 0x02:  # link info: dense storage
                flags = body[1]
                off = 2 + (8 if flags & 1 else 0)
                fheap, name_bt = _up("<QQ", body, off)
                if fheap != _UNDEF:
                    from bcdp_spark.sources.h5dense import dense_links

                    links.extend(
                        self._link(lb)
                        for lb in dense_links(self.buf, fheap, name_bt)
                    )
            elif mtype == 0x0C:
                k, v = self._attr(body)
                out_attrs[k] = v
            elif mtype == 0x15:  # attribute info: dense storage
                for k, v in self._dense_attrs(body):
                    out_attrs[k] = v
        for name, child in links:
            path = f"{prefix}{name}"
            cm = self._messages(child)
            if any(t == 0x08 for t, _ in cm):
                self._path_by_addr.setdefault(child, path)
                self.datasets[path] = self._dataset(path, cm)
            else:
                sub_attrs: dict[str, object] = {}
                self._walk_group(child, prefix=path + "/", out_attrs=sub_attrs)

    def _link(self, body: bytes) -> tuple[str, int]:
        ver, flags = body[0], body[1]
        if ver != 1:
            raise NotImplementedError(f"link message version {ver}")
        pos = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[pos]; pos += 1
        if flags & 0x04:
            pos += 8  # creation order
        if flags & 0x10:
            pos += 1  # charset
        nlen_bytes = 1 << (flags & 0x03)
        nlen = int.from_bytes(body[pos : pos + nlen_bytes], "little")
        pos += nlen_bytes
        name = body[pos : pos + nlen].decode("utf-8")
        pos += nlen
        if ltype != 0:
            raise NotImplementedError(f"non-hard link type {ltype}")
        return name, _up("<Q", body, pos)[0]

    def _old_links(self, btree_addr: int, heap_addr: int) -> list:
        buf = self.buf
        if buf[heap_addr : heap_addr + 4] != b"HEAP":
            raise ValueError("bad local heap signature")
        heap_data = _up("<Q", buf, heap_addr + 24)[0]

        out = []

        def walk(addr: int) -> None:
            if buf[addr : addr + 4] != b"TREE":
                raise ValueError("bad B-tree v1 signature")
            level = buf[addr + 5]
            used = _up("<H", buf, addr + 6)[0]
            pos = addr + 8 + 16  # skip siblings
            # key0, child0, key1, child1 ... (group keys are heap offsets)
            pos += 8  # key0
            for _ in range(used):
                child = _up("<Q", buf, pos)[0]
                pos += 16  # child + next key
                if level > 0:
                    walk(child)
                else:
                    snod(child)

        def snod(addr: int) -> None:
            if buf[addr : addr + 4] != b"SNOD":
                raise ValueError("bad SNOD signature")
            nsyms = _up("<H", buf, addr + 6)[0]
            p = addr + 8
            for _ in range(nsyms):
                name_off, ohdr = _up("<QQ", buf, p)
                p += 40
                nstart = heap_data + name_off
                nend = buf.find(b"\x00", nstart)  # mmap-safe (no .index)
                if nend < 0:
                    raise ValueError("unterminated link name in local heap")
                out.append((buf[nstart:nend].decode("utf-8"), ohdr))

        walk(btree_addr)
        return out

    # --------------------------------------------------------- attributes
    def _attr(self, body: bytes) -> tuple[str, object]:
        ver = body[0]
        if ver == 1:
            name_size, dt_size, ds_size = _up("<HHH", body, 2)
            pos = 8
            name = body[pos : pos + name_size].split(b"\x00")[0].decode("utf-8")
            pos += (name_size + 7) & ~7
            dt = _parse_datatype(body[pos : pos + dt_size])
            pos += (dt_size + 7) & ~7
            shape = _parse_dataspace(body[pos : pos + ds_size])
            pos += (ds_size + 7) & ~7
        elif ver == 3:
            name_size, dt_size, ds_size = _up("<HHH", body, 2)
            pos = 9  # ver, flags, sizes(6), charset
            name = body[pos : pos + name_size].split(b"\x00")[0].decode("utf-8")
            pos += name_size
            dt = _parse_datatype(body[pos : pos + dt_size])
            pos += dt_size
            shape = _parse_dataspace(body[pos : pos + ds_size])
            pos += ds_size
        else:
            raise NotImplementedError(f"attribute message version {ver}")
        n = int(np.prod(shape)) if shape else 1
        raw = body[pos:]
        if dt.vlen_string:
            vals = [
                self._gheap_str(raw[i * 16 : (i + 1) * 16]) for i in range(n)
            ]
            return name, vals[0] if not shape else vals
        if dt.cls == 3:
            vals = [
                raw[i * dt.size : (i + 1) * dt.size]
                .split(b"\x00")[0]
                .decode("utf-8", "replace")
                for i in range(n)
            ]
            return name, vals[0] if not shape else vals
        if dt.cls == 9:
            # vlen SEQUENCE attribute (r11): numeric bases decode to
            # arrays; class-7 bases (netCDF-4 DIMENSION_LIST) decode
            # to _RefAddr lists resolved post-walk. Guard the base
            # class HERE with the attribute name (r12, ADVICE): an
            # unsupported base (vlen-of-vlen, vlen-string, enum, ...)
            # must not sink the whole file open through a nameless
            # np_dtype raise mid-group-walk — the DIMENSION_LIST
            # failure class all over again.
            base = dt.base
            if base.vlen_string or base.cls not in (0, 1, 3, 7):
                raise NotImplementedError(
                    f"HDF5 attribute {name!r}: vlen attribute with "
                    f"base datatype class {base.cls}"
                    f"{' (vlen string)' if base.vlen_string else ''} "
                    "is unsupported (numeric, fixed-string and "
                    "object-reference bases decode)"
                )
            vals = []
            null = b"\x00" * 16
            for i in range(n):
                ref = raw[i * 16 : (i + 1) * 16]
                if ref == null:
                    vals.append([])
                    continue
                cnt, addr, idx = struct.unpack("<IQI", ref)
                obj = self._gheap_collection(addr).get(idx)
                if obj is None:
                    raise ValueError(
                        f"global heap object {idx} not found"
                    )
                if base.cls == 7:
                    if base.ref_type:
                        raise NotImplementedError(
                            f"HDF5 attribute {name!r}: vlen of "
                            "dataset-region references"
                        )
                    addrs = np.frombuffer(obj[: cnt * 8], dtype="<u8")
                    vals.append([_RefAddr(int(a)) for a in addrs])
                else:
                    vals.append(
                        np.frombuffer(
                            obj[: cnt * base.np_dtype.itemsize],
                            dtype=base.np_dtype,
                        ).copy()
                    )
            return name, vals[0] if not shape else vals
        if dt.cls == 7:
            if dt.ref_type:
                raise NotImplementedError(
                    f"HDF5 attribute {name!r}: dataset-region "
                    "reference attributes are unsupported (decode "
                    "region references through the dataset read path)"
                )
            addrs = np.frombuffer(raw[: n * 8], dtype="<u8")
            vals = [_RefAddr(int(a)) for a in addrs]
            return name, vals[0] if not shape else vals
        if dt.cls == 6 and any(m[2].cls == 7 for m in dt.members):
            # compound attribute with reference members (netCDF-4
            # REFERENCE_LIST): rows decode to tuples, reference
            # members as _RefAddr (resolved post-walk)
            arr = np.frombuffer(raw[: n * dt.size], dtype=dt.np_dtype)
            vals = [
                tuple(
                    _RefAddr(int(row[mname]))
                    if mdt.cls == 7
                    else row[mname].item()
                    for mname, _off, mdt in dt.members
                )
                for row in arr
            ]
            return name, vals[0] if not shape else vals
        arr = np.frombuffer(raw[: n * dt.size], dtype=dt.np_dtype)
        if not shape:
            return name, arr[0].item()
        return name, arr.reshape(shape)

    def _gheap_collection(self, addr: int) -> dict[int, bytes]:
        """Parse (and memoize) one global heap collection: object index
        → object bytes. Dataset-scale vlen decode touches the same GCOL
        once per ELEMENT, so the per-collection cache turns an O(n ·
        collection) rescan into O(collection) + n dict hits."""
        cache = getattr(self, "_gcol_cache", None)
        if cache is None:
            cache = self._gcol_cache = {}
        got = cache.get(addr)
        if got is not None:
            return got
        buf = self.buf
        if buf[addr : addr + 4] != b"GCOL":
            raise ValueError("bad global heap signature")
        p = addr + 16
        end = addr + _up("<Q", buf, addr + 8)[0]
        got = {}
        while p < end:
            oidx, _rc = _up("<HH", buf, p)
            osize = _up("<Q", buf, p + 8)[0]
            if oidx == 0:
                break
            got[oidx] = bytes(buf[p + 16 : p + 16 + osize])
            p += 16 + ((osize + 7) & ~7)
        cache[addr] = got
        return got

    def _gheap_str(self, ref: bytes) -> str:
        _length, addr, idx = struct.unpack("<IQI", ref)
        obj = self._gheap_collection(addr).get(idx)
        if obj is None:
            raise ValueError(f"global heap object {idx} not found")
        return obj.decode("utf-8", "replace")

    def _vlen_seq_decode(self, arr: np.ndarray, base: np.dtype) -> np.ndarray:
        """16-byte vlen-sequence references → object array of 1-D
        numpy arrays (ragged). The reference's length field counts
        ELEMENTS; a NULL reference decodes as the empty sequence."""
        flat = arr.reshape(-1)
        out = np.empty(flat.shape[0], dtype=object)
        null = b"\x00" * 16
        for i in range(flat.shape[0]):
            b = flat[i].tobytes()
            if b == null:
                out[i] = np.empty(0, dtype=base)
                continue
            n, addr, idx = struct.unpack("<IQI", b)
            obj = self._gheap_collection(addr).get(idx)
            if obj is None:
                raise ValueError(f"global heap object {idx} not found")
            out[i] = np.frombuffer(
                obj[: n * base.itemsize], dtype=base
            ).copy()
        return out.reshape(arr.shape)

    def _vlen_nested_decode(
        self, arr: np.ndarray, base: np.dtype
    ) -> np.ndarray:
        """vlen-of-vlen (r11): each outer 16-byte reference's object
        holds `length` INNER 16-byte references; decode to an object
        array of lists of 1-D numpy arrays. NULL refs decode empty at
        either level."""
        flat = arr.reshape(-1)
        out = np.empty(flat.shape[0], dtype=object)
        null = b"\x00" * 16
        for i in range(flat.shape[0]):
            b = flat[i].tobytes()
            if b == null:
                out[i] = []
                continue
            n, addr, idx = struct.unpack("<IQI", b)
            obj = self._gheap_collection(addr).get(idx)
            if obj is None:
                raise ValueError(f"global heap object {idx} not found")
            inner_refs = np.frombuffer(obj[: n * 16], dtype=_V16)
            out[i] = list(self._vlen_seq_decode(inner_refs, base))
        return out.reshape(arr.shape)

    def _vlen_decode(self, arr: np.ndarray) -> np.ndarray:
        """16-byte vlen references (length:4, GCOL address:8, object
        index:4) → object array of str. A NULL reference (all-zero — an
        unwritten fill element) decodes as the empty string, matching
        h5py's read of never-written vlen cells."""
        flat = arr.reshape(-1)
        out = np.empty(flat.shape[0], dtype=object)
        null = b"\x00" * 16
        for i in range(flat.shape[0]):
            b = flat[i].tobytes()
            out[i] = "" if b == null else self._gheap_str(b)
        return out.reshape(arr.shape)

    # ----------------------------------------------------------- datasets
    def _dataset(self, name: str, msgs: list) -> H5Dataset:
        ds = H5Dataset(name=name, shape=(), dtype=_DType(cls=1, size=8))
        for mtype, body in msgs:
            if mtype == 0x01:
                ds.shape = _parse_dataspace(body)
                ds.maxdims = _parse_maxdims(body)
            elif mtype == 0x03:
                ds.dtype = _parse_datatype(body)
            elif mtype == 0x05:
                ds.fill = self._fill(body)
            elif mtype == 0x08:
                self._layout(ds, body)
            elif mtype == 0x0B:
                ds.filters = self._filters(body)
            elif mtype == 0x0C:
                k, v = self._attr(body)
                ds.attrs[k] = v
            elif mtype == 0x15:  # attribute info: dense storage
                for k, v in self._dense_attrs(body):
                    ds.attrs[k] = v
        return ds

    def _dense_attrs(self, body: bytes) -> list[tuple[str, object]]:
        """Attribute Info (0x15): when an object's attributes exceed
        the compact limit (8 with libver 'latest'), the serialized
        Attribute messages move to a fractal heap indexed by a type-8
        v2 B-tree. Ignoring this message would silently DROP every
        attribute of the object (units, calendar, fill) — decode it
        with the dense-link machinery."""
        flags = body[1]
        off = 2 + (2 if flags & 1 else 0)
        fheap, name_bt = _up("<QQ", body, off)
        if fheap == _UNDEF:
            return []
        from bcdp_spark.sources.h5dense import dense_attributes

        return [
            self._attr(ab)
            for ab in dense_attributes(self.buf, fheap, name_bt)
        ]

    def _fill(self, body: bytes):
        ver = body[0]
        if ver in (1, 2):
            defined = body[3]
            if not defined:
                return None
            size = _up("<I", body, 4)[0]
            return body[8 : 8 + size] or None
        if ver == 3:
            flags = body[1]
            if not (flags & 0x20):
                return None
            size = _up("<I", body, 2)[0]
            return body[6 : 6 + size] or None
        raise NotImplementedError(f"fill value version {ver}")

    def _layout(self, ds: H5Dataset, body: bytes) -> None:
        ver = body[0]
        if ver == 4:
            self._layout_v4(ds, body)
            return
        if ver != 3:
            raise NotImplementedError(f"data layout version {ver}")
        cls = body[1]
        if cls == 0:  # compact
            size = _up("<H", body, 2)[0]
            ds.layout, ds.compact = "compact", body[4 : 4 + size]
        elif cls == 1:  # contiguous
            ds.layout = "contiguous"
            ds.data_addr, ds.data_size = _up("<QQ", body, 2)
        elif cls == 2:  # chunked
            ndim = body[2]  # = rank + 1
            ds.layout = "chunked"
            ds.btree_addr = _up("<Q", body, 3)[0]
            dims = _up(f"<{ndim}I", body, 11)
            ds.chunk_shape = tuple(dims[:-1])  # last entry = element size
        else:
            raise NotImplementedError(f"data layout class {cls}")

    def _layout_v4(self, ds: H5Dataset, body: bytes) -> None:
        """Data Layout v4 (HDF5 1.10 'latest' format). Chunked storage
        stores RANK dims in element units plus a chunk-index type:
        1=single chunk, 2=implicit (unfiltered address arithmetic),
        3=fixed array, 4=extensible array, 5=v2 B-tree. The first three
        are what fixed-shape datasets get; the last two (appendable
        dims) raise loudly."""
        cls = body[1]
        if cls == 0:
            size = _up("<H", body, 2)[0]
            ds.layout, ds.compact = "compact", body[4 : 4 + size]
            return
        if cls == 1:
            ds.layout = "contiguous"
            ds.data_addr, ds.data_size = _up("<QQ", body, 2)
            return
        if cls != 2:
            raise NotImplementedError(f"layout v4 class {cls}")
        flags = body[2]
        rank = body[3]
        enc = body[4]
        pos = 5
        dims = tuple(
            int.from_bytes(body[pos + i * enc : pos + (i + 1) * enc], "little")
            for i in range(rank)
        )
        pos += rank * enc
        itype = body[pos]
        pos += 1
        ds.layout = "chunked"
        ds.chunk_shape = dims
        if itype == 1:  # single chunk
            ds.chunk_index = "single"
            if flags & 0x02:  # filtered single chunk
                ds.single_nbytes = _up("<Q", body, pos)[0]
                ds.single_fmask = _up("<I", body, pos + 8)[0]
                pos += 12
        elif itype == 2:
            ds.chunk_index = "implicit"
        elif itype == 3:
            ds.chunk_index = "fixed_array"
            pos += 1  # page bits (re-read from the FA header)
        elif itype == 4:
            ds.chunk_index = "extensible_array"
            # creation params (max bits, index elmts, min ptrs, min
            # elmts, page bits) — re-read from the EAHD header
            pos += 5
        elif itype == 5:
            ds.chunk_index = "btree2"
            # creation params (node size 4, split% 1, merge% 1) —
            # re-read from the BTHD header
            pos += 6
        else:
            raise NotImplementedError(
                f"layout v4 chunk index type {itype}"
            )
        ds.btree_addr = _up("<Q", body, pos)[0]

    def _filters(self, body: bytes) -> list:
        ver = body[0]
        nf = body[1]
        out = []
        pos = 8 if ver == 1 else 2
        for _ in range(nf):
            fid = _up("<H", body, pos)[0]
            pos += 2
            if ver == 1 or fid >= 256:
                name_len = _up("<H", body, pos)[0]
                pos += 2
            else:
                name_len = 0
            flags, ncv = _up("<HH", body, pos)
            pos += 4
            pos += (name_len + 7) & ~7 if ver == 1 else name_len
            cvals = _up(f"<{ncv}I", body, pos)
            pos += 4 * ncv
            if ver == 1 and ncv % 2:
                pos += 4
            out.append((fid, flags, cvals))
        return out

    # --------------------------------------------------------------- read
    def read(self, name: str, sel: tuple | None = None) -> np.ndarray:
        """Materialize a dataset, optionally restricted to a hyperslab
        ``sel`` (one ``slice`` per dimension, or None). For chunked
        layouts only the intersecting chunks are decoded; for a
        contiguous layout restricted on the FIRST axis only, just that
        byte range is touched — both make a time-partitioned scan of
        one huge archive file read O(slab), not O(file)."""
        ds = self.datasets[name]
        if ds.dtype.cls == 9:
            # vlen elements (strings AND sequences) are stored as
            # 16-byte global-heap references; run the normal layout
            # machinery on the raw reference array (contiguous
            # byte-slab fast path, chunk filter pipeline, fill
            # handling all apply unchanged), then resolve references
            # through the memoized GCOL parse (r10, VERDICT r9 item 3
            # — NetCDF-4 string/ragged variables in obs archives)
            raw = self._read_slab(ds, sel, _V16)
            if ds.dtype.vlen_string:
                return self._vlen_decode(raw)
            if ds.dtype.base.cls == 9:  # vlen-of-vlen (r11)
                return self._vlen_nested_decode(
                    raw, ds.dtype.base.base.np_dtype
                )
            if ds.dtype.base.cls == 7:
                if ds.dtype.base.ref_type:
                    raise NotImplementedError(
                        f"dataset {ds.name!r}: vlen of dataset-region "
                        "references"
                    )
                # vlen-of-reference DATASET (r11): sequences of object
                # references decode to lists of paths, like the
                # DIMENSION_LIST attribute form
                seqs = self._vlen_seq_decode(raw, np.dtype("<u8"))
                out = np.empty(seqs.shape, dtype=object)
                for i, a in enumerate(seqs.reshape(-1)):
                    out.reshape(-1)[i] = list(
                        self._ref_decode(np.asarray(a))
                    )
                return out
            return self._vlen_seq_decode(raw, ds.dtype.base.np_dtype)
        if ds.dtype.cls == 7:
            if ds.dtype.ref_type == 1:
                # dataset-region references (r12): the layout
                # machinery reads the raw 12-byte heap-ID array
                # (8-byte collection address + 4-byte index) through
                # the same slab/chunk/filter paths, then each heap
                # object decodes to an H5RegionRef — target header
                # address resolved to a path via the walk-time map,
                # serialized selection parsed by _sel_parse. All-zero
                # IDs (NULL references) decode to H5RegionRef(None).
                raw = self._read_slab(
                    ds,
                    sel,
                    np.dtype(
                        {
                            "names": ["addr", "idx"],
                            "formats": ["<u8", "<u4"],
                            "offsets": [0, 8],
                            "itemsize": 12,
                        }
                    ),
                )
                return self._regref_decode(raw)
            # object references (r11): the layout machinery reads the
            # raw 8-byte address array unchanged (contiguous slab fast
            # path, chunk filters, fill handling), then each address
            # resolves to the referenced object's PATH through the
            # walk-time map — the DSG index-variable decode (station/
            # profile datasets named per observation). NULL (0) and
            # undefined addresses decode as "".
            raw = self._read_slab(ds, sel, np.dtype("<u8"))
            return self._ref_decode(raw)
        if ds.dtype.cls == 6 and any(
            m[2].cls == 9 for m in ds.dtype.members
        ):
            # compound with vlen members (r12): the slab read returns
            # the stored record layout with 16-byte GCOL references
            # in the vlen fields; re-pack into a structured array
            # whose vlen fields are object columns (str for vlen
            # strings, ragged 1-D arrays for numeric sequences) — the
            # CF-DSG obs-record shape (netCDF-4 compounds with
            # station-name / ragged-profile fields)
            raw = self._read_slab(ds, sel, ds.dtype.np_dtype)
            out = np.empty(
                raw.shape,
                dtype=np.dtype(
                    [
                        (
                            m[0],
                            object
                            if m[2].cls == 9
                            else raw.dtype.fields[m[0]][0],
                        )
                        for m in ds.dtype.members
                    ]
                ),
            )
            for mname, _off, sub in ds.dtype.members:
                field = np.ascontiguousarray(raw[mname])
                if sub.cls != 9:
                    out[mname] = field
                elif sub.vlen_string:
                    out[mname] = self._vlen_decode(field)
                else:
                    out[mname] = self._vlen_seq_decode(
                        field, sub.base.np_dtype
                    )
            return out
        return self._read_slab(ds, sel, ds.dtype.np_dtype)

    def _ref_decode(self, arr: np.ndarray) -> np.ndarray:
        """8-byte object-reference addresses → object array of path
        strings. An address the group walk never visited is a loud
        error (a dangling or external reference), never garbage."""
        flat = arr.reshape(-1)
        out = np.empty(flat.shape, dtype=object)
        for i, a in enumerate(flat):
            a = int(a)
            if a == 0 or a == _UNDEF:
                out[i] = ""
            else:
                try:
                    out[i] = self._path_by_addr[a]
                except KeyError:
                    raise ValueError(
                        f"object reference to unknown header address "
                        f"{a:#x} (dangling or external reference)"
                    ) from None
        return out.reshape(arr.shape)

    def _regref_decode(self, arr: np.ndarray) -> np.ndarray:
        """12-byte dataset-region heap IDs → object array of
        :class:`H5RegionRef`. The heap object's first 8 bytes are the
        target's object-header address (resolved through the same
        walk-time map as object references — dangling is a loud
        error); the rest is the serialized dataspace selection."""
        flat = arr.reshape(-1)
        out = np.empty(flat.shape, dtype=object)
        for i, rec in enumerate(flat):
            addr, idx = int(rec["addr"]), int(rec["idx"])
            if addr == 0 or addr == _UNDEF:
                out[i] = H5RegionRef(None)
                continue
            obj = self._gheap_collection(addr).get(idx)
            if obj is None:
                raise ValueError(
                    f"region reference heap object {idx} not found in "
                    f"collection at {addr:#x}"
                )
            tgt = struct.unpack_from("<Q", obj, 0)[0]
            if tgt == 0 or tgt == _UNDEF:
                path = ""
            else:
                try:
                    path = self._path_by_addr[tgt]
                except KeyError:
                    raise ValueError(
                        f"region reference to unknown header address "
                        f"{tgt:#x} (dangling or external reference)"
                    ) from None
            kind, blocks, points = _sel_parse(obj, 8)
            out[i] = H5RegionRef(
                path, kind=kind, blocks=blocks, points=points
            )
        return out.reshape(arr.shape)

    def read_region(self, ref: H5RegionRef) -> np.ndarray:
        """Materialize the elements a region reference selects, as a
        FLAT array in selection order (blocks in stored order,
        row-major within a block; points in stored order — libhdf5's
        H5Dread-on-region semantics for the shapes we decode). NULL
        references and 'none' selections yield an empty array. Each
        hyperslab block / point reads through ``read``'s slab path, so
        a chunked target only decodes intersecting chunks."""
        if ref.target is None:
            return np.empty(0)
        if ref.target not in self.datasets:
            raise ValueError(
                f"region reference target {ref.target!r} is not a "
                "dataset in this file"
            )
        ds = self.datasets[ref.target]
        if ref.kind == "all":
            return self.read(ref.target).reshape(-1)
        if ref.kind == "none":
            return np.empty(0, dtype=ds.dtype.np_dtype)
        if ref.kind == "points":
            for p in ref.points:
                if len(p) != len(ds.shape) or any(
                    c >= n for c, n in zip(p, ds.shape)
                ):
                    raise ValueError(
                        f"region point {p} outside {ref.target!r} "
                        f"shape {ds.shape}"
                    )
            vals = [
                self.read(
                    ref.target,
                    sel=tuple(slice(c, c + 1) for c in p),
                ).reshape(-1)
                for p in ref.points
            ]
        else:
            for start, stop in ref.blocks:
                if len(start) != len(ds.shape) or any(
                    e > n for e, n in zip(stop, ds.shape)
                ):
                    raise ValueError(
                        f"region block {(start, stop)} outside "
                        f"{ref.target!r} shape {ds.shape}"
                    )
            vals = [
                self.read(
                    ref.target,
                    sel=tuple(
                        slice(s, e) for s, e in zip(start, stop)
                    ),
                ).reshape(-1)
                for start, stop in ref.blocks
            ]
        return (
            np.concatenate(vals)
            if vals
            else np.empty(0, dtype=ds.dtype.np_dtype)
        )

    def _read_slab(
        self, ds: "H5Dataset", sel: tuple | None, dt: np.dtype
    ) -> np.ndarray:
        rank = len(ds.shape)
        if sel is not None:
            sel = tuple(
                slice(*s.indices(ds.shape[d])) for d, s in enumerate(sel)
            )
            out_shape = tuple(s.stop - s.start for s in sel)
        else:
            out_shape = ds.shape
        if ds.layout == "compact":
            full = np.frombuffer(ds.compact, dtype=dt).reshape(ds.shape)
            return (full[sel] if sel else full).copy()
        if ds.layout == "contiguous":
            if ds.data_addr == _UNDEF:
                return self._fill_array(ds, dt, out_shape)
            if sel is not None and all(
                s.start == 0 and s.stop == ds.shape[d]
                for d, s in enumerate(sel)
                if d > 0
            ):
                # axis-0 slab = one contiguous byte range (row-major)
                row = int(np.prod(ds.shape[1:], dtype=np.int64)) if rank > 1 else 1
                start = ds.data_addr + sel[0].start * row * dt.itemsize
                nb = (sel[0].stop - sel[0].start) * row * dt.itemsize
                raw = self.buf[start : start + nb]
                return np.frombuffer(raw, dtype=dt).reshape(out_shape).copy()
            raw = self.buf[ds.data_addr : ds.data_addr + ds.data_size]
            full = np.frombuffer(raw, dtype=dt).reshape(ds.shape)
            return (full[sel] if sel else full).copy()
        out = self._fill_array(ds, dt, out_shape)
        if ds.btree_addr == _UNDEF:
            return out
        base = tuple(s.start for s in sel) if sel else (0,) * rank
        bound = tuple(s.stop for s in sel) if sel else ds.shape
        for offsets, addr, nbytes, fmask in self._chunks(ds, rank):
            if any(
                offsets[d] >= bound[d]
                or offsets[d] + ds.chunk_shape[d] <= base[d]
                for d in range(rank)
            ):
                continue  # chunk wholly outside the slab: never decoded
            raw = defilter_chunk(
                self.buf[addr : addr + nbytes],
                ds.filters, dt, ds.chunk_shape, fmask, ds.name,
            )
            chunk = np.frombuffer(raw, dtype=dt).reshape(ds.chunk_shape)
            sel_out, sel_in = [], []
            skip = False
            for d in range(rank):
                lo = max(offsets[d], base[d])
                hi = min(offsets[d] + ds.chunk_shape[d], bound[d])
                if lo >= hi:
                    skip = True
                    break
                sel_out.append(slice(lo - base[d], hi - base[d]))
                sel_in.append(slice(lo - offsets[d], hi - offsets[d]))
            if not skip:
                out[tuple(sel_out)] = chunk[tuple(sel_in)]
        return out

    def _fill_array(
        self, ds: H5Dataset, dt: np.dtype, shape: tuple | None = None
    ) -> np.ndarray:
        shape = ds.shape if shape is None else shape
        if dt.kind == "V":
            # vlen reference array: an unallocated region is NULL
            # references (zero bytes), which decode as "" — a stored
            # vlen fill value is itself a reference, honored only when
            # it is exactly one raw element wide
            if ds.fill is not None and len(ds.fill) == dt.itemsize:
                fv = np.frombuffer(ds.fill, dtype=dt)[0]
                return np.full(shape, fv, dtype=dt)
            return np.zeros(shape, dtype=dt)
        if ds.fill is not None:
            fv = np.frombuffer(ds.fill, dtype=dt)[0]
            return np.full(shape, fv, dtype=dt)
        if dt.kind == "f":
            return np.full(shape, np.nan, dtype=dt)
        return np.zeros(shape, dtype=dt)

    def _chunks(self, ds: H5Dataset, rank: int):
        if ds.chunk_index == "single":
            raw_bytes = (
                int(np.prod(ds.chunk_shape, dtype=np.int64))
                * ds.dtype.np_dtype.itemsize
            )
            nbytes = ds.single_nbytes or raw_bytes
            yield (0,) * rank, ds.btree_addr, nbytes, ds.single_fmask
            return
        if ds.chunk_index == "implicit":
            yield from self._implicit_chunks(ds, rank)
            return
        if ds.chunk_index == "fixed_array":
            yield from self._fixed_array_chunks(ds, rank)
            return
        if ds.chunk_index == "extensible_array":
            yield from self._extensible_array_chunks(ds, rank)
            return
        if ds.chunk_index == "btree2":
            yield from self._btree2_chunks(ds, rank)
            return
        buf = self.buf
        keylen = 8 + 8 * (rank + 1)

        def walk(addr: int):
            if buf[addr : addr + 4] != b"TREE":
                raise ValueError("bad chunk B-tree signature")
            level = buf[addr + 5]
            used = _up("<H", buf, addr + 6)[0]
            pos = addr + 24  # sig+type+level+used + 2 sibling addrs
            for _ in range(used):
                nbytes, fmask = _up("<II", buf, pos)
                offsets = _up(f"<{rank}Q", buf, pos + 8)
                child = _up("<Q", buf, pos + keylen)[0]
                pos += keylen + 8
                if level > 0:
                    yield from walk(child)
                else:
                    yield offsets, child, nbytes, fmask

        yield from walk(ds.btree_addr)


    def _chunk_grid(self, ds: H5Dataset):
        grid = [
            (s + c - 1) // c for s, c in zip(ds.shape, ds.chunk_shape)
        ]
        idxs = [()]
        for g in grid:
            idxs = [i + (j,) for i in idxs for j in range(g)]
        return [
            tuple(i * c for i, c in zip(idx, ds.chunk_shape)) for idx in idxs
        ]

    def _implicit_chunks(self, ds: H5Dataset, rank: int):
        """v4 implicit index: unfiltered chunks contiguous in C order of
        the chunk grid starting at the index address."""
        nb = (
            int(np.prod(ds.chunk_shape, dtype=np.int64))
            * ds.dtype.np_dtype.itemsize
        )
        for k, offsets in enumerate(self._chunk_grid(ds)):
            yield offsets, ds.btree_addr + k * nb, nb, 0

    def _fixed_array_chunks(self, ds: H5Dataset, rank: int):
        """v4 fixed-array index: FAHD header -> FADB data block holding
        one element per chunk in C grid order. Client 0 = plain chunk
        addresses; client 1 = (address, size, filter mask). Data blocks
        page when the element count exceeds 2^page_bits (each page
        carries its own trailing checksum)."""
        buf = self.buf
        hdr = ds.btree_addr
        if buf[hdr : hdr + 4] != b"FAHD":
            raise ValueError("bad fixed-array header signature")
        client = buf[hdr + 5]
        entry_size = buf[hdr + 6]
        page_bits = buf[hdr + 7]
        nelmts = _up("<Q", buf, hdr + 8)[0]
        dblk = _up("<Q", buf, hdr + 16)[0]
        if dblk == _UNDEF:
            return
        if buf[dblk : dblk + 4] != b"FADB":
            raise ValueError("bad fixed-array data block signature")
        pos = dblk + 6 + 8  # sig, version, client id, header address
        page_n = 1 << page_bits
        offsets = self._chunk_grid(ds)
        raw_nb = (
            int(np.prod(ds.chunk_shape, dtype=np.int64))
            * ds.dtype.np_dtype.itemsize
        )

        def element(p: int):
            addr = _up("<Q", buf, p)[0]
            if client == 0:
                return addr, raw_nb, 0
            size_len = entry_size - 8 - 4
            nb = int.from_bytes(buf[p + 8 : p + 8 + size_len], "little")
            fmask = _up("<I", buf, p + 8 + size_len)[0]
            return addr, nb, fmask

        if nelmts > page_n:  # paged data block
            npages = (nelmts + page_n - 1) // page_n
            pos += (npages + 7) // 8  # page-init bitmask
            k = 0
            for pg in range(npages):
                in_page = min(page_n, nelmts - pg * page_n)
                for e in range(in_page):
                    addr, nb, fmask = element(pos + e * entry_size)
                    if addr != _UNDEF:
                        yield offsets[k], addr, nb, fmask
                    k += 1
                pos += in_page * entry_size + 4  # + page checksum
        else:
            for k in range(nelmts):
                addr, nb, fmask = element(pos + k * entry_size)
                if addr != _UNDEF:
                    yield offsets[k], addr, nb, fmask

    def _btree2_chunks(self, ds: H5Dataset, rank: int):
        """v4 version-2 B-tree index (HDF5 1.10 'latest', ≥2 unlimited
        dimensions). Record type 10 (unfiltered): address + per-dim
        SCALED offsets (chunk grid indices); type 11 (filtered): adds
        a variable-width chunk size + 4-byte filter mask before the
        offsets. The walker is the same spec machinery the dense-link
        name index uses (sources/h5dense.py)."""
        from bcdp_spark.sources.h5dense import BTree2

        bt = BTree2(self.buf, ds.btree_addr)
        if bt.btype not in (10, 11):
            raise ValueError(
                f"expected chunk v2 B-tree (type 10/11), got {bt.btype}"
            )
        raw_nb = (
            int(np.prod(ds.chunk_shape, dtype=np.int64))
            * ds.dtype.np_dtype.itemsize
        )
        for rec in bt.records():
            (addr,) = _up("<Q", rec, 0)
            if bt.btype == 10:
                nb, fmask, off0 = raw_nb, 0, 8
            else:
                size_len = bt.rec_size - 12 - 8 * rank
                nb = int.from_bytes(rec[8 : 8 + size_len], "little")
                (fmask,) = _up("<I", rec, 8 + size_len)
                off0 = 12 + size_len
            scaled = _up(f"<{rank}Q", rec, off0)
            offsets = tuple(
                s * c for s, c in zip(scaled, ds.chunk_shape)
            )
            yield offsets, addr, nb, fmask

    def _extensible_array_chunks(self, ds: H5Dataset, rank: int):
        """v4 extensible-array index (HDF5 1.10 'latest', ONE unlimited
        dimension — the appendable-time-dim archive layout).

        Geometry, from the public spec (III.A.3) + H5EA sources: the
        first ``idx_blk_elmts`` elements live inline in the index
        block (EAIB); the rest go to data blocks (EADB) organized in
        super blocks u = 0, 1, 2, ... where super block u holds
        ``2^(u//2)`` data blocks of ``min_elmts · 2^((u+1)//2)``
        elements each (so capacity doubles per super block). The data
        blocks of the first ``2·log2(min_ptrs)`` super blocks are
        addressed directly from the index block (``2·(min_ptrs-1)``
        addresses); later super blocks get their own EASB object
        holding their data-block addresses. A data block whose element
        count exceeds ``2^page_bits`` is paged: the elements move out
        of the block into consecutive pages, each with its own
        trailing checksum.

        Element k maps to the chunk at SWIZZLED C-order grid index k:
        HDF5 moves the unlimited dimension to the front before
        linearizing (H5VM_swizzle_coords — that way growth along the
        unlimited axis appends elements instead of renumbering
        existing ones). Axis-0 unlimited (the common appendable-time
        archive) makes swizzled order == plain C-order; r9 adds the
        non-leading case (h5py ``maxshape=(10, None)``) by unswizzling
        each element index back to real chunk offsets. Multiple
        unlimited dimensions use the v2 B-tree index per the format
        spec, so >1 here still raises loudly."""
        swizzle_axis = 0
        if ds.maxdims is not None:
            unlim = [d for d, m in enumerate(ds.maxdims) if m == _UNDEF]
            if len(unlim) > 1:
                raise NotImplementedError(
                    f"extensible-array index with unlimited dimensions "
                    f"{unlim} (the format uses a v2 B-tree for >1)"
                )
            if unlim:
                swizzle_axis = unlim[0]
        buf = self.buf
        hdr = ds.btree_addr
        if buf[hdr : hdr + 4] != b"EAHD":
            raise ValueError("bad extensible-array header signature")
        client = buf[hdr + 5]
        elmt_size = buf[hdr + 6]
        max_bits = buf[hdr + 7]
        idx_elmts = buf[hdr + 8]
        min_elmts = buf[hdr + 9]
        min_ptrs = buf[hdr + 10]
        page_bits = buf[hdr + 11]
        max_idx_set = _up("<Q", buf, hdr + 12 + 32)[0]
        iblk = _up("<Q", buf, hdr + 12 + 48)[0]
        if iblk == _UNDEF or max_idx_set == 0:
            return
        if buf[iblk : iblk + 4] != b"EAIB":
            raise ValueError("bad extensible-array index block signature")
        off_size = (max_bits + 7) // 8  # block-offset field width
        page_n = 1 << page_bits
        raw_nb = (
            int(np.prod(ds.chunk_shape, dtype=np.int64))
            * ds.dtype.np_dtype.itemsize
        )

        def element(p: int):
            addr = _up("<Q", buf, p)[0]
            if client == 0:
                return addr, raw_nb, 0
            size_len = elmt_size - 8 - 4
            nb = int.from_bytes(buf[p + 8 : p + 8 + size_len], "little")
            fmask = _up("<I", buf, p + 8 + size_len)[0]
            return addr, nb, fmask

        def dblock_elements(dblk_addr: int, nelmts: int):
            """Yield (addr, nb, fmask) for every element slot of one
            data block, honoring paging."""
            if buf[dblk_addr : dblk_addr + 4] != b"EADB":
                raise ValueError("bad extensible-array data block")
            pos = dblk_addr + 6 + 8 + off_size  # sig/ver/client, hdr, off
            if nelmts > page_n:  # paged: header checksum, then pages
                pos += 4
                done = 0
                while done < nelmts:
                    in_page = min(page_n, nelmts - done)
                    for e in range(in_page):
                        yield element(pos + e * elmt_size)
                    pos += in_page * elmt_size + 4  # + page checksum
                    done += in_page
            else:
                for e in range(nelmts):
                    yield element(pos + e * elmt_size)

        if swizzle_axis == 0:
            offsets = self._chunk_grid(ds)
        else:
            # element k lives at swizzled C-order index k: unravel
            # over the swizzled grid (unlimited dim first, others in
            # relative order) and permute back to real offsets
            grid = [
                -(-s // c) for s, c in zip(ds.shape, ds.chunk_shape)
            ]
            order = [swizzle_axis] + [
                d for d in range(rank) if d != swizzle_axis
            ]
            sw_grid = [grid[d] for d in order]
            offsets = []
            for k2 in range(int(np.prod(sw_grid, dtype=np.int64))):
                rem, sw = k2, []
                for g in reversed(sw_grid):
                    sw.append(rem % g)
                    rem //= g
                sw.reverse()
                idx = [0] * rank
                for pos, d in enumerate(order):
                    idx[d] = sw[pos]
                offsets.append(tuple(
                    idx[d] * ds.chunk_shape[d] for d in range(rank)
                ))
        n_direct = 2 * (min_ptrs - 1)  # dblk addrs inline in the EAIB
        iblock_nsblks = 2 * (min_ptrs.bit_length() - 1)
        elmts_pos = iblk + 6 + 8
        dblk_addr_pos = elmts_pos + idx_elmts * elmt_size
        sblk_addr_pos = dblk_addr_pos + n_direct * 8

        # elements past the current chunk grid (shape shrank after
        # writing) are simply skipped
        ngrid = len(offsets)
        k = 0  # global element index
        for e in range(min(idx_elmts, max_idx_set)):
            addr, nb, fmask = element(elmts_pos + e * elmt_size)
            if addr != _UNDEF and k < ngrid:
                yield offsets[k], addr, nb, fmask
            k += 1
        u = 0
        direct_i = 0
        sblk_i = 0
        while k < max_idx_set:
            ndblks = 1 << (u // 2)
            dblk_nelmts = min_elmts << ((u + 1) // 2)
            if u < iblock_nsblks:
                dblk_addrs = [
                    _up(
                        "<Q", buf, dblk_addr_pos + (direct_i + j) * 8
                    )[0]
                    for j in range(ndblks)
                ]
                direct_i += ndblks
            else:
                sblk = _up(
                    "<Q", buf, sblk_addr_pos + sblk_i * 8
                )[0]
                sblk_i += 1
                if sblk == _UNDEF:
                    dblk_addrs = [_UNDEF] * ndblks
                else:
                    if buf[sblk : sblk + 4] != b"EASB":
                        raise ValueError("bad extensible-array super block")
                    p = sblk + 6 + 8 + off_size
                    if dblk_nelmts > page_n:  # page-init bitmap
                        npages = dblk_nelmts // page_n
                        p += (ndblks * npages + 7) // 8
                    dblk_addrs = [
                        _up("<Q", buf, p + j * 8)[0]
                        for j in range(ndblks)
                    ]
            for da in dblk_addrs:
                todo = min(dblk_nelmts, max_idx_set - k)
                if todo <= 0:
                    break
                if da == _UNDEF:
                    k += todo
                    continue
                for addr, nb, fmask in dblock_elements(da, dblk_nelmts):
                    if k >= max_idx_set:
                        break
                    if addr != _UNDEF and k < ngrid:
                        yield offsets[k], addr, nb, fmask
                    k += 1
            u += 1


def read_hdf5(data: bytes) -> H5File:
    return H5File(data)


# ---------------------------------------------------------------------------
# Writer (deterministic fixtures; two on-disk profiles)
# ---------------------------------------------------------------------------


def _gcol_blob(objects: list[bytes]) -> bytes:
    """One global heap collection holding ``objects`` at indexes
    1..n: GCOL signature + v1 header, 8-padded object records, a
    terminating index-0 free-space record, padded to the spec's
    4096-byte minimum collection size."""
    body = bytearray()
    for j, s in enumerate(objects, start=1):
        body += struct.pack("<HHIQ", j, 1, 0, len(s))
        body += s + b"\x00" * (-len(s) % 8)
    size = max(4096, (16 + len(body) + 16 + 7) & ~7)
    blob = bytearray(struct.pack("<4sB3xQ", b"GCOL", 1, size))
    blob += body
    free = size - len(blob)
    if free >= 16:
        blob += struct.pack("<HHIQ", 0, 0, 0, free)
    blob += b"\x00" * (size - len(blob))
    return bytes(blob)


def _vlen_str_dt_body() -> bytes:
    """Datatype message for a vlen string (class 9, type 1 = string,
    UTF-8 charset in bits 8-11, 16-byte reference elements) with the
    conventional 1-byte string base type trailing."""
    return struct.pack("<BBBBI", 0x19, 0x01, 0x01, 0, 16) + _dt_body(
        np.dtype("S1")
    )


def _dt_body(
    arr_dtype: np.dtype,
    ref_members: set | None = None,
    vlen_members: dict | None = None,
) -> bytes:
    """Datatype message body for a little-endian numpy dtype.
    ``ref_members`` names compound members (u8 fields holding object
    header addresses) to emit as class-7 OBJECT REFERENCES (r11);
    ``vlen_members`` maps compound member names (16-byte V16 fields
    holding GCOL references) to ``("str", None)`` /
    ``("seq", base_dtype)`` for class-9 vlen emission (r12)."""
    dt = np.dtype(arr_dtype)
    if dt.kind == "f":
        if dt.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        elif dt.itemsize == 4:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        else:
            raise NotImplementedError(f"float size {dt.itemsize}")
        sign_loc = dt.itemsize * 8 - 1
        head = struct.pack(
            "<BBBBI", 0x11, 0x20, sign_loc, 0, dt.itemsize
        )
        return head + props
    if dt.kind in ("i", "u"):
        b0 = 0x08 if dt.kind == "i" else 0x00
        head = struct.pack("<BBBBI", 0x10, b0, 0, 0, dt.itemsize)
        return head + struct.pack("<HH", 0, dt.itemsize * 8)
    if dt.kind == "S":
        return struct.pack("<BBBBI", 0x13, 0x00, 0, 0, dt.itemsize)
    if dt.subdtype is not None:
        # class-10 array (v2 encoding, libhdf5's archival form):
        # dimensionality + 3 reserved + dim sizes + zeroed permutation
        # indexes (never implemented by libhdf5) + base datatype
        base, shape = dt.subdtype
        ndims = len(shape)
        head = struct.pack("<BBBBI", 0x2A, 0, 0, 0, dt.itemsize)
        body = struct.pack("<B3x", ndims)
        body += struct.pack(f"<{ndims}I", *shape)
        body += struct.pack(f"<{ndims}I", *([0] * ndims))
        return head + body + _dt_body(base)
    if dt.kind == "V" and dt.names:
        # v1 compound: padded name + byte offset + 28 zeroed
        # array-member octets + the member's own datatype message
        nmem = len(dt.names)
        body = b""
        for n in dt.names:
            fdt, off = dt.fields[n][0], dt.fields[n][1]
            nameb = n.encode("utf-8") + b"\x00"
            nameb += b"\x00" * (-len(nameb) % 8)
            if ref_members and n in ref_members:
                if np.dtype(fdt) != np.dtype("<u8"):
                    raise ValueError(
                        f"ref member {n!r} must be a <u8 address field"
                    )
                mbody = struct.pack("<BBBBI", 0x17, 0x00, 0x00, 0, 8)
            elif vlen_members and n in vlen_members:
                vkind, vbase = vlen_members[n]
                if np.dtype(fdt) != _V16:
                    raise ValueError(
                        f"vlen member {n!r} must be a V16 field"
                    )
                if vkind == "str":
                    mbody = _vlen_str_dt_body()
                else:
                    mbody = struct.pack(
                        "<BBBBI", 0x19, 0x00, 0x00, 0, 16
                    ) + _dt_body(vbase)
            else:
                mbody = _dt_body(fdt)
            body += (
                nameb
                + struct.pack("<I", off)
                + b"\x00" * 28
                + mbody
            )
        head = struct.pack(
            "<BBBBI", 0x16, nmem & 0xFF, (nmem >> 8) & 0xFF, 0,
            dt.itemsize,
        )
        return head + body
    raise NotImplementedError(f"write dtype {dt}")


def _ds_body(shape: tuple, maxshape: tuple | None = None) -> bytes:
    """Dataspace v1 body; ``maxshape`` entries of None mean
    H5S_UNLIMITED (stored as all-ones per the spec)."""
    flags = 0x1 if maxshape is not None else 0
    body = struct.pack("<BBBxxxxx", 1, len(shape), flags)
    for s in shape:
        body += struct.pack("<Q", s)
    if maxshape is not None:
        if len(maxshape) != len(shape):
            raise ValueError("maxshape rank mismatch")
        for m in maxshape:
            body += struct.pack("<Q", _UNDEF if m is None else m)
    return body


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _attr_frame(name: str, dt: bytes, ds: bytes, data: bytes) -> bytes:
    nameb = name.encode("utf-8") + b"\x00"
    return (
        struct.pack("<BxHHH", 1, len(nameb), len(dt), len(ds))
        + _pad8(nameb)
        + _pad8(dt)
        + _pad8(ds)
        + data
    )


def _attr_body_refs(name, val, alloc, var_hdr_addr):
    """Attribute bodies for the netCDF-4 reference-bookkeeping shapes
    (r11), or None when ``val`` is not reference-shaped:

    - DIMENSION_LIST: a list (one element per dimension) of lists of
      ``H5ObjRef`` — encoded as a vlen(object-reference) attribute
      (class 9 over class 7, per-element GCOL objects of 8-byte
      addresses);
    - REFERENCE_LIST: a list of ``(H5ObjRef, int)`` tuples — encoded
      as the compound {dataset: class 7 @0, index: u4 @8} array.

    Targets must already be written (one-pass allocation, like every
    other reference in this writer)."""

    def addr_of(r):
        if r.target is None:
            return 0
        if r.target not in var_hdr_addr:
            raise ValueError(
                f"object reference target {r.target!r} must be a"
                " variable listed BEFORE the referencing attribute"
            )
        return var_hdr_addr[r.target]

    if (
        isinstance(val, list)
        and val
        and all(isinstance(x, list) for x in val)
        and any(isinstance(r, H5ObjRef) for x in val for r in x)
    ):
        enc = [
            np.array([addr_of(r) for r in x], dtype="<u8").tobytes()
            for x in val
        ]
        gaddr = alloc.put(_gcol_blob(enc))
        data = b"".join(
            struct.pack("<IQI", len(x), gaddr, j)
            for j, x in enumerate(val, start=1)
        )
        dt = struct.pack("<BBBBI", 0x19, 0x00, 0x00, 0, 16) + struct.pack(
            "<BBBBI", 0x17, 0x00, 0x00, 0, 8
        )
        return _attr_frame(name, dt, _ds_body((len(val),)), data)
    if (
        isinstance(val, list)
        and val
        and all(
            isinstance(x, tuple)
            and len(x) == 2
            and isinstance(x[0], H5ObjRef)
            for x in val
        )
    ):
        data = b"".join(
            struct.pack("<QI", addr_of(r), int(i)) for r, i in val
        )

        def mem(nm, off, body_):
            nb = nm.encode("utf-8") + b"\x00"
            nb += b"\x00" * (-len(nb) % 8)
            return nb + struct.pack("<I", off) + b"\x00" * 28 + body_

        u4 = struct.pack("<BBBBI", 0x10, 0x00, 0, 0, 4) + struct.pack(
            "<HH", 0, 32
        )
        dt = (
            struct.pack("<BBBBI", 0x16, 2, 0, 0, 12)
            + mem("dataset", 0, struct.pack("<BBBBI", 0x17, 0, 0, 0, 8))
            + mem("index", 8, u4)
        )
        return _attr_frame(name, dt, _ds_body((len(val),)), data)
    return None


def _attr_body(name: str, val: object) -> bytes:
    """Attribute message v1 body."""
    if isinstance(val, str):
        data = val.encode("utf-8")
        dt = _dt_body(np.dtype(f"S{max(len(data), 1)}"))
        ds = _ds_body(())
        if not data:
            data = b"\x00"
    else:
        arr = np.asarray(val)
        if arr.dtype.kind == "f":
            arr = arr.astype("<f8")
        elif arr.dtype.kind in ("i", "u"):
            arr = arr.astype("<i8")
        dt = _dt_body(arr.dtype)
        ds = _ds_body(arr.shape)
        data = arr.tobytes()
    nameb = name.encode("utf-8") + b"\x00"
    return (
        struct.pack("<BxHHH", 1, len(nameb), len(dt), len(ds))
        + _pad8(nameb)
        + _pad8(dt)
        + _pad8(ds)
        + data
    )


def _v4_chunked_layout(
    alloc: "_Alloc",
    itype: str,
    chunk_blobs: list,
    cshape: tuple,
    arr: np.ndarray,
    filtered: bool,
    fa_page_bits: int,
    ea_params: dict | None = None,
) -> tuple[int, bytes]:
    """Emit the chunk payloads + index structure for a Data Layout v4
    message and return the (0x08, body) message tuple."""
    rank = len(cshape)
    head = struct.pack("<BBBBB", 4, 2, 0x02 if (itype == "single" and filtered) else 0, rank, 4)
    head += struct.pack(f"<{rank}I", *cshape)
    if itype == "single":
        if len(chunk_blobs) != 1:
            raise ValueError("single-chunk index requires exactly one chunk")
        _idx, raw = chunk_blobs[0]
        addr = alloc.put(raw)
        body = head + struct.pack("<B", 1)
        if filtered:
            body += struct.pack("<QI", len(raw), 0)
        return 0x08, body + struct.pack("<Q", addr)
    if itype == "implicit":
        blob = b"".join(raw for _idx, raw in chunk_blobs)
        base = alloc.put(blob)
        return 0x08, head + struct.pack("<BQ", 2, base)
    if itype == "extensible_array":
        return _ea_chunked_layout(
            alloc, head, chunk_blobs, filtered, ea_params or {}
        )
    if itype == "btree2":
        from bcdp_spark.sources.h5dense import write_btree2

        node_size = (ea_params or {}).get("bt2_node_size", 512)
        size_len = 8
        recs = []
        for idx, raw in chunk_blobs:
            addr = alloc.put(raw)
            rec = struct.pack("<Q", addr)
            if filtered:
                rec += len(raw).to_bytes(size_len, "little")
                rec += struct.pack("<I", 0)
            rec += struct.pack(
                f"<{rank}Q", *(o // c for o, c in zip(idx, cshape))
            )
            recs.append(rec)
        recs.sort(  # native order: scaled offsets, first dim slowest
            key=lambda r: _up(
                f"<{rank}Q", r, len(r) - 8 * rank
            )
        )
        bt_addr = write_btree2(
            alloc, recs, 11 if filtered else 10, node_size
        )
        body = head + struct.pack("<BIBBQ", 5, node_size, 100, 40, bt_addr)
        return 0x08, body
    if itype != "fixed_array":
        raise ValueError(f"unknown v4 index type {itype!r}")
    entries = [(alloc.put(raw), len(raw)) for _idx, raw in chunk_blobs]
    client = 1 if filtered else 0
    entry_size = 8 if client == 0 else 8 + 8 + 4
    n = len(entries)
    page_n = 1 << fa_page_bits

    def elem(addr: int, nb: int) -> bytes:
        if client == 0:
            return struct.pack("<Q", addr)
        return struct.pack("<QQI", addr, nb, 0)

    dblk = bytearray()
    dblk += b"FADB" + struct.pack("<BB", 0, client)
    hdr_addr_pos = len(dblk)
    dblk += struct.pack("<Q", 0)  # header address (patched below)
    if n > page_n:
        npages = (n + page_n - 1) // page_n
        dblk += b"\xff" * ((npages + 7) // 8)  # all pages initialized
        k = 0
        for pg in range(npages):
            in_page = min(page_n, n - pg * page_n)
            page = bytearray()
            for _ in range(in_page):
                page += elem(*entries[k])
                k += 1
            dblk += page + struct.pack("<I", lookup3(bytes(page)))
    else:
        for addr, nb in entries:
            dblk += elem(addr, nb)
        dblk += struct.pack("<I", lookup3(bytes(dblk)))
    dblk_addr = alloc.reserve(len(dblk))
    hdr = bytearray()
    hdr += b"FAHD" + struct.pack(
        "<BBBB", 0, client, entry_size, fa_page_bits
    )
    hdr += struct.pack("<QQ", n, dblk_addr)
    hdr += struct.pack("<I", lookup3(bytes(hdr)))
    hdr_addr = alloc.put(bytes(hdr))
    dblk[hdr_addr_pos : hdr_addr_pos + 8] = struct.pack("<Q", hdr_addr)
    alloc.put(bytes(dblk), addr=dblk_addr)
    return 0x08, head + struct.pack("<BBQ", 3, fa_page_bits, hdr_addr)


def _ea_chunked_layout(
    alloc: "_Alloc",
    head: bytes,
    chunk_blobs: list,
    filtered: bool,
    ea: dict,
) -> tuple[int, bytes]:
    """Emit an extensible-array chunk index (v4 index type 4 — the
    HDF5 1.10 'latest' layout for ONE unlimited dimension) mirroring
    libhdf5's on-disk EAHD/EAIB/EADB/EASB generation: the first
    ``idx_elmts`` elements inline in the index block, then super
    blocks u holding ``2^(u//2)`` data blocks of ``min_elmts *
    2^((u+1)//2)`` elements, the first ``2*log2(min_ptrs)`` super
    blocks' data blocks addressed directly from the index block, data
    blocks larger than ``2^page_bits`` elements paged with per-page
    checksums. Defaults are libhdf5's creation parameters."""
    client = 1 if filtered else 0
    max_bits = ea.get("max_bits", 32)
    idx_elmts = ea.get("idx_elmts", 4)
    min_elmts = ea.get("min_elmts", 16)
    min_ptrs = ea.get("min_ptrs", 4)
    page_bits = ea.get("page_bits", 10)
    if min_ptrs & (min_ptrs - 1) or min_elmts & (min_elmts - 1):
        raise ValueError("EA min_ptrs/min_elmts must be powers of two")
    size_len = 8
    elmt_size = 8 if client == 0 else 8 + size_len + 4
    off_size = (max_bits + 7) // 8
    page_n = 1 << page_bits
    undef_entry = (_UNDEF, 0)

    def elem(addr: int, nb: int) -> bytes:
        if client == 0:
            return struct.pack("<Q", addr)
        return (
            struct.pack("<Q", addr)
            + nb.to_bytes(size_len, "little")
            + struct.pack("<I", 0)
        )

    entries = [(alloc.put(raw), len(raw)) for _idx, raw in chunk_blobs]
    n = len(entries)
    # header is fixed-size; reserve now so blocks can point back at it
    hdr_addr = alloc.reserve(12 + 6 * 8 + 8 + 4)

    def emit_dblock(blk_entries: list, blk_off: int) -> int:
        b = bytearray()
        b += b"EADB" + bytes([0, client])
        b += struct.pack("<Q", hdr_addr)
        b += blk_off.to_bytes(off_size, "little")
        if len(blk_entries) > page_n:
            b += struct.pack("<I", lookup3(bytes(b)))
            for pg in range(0, len(blk_entries), page_n):
                page = bytearray()
                for e in blk_entries[pg : pg + page_n]:
                    page += elem(*e)
                b += page + struct.pack("<I", lookup3(bytes(page)))
        else:
            for e in blk_entries:
                b += elem(*e)
            b += struct.pack("<I", lookup3(bytes(b)))
        return alloc.put(bytes(b))

    # ---- distribute elements: inline, then super blocks of data blocks
    inline = entries[: min(idx_elmts, n)]
    inline += [undef_entry] * (idx_elmts - len(inline))
    k = min(idx_elmts, n)
    n_direct = 2 * (min_ptrs - 1)
    iblock_nsblks = 2 * (min_ptrs.bit_length() - 1)
    nsblks_total = 2 * (max_bits - (min_elmts.bit_length() - 1))
    direct_addrs: list[int] = []
    sblk_addrs: list[int] = []
    ndblks_used = 0
    u = 0
    while k < n:
        ndblks = 1 << (u // 2)
        dblk_nelmts = min_elmts << ((u + 1) // 2)
        sblk_off = k
        blk_addrs = []
        for _ in range(ndblks):
            if k >= n:
                blk_addrs.append(_UNDEF)
                continue
            blk_off = k
            blk = entries[k : k + dblk_nelmts]
            k += len(blk)
            blk += [undef_entry] * (dblk_nelmts - len(blk))
            blk_addrs.append(emit_dblock(blk, blk_off))
            ndblks_used += 1
        if u < iblock_nsblks:
            direct_addrs.extend(blk_addrs)
        else:
            sb = bytearray()
            sb += b"EASB" + bytes([0, client])
            sb += struct.pack("<Q", hdr_addr)
            sb += sblk_off.to_bytes(off_size, "little")
            if dblk_nelmts > page_n:
                npages = dblk_nelmts // page_n
                sb += b"\xff" * ((ndblks * npages + 7) // 8)
            for a in blk_addrs:
                sb += struct.pack("<Q", a)
            sb += struct.pack("<I", lookup3(bytes(sb)))
            sblk_addrs.append(alloc.put(bytes(sb)))
        u += 1
    direct_addrs += [_UNDEF] * (n_direct - len(direct_addrs))
    sblk_addrs += [_UNDEF] * max(
        0, (nsblks_total - iblock_nsblks) - len(sblk_addrs)
    )

    # ---- index block
    ib = bytearray()
    ib += b"EAIB" + bytes([0, client])
    ib += struct.pack("<Q", hdr_addr)
    for e in inline:
        ib += elem(*e)
    for a in direct_addrs:
        ib += struct.pack("<Q", a)
    for a in sblk_addrs:
        ib += struct.pack("<Q", a)
    ib += struct.pack("<I", lookup3(bytes(ib)))
    iblk_addr = alloc.put(bytes(ib))

    # ---- header (EAHD): fixed fields, stats, index-block pointer
    h = bytearray()
    h += b"EAHD" + bytes(
        [0, client, elmt_size, max_bits, idx_elmts, min_elmts,
         min_ptrs, page_bits]
    )
    h += struct.pack(
        "<QQQQQQ", len(sblk_addrs), 0, ndblks_used, 0, n, n
    )
    h += struct.pack("<Q", iblk_addr)
    h += struct.pack("<I", lookup3(bytes(h)))
    alloc.put(bytes(h), addr=hdr_addr)

    body = head + struct.pack(
        "<BBBBBB", 4, max_bits, idx_elmts, min_ptrs, min_elmts, page_bits
    )
    return 0x08, body + struct.pack("<Q", hdr_addr)


class _Alloc:
    """Trivial bump allocator over an output bytearray."""

    def __init__(self):
        self.chunks: list[tuple[int, bytes]] = []
        self.pos = 0

    def reserve(self, n: int) -> int:
        self.pos = (self.pos + 7) & ~7  # 8-align every block
        addr = self.pos
        self.pos += n
        return addr

    def put(self, data: bytes, addr: int | None = None) -> int:
        if addr is None:
            addr = self.reserve(len(data))
        self.chunks.append((addr, data))
        return addr

    def render(self) -> bytes:
        out = bytearray(self.pos)
        for addr, data in self.chunks:
            out[addr : addr + len(data)] = data
        return bytes(out)


def _split_chunks(shape: tuple, chunk: tuple):
    grids = [range(0, s, c) for s, c in zip(shape, chunk)]
    idxs = [()]
    for g in grids:
        idxs = [i + (j,) for i in idxs for j in g]
    return idxs


@dataclass(frozen=True)
class H5ObjRef:
    """Writer-twin element for an OBJECT-REFERENCE dataset (class 7):
    ``target`` names another variable in the same ``write_hdf5`` call
    (it must be listed EARLIER so its header address is already
    assigned — one-pass allocation); ``None`` writes a NULL reference
    (address 0), which the reader decodes as ''."""

    target: str | None


def write_hdf5(
    variables: dict[str, tuple[list[str], np.ndarray, dict]],
    attrs: dict | None = None,
    profile: str = "v0",
    chunk: dict[str, tuple] | None = None,
    gzip_level: int | None = 4,
    shuffle: bool = False,
    lzf: bool = False,
    zstd: bool = False,
    nbit: dict[str, tuple] | None = None,
    scaleoffset: dict[str, tuple] | None = None,
    fletcher: bool = False,
    v4_index: dict[str, str] | None = None,
    fa_page_bits: int = 10,
    maxshape: dict[str, tuple] | None = None,
    ea_params: dict | None = None,
    dense_links: bool = False,
    dense_params: dict | None = None,
    dense_attrs: bool = False,
    timed: bool = False,
    fill: dict[str, object] | None = None,
    szip: dict[str, tuple] | None = None,
    ref_members: dict[str, dict[str, list]] | None = None,
) -> bytes:
    """Serialize ``{name: (dims, array, attrs)}`` into HDF5 bytes.

    ``profile='v0'`` emits superblock v0 + v1 object headers + an
    old-style root group; ``'v2'`` emits superblock v2 + v2 object
    headers + compact links. Variables listed in ``chunk`` are stored
    chunked (optionally shuffled + deflated); others contiguous. The
    ``dims`` lists are advisory (name-based readers don't need linked
    dimension scales).

    ``v4_index`` maps a chunked variable to a Data Layout v4 chunk
    index ('single' | 'implicit' | 'fixed_array' | 'extensible_array'
    — the HDF5 1.10
    'latest' on-disk generation); unlisted chunked variables use the
    classic v3 message + v1 B-tree. 'implicit' requires no filters;
    'single' requires the chunk to cover the whole shape. A fixed
    array pages its data block when the chunk count exceeds
    ``2**fa_page_bits``.
    """
    if profile not in ("v0", "v2"):
        raise ValueError(f"unknown profile {profile!r}")
    if dense_links and profile != "v2":
        raise ValueError("dense_links requires the v2 profile")
    chunk = chunk or {}
    v4_index = v4_index or {}
    maxshape = maxshape or {}
    alloc = _Alloc()
    sb_size = 96 if profile == "v0" else 48
    alloc.reserve(sb_size)

    # ---- per-variable object headers (addresses resolved in 2 passes)
    var_hdr_addr: dict[str, int] = {}
    deferred: list = []
    for name, (dims, arr, vattrs) in variables.items():
        arr = np.ascontiguousarray(arr)
        if ref_members and name in ref_members:
            # compound OBJECT-REFERENCE members (r11): the caller names
            # targets per member; resolve to header addresses (targets
            # must be listed earlier — one-pass allocation, like
            # H5ObjRef datasets). The struct field must be <u8.
            arr = arr.copy()
            for mem, targets in ref_members[name].items():
                vals = []
                for t in np.asarray(targets, dtype=object).reshape(-1):
                    if t is None:
                        vals.append(0)
                    elif t in var_hdr_addr:
                        vals.append(var_hdr_addr[t])
                    else:
                        raise ValueError(
                            f"object reference target {t!r} must be a"
                            " variable listed BEFORE the referencing"
                            " dataset"
                        )
                arr[mem] = np.array(vals, dtype="<u8").reshape(
                    arr[mem].shape
                )
        if arr.dtype.kind == "f" and arr.dtype.itemsize not in (4, 8):
            arr = arr.astype("<f8")
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        vlen_fields: dict[str, tuple] = {}
        if arr.dtype.kind == "V" and arr.dtype.names and any(
            arr.dtype[n] == object for n in arr.dtype.names
        ):
            # compound with vlen members (r12): object fields become
            # class-9 members — str values → vlen strings, list/array
            # values → numeric vlen sequences. Payloads land in one
            # GCOL per member; the record stores 16-byte references
            # (empty values → NULL references, which decode back as
            # ''/empty like unwritten vlen cells). The stored record
            # is re-packed with V16 in place of each object field.
            for n in arr.dtype.names:
                fdt = arr.dtype[n]
                if fdt.names or (
                    fdt.subdtype is not None
                    and fdt.subdtype[0] == object
                ):
                    raise NotImplementedError(
                        f"compound member {n!r}: vlen values inside "
                        "nested compound/array members"
                    )
            new_descr = []
            for n in arr.dtype.names:
                fdt = arr.dtype[n]
                if fdt != object:
                    new_descr.append((n, fdt))
                    continue
                vals = arr[n].reshape(-1)
                if all(isinstance(x, str) for x in vals):
                    vlen_fields[n] = ("str", None)
                elif any(isinstance(x, str) for x in vals):
                    raise TypeError(
                        f"compound member {n!r} mixes strings and "
                        "sequences; one vlen kind per member"
                    )
                else:
                    seqs = [np.ascontiguousarray(x) for x in vals]
                    vbase = (
                        np.result_type(*(s.dtype for s in seqs))
                        if seqs
                        else np.dtype("<f8")
                    )
                    if vbase.byteorder == ">":
                        vbase = vbase.newbyteorder("<")
                    if vbase.kind not in "iuf":
                        raise NotImplementedError(
                            f"compound member {n!r}: vlen sequence of "
                            f"dtype {vbase} (numeric bases only)"
                        )
                    vlen_fields[n] = ("seq", vbase)
                new_descr.append((n, _V16))
            packed = np.empty(arr.shape, dtype=np.dtype(new_descr))
            for n in arr.dtype.names:
                if n not in vlen_fields:
                    packed[n] = arr[n]
                    continue
                vkind, vbase = vlen_fields[n]
                vals = arr[n].reshape(-1)
                if vkind == "str":
                    enc = [str(x).encode("utf-8") for x in vals]
                    lengths = [len(s) for s in enc]
                else:
                    seqs = [
                        np.ascontiguousarray(x).astype(
                            vbase, copy=False
                        )
                        for x in vals
                    ]
                    enc = [s.tobytes() for s in seqs]
                    lengths = [s.size for s in seqs]
                payload = [s for s in enc if len(s)]
                gaddr = (
                    alloc.put(_gcol_blob(payload)) if payload else 0
                )
                refbuf = bytearray()
                j = 1
                for ln, s in zip(lengths, enc):
                    if len(s) == 0:
                        refbuf += b"\x00" * 16
                    else:
                        refbuf += struct.pack("<IQI", ln, gaddr, j)
                        j += 1
                packed[n] = np.frombuffer(
                    bytes(refbuf), dtype=_V16
                ).reshape(arr.shape)
            arr = packed
        vlen_str = vlen_seq = vlen_nested = objref = regref = False
        vlen_base = None
        if arr.dtype.kind == "U":
            vlen_str = True
        elif arr.dtype.kind == "O":
            flat0 = arr.reshape(-1)
            if flat0.size and isinstance(flat0[0], H5RegionRef):
                regref = True  # dataset-region references (r12)
            elif flat0.size and isinstance(flat0[0], H5ObjRef):
                objref = True  # object references (r11)
            elif flat0.size and any(
                isinstance(x, (list, np.ndarray))
                and len(x)
                and isinstance(
                    x[0] if isinstance(x, list) else x.flat[0],
                    (list, np.ndarray),
                )
                for x in flat0
            ):
                # vlen-of-vlen (r11): nested ONLY when some row's
                # ELEMENTS are themselves sequences — rows that are
                # plain lists of scalars stay on the flat ragged path
                # (the r10 behavior; review fix). Mixed depth within
                # one column is a caller error, not a silent reroute:
                # encoding a flat [1,2] row as [[1],[2]] through the
                # nested path would change its decoded shape (r12,
                # ADVICE) — raise instead. Empty rows are depthless
                # and valid at either level.
                for x in flat0:
                    if isinstance(x, (list, np.ndarray)) and len(x):
                        first = x[0] if isinstance(x, list) else x.flat[0]
                        if not isinstance(first, (list, np.ndarray)):
                            raise TypeError(
                                "vlen column mixes nested rows "
                                "(sequences of sequences) with flat "
                                "scalar-sequence rows; one nesting "
                                "depth per column"
                            )
                vlen_nested = True
            elif flat0.size and not isinstance(flat0[0], str):
                vlen_seq = True  # ragged numeric sequences (r10)
            else:
                vlen_str = True
        if objref:
            # object-reference dataset: each element stores the 8-byte
            # header address of its target variable — resolvable only
            # for variables already written (one-pass allocation), so
            # referenced variables must be listed first
            addrs = []
            for x in arr.reshape(-1):
                if not isinstance(x, H5ObjRef):
                    raise TypeError(
                        "object-reference datasets must be all-H5ObjRef"
                        f" (got {type(x).__name__})"
                    )
                if x.target is None:
                    addrs.append(0)
                elif x.target in var_hdr_addr:
                    addrs.append(var_hdr_addr[x.target])
                else:
                    raise ValueError(
                        f"object reference target {x.target!r} must be"
                        " a variable listed BEFORE the referencing"
                        " dataset"
                    )
            arr = np.array(addrs, dtype="<u8").reshape(arr.shape)
        if regref:
            # dataset-region references (r12): one global heap object
            # per non-NULL element — 8-byte target header address +
            # the v1 serialized selection — in one collection; the
            # dataset stores 12-byte heap IDs (collection address +
            # object index; NULL = 12 zero bytes). Targets resolve
            # through the same one-pass rule as object references:
            # referenced variables must be listed first.
            payloads: list[bytes | None] = []
            for x in arr.reshape(-1):
                if not isinstance(x, H5RegionRef):
                    raise TypeError(
                        "region-reference datasets must be "
                        f"all-H5RegionRef (got {type(x).__name__})"
                    )
                if x.target is None:
                    payloads.append(None)
                    continue
                if x.target not in var_hdr_addr:
                    raise ValueError(
                        f"region reference target {x.target!r} must "
                        "be a variable listed BEFORE the referencing "
                        "dataset"
                    )
                payloads.append(
                    struct.pack("<Q", var_hdr_addr[x.target])
                    + _sel_serialize(x)
                )
            enc = [p for p in payloads if p is not None]
            gaddr = alloc.put(_gcol_blob(enc)) if enc else 0
            refbuf = bytearray()
            j = 1
            for p in payloads:
                if p is None:
                    refbuf += b"\x00" * 12
                else:
                    refbuf += struct.pack("<QI", gaddr, j)
                    j += 1
            arr = (
                np.frombuffer(bytes(refbuf), dtype="V12")
                .reshape(arr.shape)
                .copy()
            )
        if vlen_nested:
            # two global heap collections: INNER numeric sequences
            # first (address known before anything references it),
            # then OUTER objects holding the inner 16-byte refs; the
            # dataset stores refs into the outer collection. Length
            # fields count ELEMENTS at both levels (inner refs for
            # outer objects, base values for inner objects).
            rows = [
                [np.ascontiguousarray(a) for a in x]
                if x is not None and len(x)
                else []
                for x in arr.reshape(-1)
            ]
            inner_all = [a for row in rows for a in row]
            vlen_base = np.result_type(
                *(a.dtype for a in inner_all)
            ) if inner_all else np.dtype("<f8")
            if vlen_base.byteorder == ">":
                vlen_base = vlen_base.newbyteorder("<")
            if vlen_base.kind not in "iuf":
                raise NotImplementedError(
                    f"vlen-of-vlen innermost dtype {vlen_base} "
                    "(numeric bases only)"
                )
            inner_enc = [
                a.astype(vlen_base, copy=False).tobytes()
                for a in inner_all
            ]
            gaddr_in = alloc.put(_gcol_blob(inner_enc))
            outer_enc = []
            j = 1
            for row in rows:
                buf = bytearray()
                for a in row:
                    buf += struct.pack("<IQI", a.size, gaddr_in, j)
                    j += 1
                outer_enc.append(bytes(buf))
            gaddr = alloc.put(_gcol_blob(outer_enc))
            refbuf = bytearray()
            for k, row in enumerate(rows, start=1):
                refbuf += struct.pack("<IQI", len(row), gaddr, k)
            arr = (
                np.frombuffer(bytes(refbuf), dtype="V16")
                .reshape(arr.shape)
                .copy()
            )
        if vlen_str or vlen_seq:
            # vlen variable (string or ragged sequence): payload bytes
            # land in ONE global heap collection (allocated first so
            # its address is known), the dataset itself stores 16-byte
            # references — contiguous and chunked layouts then work
            # unchanged on the reference array (filters compress
            # references). The reference length field counts BYTES for
            # neither: it is the string byte length / the sequence
            # ELEMENT count per the spec.
            if vlen_str:
                enc = [str(x).encode("utf-8") for x in arr.reshape(-1)]
                lengths = [len(s) for s in enc]
            else:
                seqs = [
                    np.ascontiguousarray(x) for x in arr.reshape(-1)
                ]
                vlen_base = np.result_type(
                    *(s.dtype for s in seqs)
                ) if seqs else np.dtype("<f8")
                if vlen_base.byteorder == ">":
                    vlen_base = vlen_base.newbyteorder("<")
                if vlen_base.kind not in "iuf":
                    raise NotImplementedError(
                        f"vlen sequence of dtype {vlen_base} (numeric "
                        "bases only)"
                    )
                seqs = [s.astype(vlen_base, copy=False) for s in seqs]
                enc = [s.tobytes() for s in seqs]
                lengths = [s.size for s in seqs]
            gaddr = alloc.put(_gcol_blob(enc))
            refbuf = bytearray()
            for j, (n, _s) in enumerate(zip(lengths, enc), start=1):
                refbuf += struct.pack("<IQI", n, gaddr, j)
            arr = (
                np.frombuffer(bytes(refbuf), dtype="V16")
                .reshape(arr.shape)
                .copy()
            )
        # fill value v2: defined same-typed zero by default; ``fill``
        # overrides per variable (a scalar stores that value; None
        # stores an UNdefined fill — libhdf5's h5py default for floats,
        # which readers surface as NaN)
        if fill is not None and name in fill:
            fv = fill[name]
            if fv is None:
                fill_body = struct.pack("<BBBB", 2, 2, 0, 0)
            else:
                fill_body = struct.pack(
                    "<BBBBI", 2, 2, 0, 1, arr.dtype.itemsize
                ) + np.array([fv], dtype=arr.dtype).tobytes()
        else:
            fill_body = struct.pack(
                "<BBBBI", 2, 2, 0, 1, arr.dtype.itemsize
            ) + np.zeros(1, arr.dtype).tobytes()
        if vlen_str:
            dt_msg = _vlen_str_dt_body()
        elif vlen_seq:
            dt_msg = struct.pack(
                "<BBBBI", 0x19, 0x00, 0x00, 0, 16
            ) + _dt_body(vlen_base)
        elif vlen_nested:
            dt_msg = (
                struct.pack("<BBBBI", 0x19, 0x00, 0x00, 0, 16)
                + struct.pack("<BBBBI", 0x19, 0x00, 0x00, 0, 16)
                + _dt_body(vlen_base)
            )
        elif objref:
            # class 7 v1, reference type 0 (object), 8-byte size
            dt_msg = struct.pack("<BBBBI", 0x17, 0x00, 0x00, 0, 8)
        elif regref:
            # class 7 v1, reference type 1 (dataset region), 12-byte
            # heap-ID size (H5T_STD_REF_DSETREG)
            dt_msg = struct.pack("<BBBBI", 0x17, 0x01, 0x00, 0, 12)
        else:
            dt_msg = _dt_body(
                arr.dtype,
                ref_members=set((ref_members or {}).get(name, {})),
                vlen_members=vlen_fields or None,
            )
        msgs: list[tuple[int, bytes]] = [
            (0x01, _ds_body(arr.shape, maxshape.get(name))),
            (0x03, dt_msg),
            (0x05, fill_body),
        ]
        if name in chunk:
            cshape = tuple(chunk[name])
            if len(cshape) != arr.ndim:
                raise ValueError(f"chunk rank mismatch for {name}")
            filters: list[tuple[int, tuple]] = []
            # nbit/scaleoffset are pre-compression filters: libhdf5
            # places them first in the pipeline, before shuffle/codec
            if name in (nbit or {}):
                from bcdp_spark.sources.h5filters import nbit_cdvals

                prec, noff = nbit[name]
                filters.append(
                    (5, nbit_cdvals(
                        int(np.prod(cshape)), arr.dtype, prec, noff
                    ))
                )
            if name in (scaleoffset or {}):
                from bcdp_spark.sources.h5filters import (
                    scaleoffset_cdvals,
                )

                so_type, so_factor = scaleoffset[name]
                filters.append(
                    (6, scaleoffset_cdvals(
                        so_type, so_factor, int(np.prod(cshape)),
                        arr.dtype, fill=arr.dtype.type(0),
                    ))
                )
            if shuffle:
                filters.append((2, (arr.dtype.itemsize,)))
            if szip and name in szip:
                from bcdp_spark.sources.h5filters import szip_cdvals

                ppb, coding = szip[name]
                filters.append(
                    (4, szip_cdvals(cshape, arr.dtype, ppb, coding))
                )
            if lzf:
                filters.append((32000, ()))
            if zstd:
                filters.append((32015, (3,)))
            if gzip_level is not None:
                filters.append((1, (gzip_level,)))
            if fletcher:
                # last in the pipeline: checksums the stored (post-
                # compression) bytes, verified first on decode
                filters.append((3, ()))
            itype = v4_index.get(name)
            if itype == "implicit" and filters:
                raise ValueError("implicit index requires unfiltered chunks")
            chunk_blobs = []
            for idx in _split_chunks(arr.shape, cshape):
                sel = tuple(
                    slice(o, min(o + c, s))
                    for o, c, s in zip(idx, cshape, arr.shape)
                )
                block = np.zeros(cshape, dtype=arr.dtype)
                block[
                    tuple(slice(0, sl.stop - sl.start) for sl in sel)
                ] = arr[sel]
                raw = block.tobytes()
                for fid, cv in filters:
                    if fid == 5:
                        from bcdp_spark.sources.h5filters import (
                            nbit_encode,
                        )

                        raw = nbit_encode(
                            raw, cv, signed=arr.dtype.kind == "i"
                        )
                    elif fid == 6:
                        from bcdp_spark.sources.h5filters import (
                            scaleoffset_encode,
                        )

                        raw = scaleoffset_encode(raw, cv)
                    elif fid == 2:
                        a = np.frombuffer(raw, dtype=np.uint8)
                        esz = cv[0]
                        raw = a.reshape(len(a) // esz, esz).T.tobytes()
                    elif fid == 4:
                        from bcdp_spark.sources.h5filters import (
                            szip_encode,
                        )

                        raw = szip_encode(raw, cv)
                    elif fid in _H5_CODECS:
                        raw = codecs.encode(
                            _H5_CODECS[fid], raw, cv[0] if fid == 1 else None
                        )
                    elif fid == 3:
                        raw = raw + struct.pack(
                            "<I", _fletcher32(raw)
                        )
                chunk_blobs.append((idx, raw))
            rank = arr.ndim
            if itype is not None:
                ms = (maxshape or {}).get(name)
                if itype == "extensible_array" and ms is not None:
                    # mirror libhdf5: EA elements are ordered with the
                    # unlimited dimension swizzled to the FRONT, so a
                    # non-leading unlimited dim reorders the blobs
                    # (axis-0 unlimited == plain C-order — no-op)
                    unl = [d for d, m in enumerate(ms) if m is None]
                    if len(unl) == 1 and unl[0] != 0:
                        u = unl[0]
                        order = [u] + [
                            d for d in range(rank) if d != u
                        ]

                        def _swkey(item):
                            ci = [
                                o // c
                                for o, c in zip(item[0], cshape)
                            ]
                            return tuple(ci[d] for d in order)

                        chunk_blobs.sort(key=_swkey)
                msgs.append(
                    _v4_chunked_layout(
                        alloc, itype, chunk_blobs, cshape, arr,
                        bool(filters), fa_page_bits, ea_params,
                    )
                )
            else:
                chunk_entries = [
                    (idx, alloc.put(raw), len(raw))
                    for idx, raw in chunk_blobs
                ]
                keylen = 8 + 8 * (rank + 1)
                nodesz = 24 + len(chunk_entries) * (keylen + 8) + keylen
                node = bytearray()
                node += b"TREE" + struct.pack(
                    "<BBHQQ", 1, 0, len(chunk_entries), _UNDEF, _UNDEF
                )
                for idx, caddr, nbytes in chunk_entries:
                    node += struct.pack("<II", nbytes, 0)
                    node += struct.pack(f"<{rank}Q", *idx) + struct.pack(
                        "<Q", 0
                    )
                    node += struct.pack("<Q", caddr)
                node += struct.pack("<II", 0, 0)
                node += struct.pack(f"<{rank}Q", *arr.shape) + struct.pack(
                    "<Q", 0
                )
                assert len(node) == nodesz
                bt_addr = alloc.put(bytes(node))
                lay = struct.pack("<BBB", 3, 2, rank + 1)
                lay += struct.pack("<Q", bt_addr)
                lay += struct.pack(f"<{rank}I", *cshape)
                lay += struct.pack("<I", arr.dtype.itemsize)
                msgs.append((0x08, lay))
            if filters:
                fp = struct.pack("<BBxxxxxx", 1, len(filters))
                for fid, cv in filters:
                    # registered filters (id >= 256) carry their name,
                    # NUL-padded to 8 (the libhdf5 convention)
                    fname = b""
                    if fid == 32000:
                        fname = b"lzf\x00\x00\x00\x00\x00"
                    elif fid == 32015:
                        fname = b"zstd\x00\x00\x00\x00"
                    fp += struct.pack(
                        "<HHHH", fid, len(fname), 0, len(cv)
                    )
                    fp += fname
                    fp += struct.pack(f"<{len(cv)}I", *cv)
                    if len(cv) % 2:
                        fp += b"\x00\x00\x00\x00"
                msgs.append((0x0B, fp))
        else:
            data_addr = alloc.put(arr.tobytes())
            msgs.append(
                (0x08, struct.pack("<BBQQ", 3, 1, data_addr, arr.nbytes))
            )
        if dense_attrs and vattrs:
            from bcdp_spark.sources.h5dense import write_dense_attrs

            fh_a, bt_a = write_dense_attrs(
                alloc,
                [(k, _attr_body(k, v)) for k, v in vattrs.items()],
            )
            msgs.append((0x15, struct.pack("<BBQQ", 0, 0, fh_a, bt_a)))
        else:
            for k, v in vattrs.items():
                body = _attr_body_refs(k, v, alloc, var_hdr_addr)
                msgs.append((0x0C, body or _attr_body(k, v)))
        hdr = _object_header(msgs, profile, timed=timed)
        var_hdr_addr[name] = alloc.put(hdr)

    # ---- root group
    names = sorted(variables)
    root_attr_msgs = [
        (
            0x0C,
            _attr_body_refs(k, v, alloc, var_hdr_addr)
            or _attr_body(k, v),
        )
        for k, v in (attrs or {}).items()
    ]
    if profile == "v2":
        link_msgs: list[tuple[int, bytes]] = [
            # link info: no creation tracking, no fractal heap
            (0x02, struct.pack("<BBQQ", 0, 0, _UNDEF, _UNDEF)),
            # group info: defaults
            (0x0A, struct.pack("<BB", 0, 0)),
        ]
        if dense_links:
            from bcdp_spark.sources.h5dense import write_dense_links

            bodies = []
            for n in names:
                nb = n.encode("utf-8")
                body = struct.pack("<BBB", 1, 0, len(nb)) + nb
                body += struct.pack("<Q", var_hdr_addr[n])
                bodies.append((n, body))
            fheap, name_bt = write_dense_links(
                alloc, bodies, **(dense_params or {})
            )
            link_msgs[0] = (
                0x02, struct.pack("<BBQQ", 0, 0, fheap, name_bt)
            )
        else:
            for n in names:
                nb = n.encode("utf-8")
                body = struct.pack("<BBB", 1, 0, len(nb)) + nb
                body += struct.pack("<Q", var_hdr_addr[n])
                link_msgs.append((0x06, body))
        root = _object_header(link_msgs + root_attr_msgs, "v2")
        root_addr = alloc.put(root)
    else:
        # local heap: reserve offset 0 for "", then names padded to 8
        heap_data = bytearray(8)
        name_off = {}
        for n in names:
            name_off[n] = len(heap_data)
            nb = n.encode("utf-8") + b"\x00"
            heap_data += nb + b"\x00" * (-len(nb) % 8)
        heap_data_addr = alloc.put(bytes(heap_data))
        heap_hdr = (
            b"HEAP"
            + struct.pack("<Bxxx", 0)
            + struct.pack("<QQQ", len(heap_data), 1, heap_data_addr)
        )
        heap_addr = alloc.put(heap_hdr)
        snames = sorted(names)  # SNOD entries sorted by link name
        snod = bytearray()
        snod += b"SNOD" + struct.pack("<BxH", 1, len(snames))
        for n in snames:
            snod += struct.pack("<QQ", name_off[n], var_hdr_addr[n])
            snod += struct.pack("<I", 0) + b"\x00" * 20
        snod_addr = alloc.put(bytes(snod))
        bt = bytearray()
        bt += b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, _UNDEF, _UNDEF)
        bt += struct.pack("<Q", 0)  # key0: "" (heap offset 0)
        bt += struct.pack("<Q", snod_addr)
        bt += struct.pack("<Q", name_off[snames[-1]])  # key1: largest name
        bt_addr = alloc.put(bytes(bt))
        root = _object_header(
            [(0x11, struct.pack("<QQ", bt_addr, heap_addr))] + root_attr_msgs,
            "v0",
        )
        root_addr = alloc.put(root)

    # ---- superblock
    eof = alloc.pos
    if profile == "v2":
        sb = _SIG + struct.pack("<BBBB", 2, 8, 8, 0)
        sb += struct.pack("<QQQQ", 0, _UNDEF, eof, root_addr)
        sb += struct.pack("<I", lookup3(sb))
        alloc.put(sb, addr=0)
    else:
        sb = _SIG + struct.pack("<BBBxBBBx", 0, 0, 0, 0, 8, 8)
        sb += struct.pack("<HHI", 32, 16, 0)  # leaf k, internal k, flags
        sb += struct.pack("<QQQQ", 0, _UNDEF, eof, _UNDEF)
        # root symbol table entry
        sb += struct.pack("<QQI", 0, root_addr, 0) + b"\x00" * 20
        alloc.put(sb, addr=0)
    return alloc.render()


def _object_header(
    msgs: list[tuple[int, bytes]], profile: str, timed: bool = False
) -> bytes:
    if profile == "v2":
        body = b""
        for mtype, mbody in msgs:
            body += struct.pack("<BHB", mtype, len(mbody), 0) + mbody
        # flags: 0x01 = 2-byte chunk0 size; 0x20 adds the four 4-byte
        # timestamps real libhdf5 emits with time tracking on (fixture
        # knob so the reader's 16-byte skip stays regression-tested)
        flags = 0x01 | (0x20 if timed else 0)
        head = b"OHDR" + struct.pack("<BB", 2, flags)
        if timed:
            head += struct.pack("<IIII", 0, 0, 0, 0)
        head += struct.pack("<H", len(body))  # excludes prefix + checksum
        blob = head + body
        return blob + struct.pack("<I", lookup3(blob))
    body = b""
    for mtype, mbody in msgs:
        padded = _pad8(mbody)
        body += struct.pack("<HHBxxx", mtype, len(padded), 0) + padded
    return (
        struct.pack("<BxHIIxxxx", 1, len(msgs), 1, len(body)) + body
    )


def load_hdf5_table(spark, path, var: str | None = None,
                    columns: list | None = None):
    """Read a COMPOUND (class 6) dataset — the CF discrete-sampling-
    geometry obs-record layout (one struct per observation) — as a
    Spark DataFrame: one task per file, one column per member.

    ``var`` picks the dataset (default: the first compound dataset in
    the file); ``columns`` projects a member subset (the structured
    dtype reads only referenced fields into Arrow).

    Scale notes: the manifest fans one decode task per file
    (mapInPandas, Arrow-batched); each task materializes only its own
    file's records, and chunked/filtered layouts decode chunk-by-chunk
    through the same filter pipeline as every other dataset. At 100 TB
    an obs archive is many files — parallelism is the file count, the
    natural unit for record tables."""
    import glob as _glob

    import pandas as _pd

    from bcdp_spark.sources.ranged import open_raw

    files = (
        list(path) if isinstance(path, (list, tuple))
        else sorted(_glob.glob(path))
    )
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")

    def _pick(f: "H5File") -> str:
        if var is not None:
            return var
        for name, ds in f.datasets.items():
            if ds.dtype.cls == 6:
                return name
        raise ValueError("no compound dataset in file (pass var=)")

    # unsigned members widen to the next signed Spark type so values
    # above the signed max stay exact (Spark has no unsigned types;
    # u8 would need DECIMAL(20,0) — loud seam). ADVICE r8: the
    # previous map keyed on size alone, so an unsigned member silently
    # decoded through a signed Arrow column and large values corrupted.
    _SPARK_T = {"f4": "float", "f8": "double", "i1": "tinyint",
                "i2": "smallint", "i4": "int", "i8": "bigint",
                "u1": "smallint", "u2": "int", "u4": "bigint"}

    first = H5File(open_raw(files[0]))
    vname = _pick(first)
    mdt = first.datasets[vname].dtype
    if mdt.cls != 6:
        raise ValueError(f"{vname} is not a compound dataset")
    def _flat(members, prefix=()):
        # nested compound members (r10, VERDICT r9 item 4) flatten to
        # dotted column names ('pos.lat'); every other member class
        # stays a leaf
        for n, _off, sub in members:
            if sub.cls == 6:
                yield from _flat(sub.members, prefix + (n,))
            else:
                yield ".".join(prefix + (n,)), prefix + (n,), sub

    flat = list(_flat(mdt.members))
    names = [f[0] for f in flat]
    if columns is not None:
        missing = set(columns) - set(names)
        if missing:
            raise ValueError(f"unknown compound members {sorted(missing)}")
        keep = set(columns)
        flat = [f for f in flat if f[0] in keep]
        names = [f[0] for f in flat]
    fields = []
    for cname, _path, sub in flat:
        if sub.cls == 7:
            # object-reference member (r11) → string column (the
            # referenced object's path; NULL refs -> '')
            fields.append(f"`{cname}` string")
            continue
        if sub.cls == 9:
            # vlen member (r12): string members → string, numeric
            # vlen-sequence members → array<T> (the CF-DSG
            # ragged-profile field shape)
            if sub.vlen_string:
                fields.append(f"`{cname}` string")
                continue
            eff = sub.base
            key = (
                "f" if eff.cls == 1 else ("i" if eff.signed else "u")
            ) + str(eff.size)
            if eff.cls not in (0, 1) or key not in _SPARK_T:
                raise NotImplementedError(
                    f"compound member {cname!r}: vlen base {key} has "
                    "no Spark column type"
                )
            fields.append(f"`{cname}` array<{_SPARK_T[key]}>")
            continue
        eff = sub.base if sub.cls == 10 else sub
        key = (
            "f" if eff.cls == 1 else ("i" if eff.signed else "u")
        ) + str(eff.size)
        if eff.cls not in (0, 1) or key not in _SPARK_T:
            raise NotImplementedError(
                f"compound member {cname!r} ({key}) has no Spark column"
                " type (fixed-point/float members only; unsigned"
                " 64-bit would need DECIMAL)"
            )
        styp = _SPARK_T[key]
        if sub.cls == 10:
            # class-10 array member → nested Spark array column, one
            # level per rank (r11: rank>=2 matrices-in-compounds nest
            # array<array<T>>; r10 shipped rank 1 only)
            for _ in sub.array_shape:
                styp = f"array<{styp}>"
        fields.append(f"`{cname}` {styp}")
    schema = ", ".join(fields)

    from bcdp_spark.sources.manifest import spread_manifest

    manifest = spread_manifest(spark, [(f,) for f in files], "path string")

    def decode(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                h5 = H5File(open_raw(fpath))
                arr = h5.read(_pick(h5))
                cols = {}
                for cname, path, sub in flat:
                    v = arr
                    for part in path:
                        v = v[part]
                    # array members: nested Python lists (rank-deep)
                    # so Arrow ingests rank>=2 members as nested lists;
                    # reference members resolve through the file's
                    # walk-time address map
                    if sub.cls == 7:
                        cols[cname] = h5._ref_decode(np.ascontiguousarray(v))
                    elif sub.cls == 10:
                        cols[cname] = [x.tolist() for x in v]
                    elif sub.cls == 9 and not sub.vlen_string:
                        # ragged numeric member → list per row for
                        # Arrow array<T> ingestion
                        cols[cname] = [
                            np.asarray(x).tolist() for x in v
                        ]
                    else:
                        cols[cname] = v
                yield _pd.DataFrame(cols)

    return manifest.mapInPandas(decode, schema=schema)


def load_hdf5_vars(spark, path, names: list[str]):
    """Read N same-length 1-D datasets from each matching HDF5 file as
    parallel Spark columns — the station/point-obs archive shape where
    each observation attribute is its own flat dataset (vlen-string
    station labels, numeric readings) rather than one compound record.

    Column typing: fixed-point/float datasets map like
    ``load_hdf5_table`` (unsigned widened to the next signed type);
    vlen-string (class 9 type 1) and fixed-length string (class 3)
    datasets map to ``string``, as do object-REFERENCE datasets
    (class 7, r11 — each element decodes to the referenced object's
    slash path, the DSG index-variable shape; NULL references decode
    as '') and dataset-REGION references (class 7 type 1, r12 — each
    element decodes to its canonical spec string, '/grid[2:5,0:4]';
    ``load_hdf5_region_values`` materializes the referenced data).
    Anything else raises loudly.

    Scale notes: one Arrow-batched decode task per file (mapInPandas
    over a file manifest); vlen decode memoizes each global-heap
    collection per file, so references into a shared GCOL parse it
    once. Parallelism is the file count — the natural unit of an obs
    archive."""
    import glob as _glob

    import pandas as _pd

    from bcdp_spark.sources.ranged import open_raw

    files = (
        list(path) if isinstance(path, (list, tuple))
        else sorted(_glob.glob(path))
    )
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")

    _SPARK_T = {"f4": "float", "f8": "double", "i1": "tinyint",
                "i2": "smallint", "i4": "int", "i8": "bigint",
                "u1": "smallint", "u2": "int", "u4": "bigint"}
    first = H5File(open_raw(files[0]))
    fields = []
    for n in names:
        if n not in first.datasets:
            raise ValueError(f"dataset {n!r} not in {files[0]}")
        ds = first.datasets[n]
        if len(ds.shape) != 1:
            raise ValueError(
                f"load_hdf5_vars reads 1-D datasets; {n!r} has shape "
                f"{ds.shape}"
            )
        dt = ds.dtype
        if dt.vlen_string or dt.cls == 3 or dt.cls == 7:
            fields.append(f"{n} string")
            continue
        depth = 0
        eff = dt
        while eff.cls == 9:  # vlen seq → array<T>; nested → array<array<T>>
            eff = eff.base
            depth += 1
        key = (
            "f" if eff.cls == 1 else ("i" if eff.signed else "u")
        ) + str(eff.size)
        if eff.cls not in (0, 1) or key not in _SPARK_T:
            raise NotImplementedError(
                f"dataset {n!r} (class {dt.cls}, {key}) has no Spark "
                "column type (fixed-point/float/string/vlen-sequence "
                "datasets only)"
            )
        styp = _SPARK_T[key]
        for _ in range(depth):
            styp = f"array<{styp}>"
        fields.append(f"{n} {styp}")
    schema = ", ".join(fields)

    from bcdp_spark.sources.manifest import spread_manifest

    manifest = spread_manifest(spark, [(f,) for f in files], "path string")

    def decode(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                h5 = H5File(open_raw(fpath))
                cols = {}
                n_rows = None
                for n in names:
                    a = h5.read(n)
                    dt_n = h5.datasets[n].dtype
                    if dt_n.cls == 7 and dt_n.ref_type == 1:
                        # region references surface as their
                        # canonical spec strings ('/grid[2:5,0:4]');
                        # load_hdf5_region_values materializes the
                        # referenced elements themselves
                        a = np.array(
                            [r.spec() for r in a], dtype=object
                        )
                    if h5.datasets[n].dtype.cls == 3:
                        a = np.array(
                            [
                                bytes(x).split(b"\x00")[0]
                                .decode("utf-8", "replace")
                                for x in a
                            ],
                            dtype=object,
                        )
                    if n_rows is None:
                        n_rows = len(a)
                    elif len(a) != n_rows:
                        raise ValueError(
                            f"dataset lengths differ in {fpath}: "
                            f"{n!r} has {len(a)}, expected {n_rows}"
                        )
                    cols[n] = a
                yield _pd.DataFrame(cols)

    return manifest.mapInPandas(decode, schema=schema)


def load_hdf5_region_values(spark, path, name: str):
    """Materialize DATASET-REGION references (class 7 type 1, r12):
    one Spark row per element of the 1-D region-reference dataset
    ``name`` in each matching file, with the referenced elements
    fetched and flattened —

    ``src string`` (file basename), ``idx bigint`` (element position
    within the reference dataset), ``region string`` (canonical spec,
    '' for NULL references), ``target string`` (referenced dataset's
    path, '' for NULL), ``values array<double>`` (the selected
    elements in selection order — blocks as stored, row-major within
    a block; empty for NULL / 'none'). Referenced datasets must be
    numeric; values widen to double.

    This is the real-product access pattern for NPP/VIIRS-style
    quality regions and packed-obs record pointers: the reference
    dataset names WHERE each record's data lives, and the region read
    touches only the intersecting chunks of the target (``read``'s
    hyperslab path), never the whole grid. Scale: one Arrow-batched
    task per file — parallelism is the file count, and per-file work
    is O(selected elements), not O(file)."""
    import glob as _glob
    import os as _os

    import pandas as _pd

    from bcdp_spark.sources.ranged import open_raw

    files = (
        list(path) if isinstance(path, (list, tuple))
        else sorted(_glob.glob(path))
    )
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")

    from bcdp_spark.sources.manifest import spread_manifest

    manifest = spread_manifest(spark, [(f,) for f in files], "path string")

    schema = (
        "src string, idx bigint, region string, target string, "
        "values array<double>"
    )

    def decode(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                h5 = H5File(open_raw(fpath))
                if name not in h5.datasets:
                    raise ValueError(
                        f"dataset {name!r} not in {fpath}"
                    )
                ds = h5.datasets[name]
                if ds.dtype.cls != 7 or ds.dtype.ref_type != 1:
                    raise ValueError(
                        f"dataset {name!r} is not a dataset-region "
                        "reference dataset"
                    )
                refs = h5.read(name).reshape(-1)
                base = _os.path.basename(str(fpath))
                rows = []
                for i, r in enumerate(refs):
                    vals = h5.read_region(r)
                    rows.append(
                        (
                            base,
                            i,
                            r.spec(),
                            r.target or "",
                            np.asarray(vals, dtype="<f8").tolist(),
                        )
                    )
                yield _pd.DataFrame(
                    rows,
                    columns=[
                        "src", "idx", "region", "target", "values",
                    ],
                )

    return manifest.mapInPandas(decode, schema=schema)
