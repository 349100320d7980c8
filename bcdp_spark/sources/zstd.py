"""Zstandard decoder in pure Python, per RFC 8878 (the public
Zstandard format spec), plus the xxh64 hash its content checksums use.

Why it exists: zstd is the DEFAULT codec of Zarr v3 stores
(``bytes`` → ``zstd`` chain), a common numcodecs v2 compressor, the
blosc ``cname='zstd'`` inner codec, and HDF5 filter 32015. The codec
table (``sources/codecs.py``) decodes zstd through pyarrow's bundled
libzstd when the decoded size is known and falls back to this decoder
when it is not, or when libzstd rejects the payload (concatenated or
skippable frames); encoding is libzstd's.

Correctness strategy: the test suite certifies this decoder against
REAL frames produced by pyarrow's bundled libzstd encoder (levels 1 to
19, sizes spanning raw/RLE/compressed literals, single- and
four-stream Huffman, predefined and FSE-compressed sequence tables,
multi-block frames, checksums) plus hand-built frames for the paths
high-level encoders rarely emit.

Supported: single and concatenated frames, skippable frames, raw/RLE/
compressed blocks, all literals modes (raw, RLE, Huffman with direct
or FSE-compressed weights, treeless repeat), all sequence-table modes
(predefined, RLE, FSE-compressed, repeat), repeat offsets incl. the
``litLength == 0`` shift, xxh64 content-checksum verification.
Loud seams: dictionaries (dict ID raises), window enforcement is not
needed for in-memory chunks.
"""

from __future__ import annotations

import struct

_MAGIC = 0xFD2FB528
_SKIP_LO = 0x184D2A50
_SKIP_HI = 0x184D2A5F


# ---------------------------------------------------------------------------
# bit readers
# ---------------------------------------------------------------------------


class _FwdBits:
    """Forward little-endian bit reader (FSE table descriptions).
    Reads slice an O(1) byte window per call — callers may hand in a
    whole block tail, so a whole-buffer integer would make each read
    O(len)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data) * 8

    def read(self, n: int) -> int:
        lo = self.pos >> 3
        hi = (self.pos + n + 7) >> 3
        window = int.from_bytes(self.data[lo:hi], "little")
        out = (window >> (self.pos - lo * 8)) & ((1 << n) - 1)
        self.pos += n
        return out

    def bytes_used(self) -> int:
        return (self.pos + 7) // 8


class _BackBits:
    """Backward bitstream (Huffman + sequence payloads): the last
    byte's highest set bit is a padding sentinel; reading proceeds
    from just below it toward bit 0 of the first byte. Reads past the
    start zero-pad and drive ``pos`` negative (callers check).

    Reads slice an O(1) byte window per call (never a whole-stream
    integer — that would make an n-bit stream O(n²) to drain)."""

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ValueError("zstd: corrupt backward bitstream")
        self.data = data
        self.pos = len(data) * 8 - 8 + data[-1].bit_length() - 1

    def peek(self, n: int) -> int:
        p = self.pos - n
        if p < 0:
            take = n + p  # bits actually available
            if take <= 0:
                return 0
            hi = (self.pos + 7) >> 3
            window = int.from_bytes(self.data[:hi], "little")
            return (window & ((1 << take) - 1)) << (n - take)
        lo = p >> 3
        hi = (self.pos + 7) >> 3
        window = int.from_bytes(self.data[lo:hi], "little")
        return (window >> (p - lo * 8)) & ((1 << n) - 1)

    def read(self, n: int) -> int:
        out = self.peek(n)
        self.pos -= n
        return out


# ---------------------------------------------------------------------------
# FSE
# ---------------------------------------------------------------------------


def _fse_read_distribution(data: bytes, max_symbol: int,
                           max_al: int) -> tuple[list[int], int, int]:
    """Read a normalized count table (RFC 8878 §4.1.1). Returns
    (counts, accuracy_log, header_bytes_used)."""
    br = _FwdBits(data)
    al = br.read(4) + 5
    if al > max_al:
        raise ValueError(f"zstd: FSE accuracy log {al} > max {max_al}")
    remaining = (1 << al) + 1
    threshold = 1 << al
    nbits = al + 1
    counts: list[int] = []
    prev_zero = False
    while remaining > 1 and len(counts) <= max_symbol:
        if prev_zero:
            rep = br.read(2)
            while rep == 3:
                counts.extend((0, 0, 0))
                rep = br.read(2)
            counts.extend([0] * rep)
            prev_zero = False
            if len(counts) > max_symbol:
                break
            continue
        maxv = (2 * threshold - 1) - remaining
        v = br.read(nbits - 1)
        if v < maxv:
            count = v
        else:
            v2 = v | (br.read(1) << (nbits - 1))
            count = v2 - maxv if v2 >= threshold else v2
        count -= 1  # -1 encodes "less than one"
        remaining -= -count if count < 0 else count
        counts.append(count)
        prev_zero = count == 0
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("zstd: corrupt FSE distribution")
    return counts, al, br.bytes_used()


class _FseTable:
    """FSE decoding table: per-state (symbol, num_bits, baseline)."""

    __slots__ = ("al", "symbol", "nbits", "base")

    def __init__(self, counts: list[int], al: int):
        size = 1 << al
        self.al = al
        symbol = [0] * size
        hi = size - 1
        for s, p in enumerate(counts):
            if p == -1:
                symbol[hi] = s
                hi -= 1
        step = (size >> 1) + (size >> 3) + 3
        mask = size - 1
        pos = 0
        for s, p in enumerate(counts):
            for _ in range(max(p, 0)):
                symbol[pos] = s
                pos = (pos + step) & mask
                while pos > hi:
                    pos = (pos + step) & mask
        if pos != 0:
            raise ValueError("zstd: corrupt FSE table spread")
        ctr = [1 if p == -1 else p for p in counts]
        nbits = [0] * size
        base = [0] * size
        for i in range(size):
            s = symbol[i]
            x = ctr[s]
            ctr[s] += 1
            nb = al - (x.bit_length() - 1)
            nbits[i] = nb
            base[i] = (x << nb) - size
        self.symbol = symbol
        self.nbits = nbits
        self.base = base

    @classmethod
    def rle(cls, sym: int) -> "_FseTable":
        t = cls.__new__(cls)
        t.al = 0
        t.symbol = [sym]
        t.nbits = [0]
        t.base = [0]
        return t


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _huffman_weights(data: bytes) -> tuple[list[int], int]:
    """Huffman tree description → (weights, bytes consumed)."""
    h = data[0]
    if h >= 128:  # direct: 4-bit weights, high nibble first
        n = h - 127
        w = []
        for i in range(n):
            b = data[1 + i // 2]
            w.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return w, 1 + (n + 1) // 2
    counts, al, used = _fse_read_distribution(data[1 : 1 + h], 255, 6)
    table = _FseTable(counts, al)
    bits = _BackBits(data[1 + used : 1 + h])
    s1 = bits.read(al)
    s2 = bits.read(al)
    w: list[int] = []
    while True:
        if len(w) > 254:
            raise ValueError("zstd: too many Huffman weights")
        w.append(table.symbol[s1])
        s1 = table.base[s1] + bits.read(table.nbits[s1])
        if bits.pos < 0:
            w.append(table.symbol[s2])
            break
        w.append(table.symbol[s2])
        s2 = table.base[s2] + bits.read(table.nbits[s2])
        if bits.pos < 0:
            w.append(table.symbol[s1])
            break
    return w, 1 + h


class _HufTable:
    """Canonical Huffman decode table: ``peek(table_log)`` bits index
    straight into (symbol, num_bits)."""

    __slots__ = ("log", "symbol", "nbits")

    def __init__(self, weights: list[int]):
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        if total == 0:
            raise ValueError("zstd: empty Huffman table")
        log = total.bit_length()  # smallest 2^log > total
        rest = (1 << log) - total
        if rest & (rest - 1):
            raise ValueError("zstd: corrupt Huffman weights")
        weights = weights + [rest.bit_length()]  # implicit last weight
        size = 1 << log
        self.log = log
        self.symbol = [0] * size
        self.nbits = [0] * size
        pos = 0
        for w in range(1, log + 1):
            span = 1 << (w - 1)
            for sym, sw in enumerate(weights):
                if sw != w:
                    continue
                nb = log + 1 - w
                for _ in range(span):
                    self.symbol[pos] = sym
                    self.nbits[pos] = nb
                    pos += 1
        if pos != size:
            raise ValueError("zstd: Huffman table underfilled")


def _huf_decode_stream(data: bytes, n_out: int, t: _HufTable) -> bytearray:
    bits = _BackBits(data)
    out = bytearray()
    for _ in range(n_out):
        idx = bits.peek(t.log)
        out.append(t.symbol[idx])
        bits.pos -= t.nbits[idx]
    if bits.pos != 0:
        raise ValueError("zstd: Huffman stream not fully consumed")
    return out


# ---------------------------------------------------------------------------
# sequence code tables (RFC 8878 §3.1.1.3.2.1)
# ---------------------------------------------------------------------------

_LL_BASE = tuple(range(16)) + (
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536,
)
_LL_BITS = (0,) * 16 + (
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
)
_ML_BASE = tuple(range(3, 35)) + (
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539,
)
_ML_BITS = (0,) * 32 + (
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
)

_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1], 6,
)
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1], 6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1], 5,
)
_SEQ_MAX = {"ll": 35, "ml": 52, "of": 31}
_SEQ_MAX_AL = {"ll": 9, "ml": 9, "of": 8}


# ---------------------------------------------------------------------------
# xxh64 (for the optional content checksum)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                (lane,) = struct.unpack_from("<Q", data, i + 8 * j)
                v = _rotl((v + lane * _P2) & _M, 31) * _P1 & _M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= _rotl((v * _P2) & _M, 31) * _P1 & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h ^= _rotl((lane * _P2) & _M, 31) * _P1 & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h ^= (lane * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _FrameState:
    def __init__(self):
        self.huf: _HufTable | None = None
        self.tables: dict[str, _FseTable | None] = {
            "ll": None, "ml": None, "of": None
        }
        self.rep = [1, 4, 8]


def _read_num_seq(data: bytes) -> tuple[int, int]:
    b0 = data[0]
    if b0 < 128:
        return b0, 1
    if b0 < 255:
        return ((b0 - 128) << 8) | data[1], 2
    # RFC 8878: byte0=255 → nseq = byte1 + (byte2<<8) + 0x7F00; this
    # is ADDITION, not OR — the low field carries into 0x7F00
    return data[1] + (data[2] << 8) + 0x7F00, 3


def _seq_table(data: bytes, pos: int, mode: int, kind: str,
               st: _FrameState) -> tuple[_FseTable, int]:
    if mode == 0:  # predefined
        dist, al = {"ll": _LL_DEFAULT, "ml": _ML_DEFAULT,
                    "of": _OF_DEFAULT}[kind]
        return _FseTable(dist, al), pos
    if mode == 1:  # RLE: single symbol byte
        return _FseTable.rle(data[pos]), pos + 1
    if mode == 2:  # FSE-compressed
        counts, al, used = _fse_read_distribution(
            data[pos:], _SEQ_MAX[kind], _SEQ_MAX_AL[kind]
        )
        return _FseTable(counts, al), pos + used
    prev = st.tables[kind]  # mode 3: repeat
    if prev is None:
        raise ValueError(f"zstd: repeat {kind} table with no previous")
    return prev, pos


def _decode_literals(block: bytes, st: _FrameState) -> tuple[bytes, int]:
    b0 = block[0]
    ltype = b0 & 0x3
    sf = (b0 >> 2) & 0x3
    if ltype in (0, 1):  # raw / RLE
        if sf in (0, 2):
            regen = b0 >> 3
            pos = 1
        elif sf == 1:
            regen = (b0 >> 4) | (block[1] << 4)
            pos = 2
        else:
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            pos = 3
        if ltype == 0:
            return bytes(block[pos : pos + regen]), pos + regen
        return bytes([block[pos]]) * regen, pos + 1
    # Huffman-compressed (2) or treeless repeat (3)
    if sf == 0:
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) | (block[2] << 2)
        pos, streams = 3, 1
    elif sf == 1:
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) | (block[2] << 2)
        pos, streams = 3, 4
    elif sf == 2:
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3) << 12)
        comp = (block[2] >> 2) | (block[3] << 6)
        pos, streams = 4, 4
    else:
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        comp = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
        pos, streams = 5, 4
    end = pos + comp
    if ltype == 2:
        weights, used = _huffman_weights(block[pos:end])
        st.huf = _HufTable(weights)
        pos += used
    if st.huf is None:
        raise ValueError("zstd: treeless literals with no previous table")
    if streams == 1:
        out = _huf_decode_stream(block[pos:end], regen, st.huf)
        return bytes(out), end
    s1, s2, s3 = struct.unpack_from("<HHH", block, pos)
    pos += 6
    per = (regen + 3) // 4
    sizes = [s1, s2, s3, end - pos - s1 - s2 - s3]
    outs = []
    for k, sz in enumerate(sizes):
        want = per if k < 3 else regen - 3 * per
        outs.append(_huf_decode_stream(block[pos : pos + sz], want, st.huf))
        pos += sz
    return bytes(b"".join(outs)), end


def _decode_block(block: bytes, out: bytearray, st: _FrameState,
                  frame_start: int = 0) -> None:
    lits, pos = _decode_literals(block, st)
    nseq, used = _read_num_seq(block[pos:])
    pos += used
    if nseq == 0:
        if pos != len(block):
            raise ValueError("zstd: trailing bytes after 0-sequence block")
        out += lits
        return
    modes = block[pos]
    pos += 1
    ll_t, pos = _seq_table(block, pos, (modes >> 6) & 3, "ll", st)
    of_t, pos = _seq_table(block, pos, (modes >> 4) & 3, "of", st)
    ml_t, pos = _seq_table(block, pos, (modes >> 2) & 3, "ml", st)
    st.tables.update(ll=ll_t, of=of_t, ml=ml_t)
    bits = _BackBits(block[pos:])
    ll_s = bits.read(ll_t.al)
    of_s = bits.read(of_t.al)
    ml_s = bits.read(ml_t.al)
    lit_pos = 0
    rep = st.rep
    for i in range(nseq):
        of_code = of_t.symbol[of_s]
        ml_code = ml_t.symbol[ml_s]
        ll_code = ll_t.symbol[ll_s]
        off_val = (1 << of_code) + bits.read(of_code)
        ml = _ML_BASE[ml_code] + bits.read(_ML_BITS[ml_code])
        ll = _LL_BASE[ll_code] + bits.read(_LL_BITS[ll_code])
        if off_val > 3:
            offset = off_val - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = off_val - 1 if ll != 0 else off_val
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 2:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:  # off_val == 3 with ll == 0: rep1 - 1
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("zstd: zero repeat offset")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if bits.pos < 0:
            raise ValueError("zstd: sequence bitstream overrun")
        out += lits[lit_pos : lit_pos + ll]
        lit_pos += ll
        start = len(out) - offset
        if start < frame_start:
            raise ValueError("zstd: match offset beyond frame start")
        while ml > 0:
            take = min(ml, len(out) - start)
            out += out[start : start + take]
            start += take
            ml -= take
        if i < nseq - 1:
            ll_s = ll_t.base[ll_s] + bits.read(ll_t.nbits[ll_s])
            ml_s = ml_t.base[ml_s] + bits.read(ml_t.nbits[ml_s])
            of_s = of_t.base[of_s] + bits.read(of_t.nbits[of_s])
    if bits.pos != 0:
        raise ValueError("zstd: sequence bitstream not fully consumed")
    out += lits[lit_pos:]


def zstd_decompress_pure(data: bytes, expected_size: int | None = None,
                         verify_checksum: bool = True) -> bytes:
    """Decode one or more concatenated zstd frames (pure Python)."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        (magic,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if _SKIP_LO <= magic <= _SKIP_HI:
            (sz,) = struct.unpack_from("<I", data, pos)
            pos += 4 + sz
            continue
        if magic != _MAGIC:
            raise ValueError(f"zstd: bad magic {magic:#x}")
        fhd = data[pos]
        pos += 1
        dict_flag = fhd & 0x3
        checksum = bool(fhd & 0x4)
        single_seg = bool(fhd & 0x20)
        fcs_flag = fhd >> 6
        if not single_seg:
            pos += 1  # window descriptor (no enforcement for chunks)
        if dict_flag:
            did = int.from_bytes(
                data[pos : pos + (1, 2, 4)[dict_flag - 1]], "little"
            )
            pos += (1, 2, 4)[dict_flag - 1]
            if did:
                raise NotImplementedError(
                    f"zstd: dictionary {did} required"
                )
        fcs = None
        if fcs_flag == 0:
            if single_seg:
                fcs = data[pos]
                pos += 1
        elif fcs_flag == 1:
            fcs = struct.unpack_from("<H", data, pos)[0] + 256
            pos += 2
        elif fcs_flag == 2:
            (fcs,) = struct.unpack_from("<I", data, pos)
            pos += 4
        else:
            (fcs,) = struct.unpack_from("<Q", data, pos)
            pos += 8
        st = _FrameState()
        frame_start = len(out)
        while True:
            hdr = int.from_bytes(data[pos : pos + 3], "little")
            pos += 3
            last = hdr & 1
            btype = (hdr >> 1) & 3
            bsize = hdr >> 3
            if btype == 0:
                out += data[pos : pos + bsize]
                pos += bsize
            elif btype == 1:
                out += data[pos : pos + 1] * bsize
                pos += 1
            elif btype == 2:
                _decode_block(
                    bytes(data[pos : pos + bsize]), out, st, frame_start
                )
                pos += bsize
            else:
                raise ValueError("zstd: reserved block type")
            if last:
                break
        if fcs is not None and len(out) - frame_start != fcs:
            raise ValueError(
                f"zstd: frame content size mismatch "
                f"({len(out) - frame_start} != {fcs})"
            )
        if checksum:
            (want,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if verify_checksum:
                got = xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF
                if got != want:
                    raise ValueError("zstd: content checksum mismatch")
    if expected_size is not None and len(out) != expected_size:
        raise ValueError(
            f"zstd: output size {len(out)} != expected {expected_size}"
        )
    return bytes(out)
