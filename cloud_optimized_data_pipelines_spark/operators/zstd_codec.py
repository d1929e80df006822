"""Pure-python Zstandard frame DECODER (RFC 8878) + a minimal
spec-valid encoder — the compression format modern training corpora
actually ship in (.jsonl.zst shards), decoded from the public spec
and conformance-checked against the REAL reference coder: the
``zstd`` CLI (v1.5.x) present in this container compresses the test
corpus at several levels and this decoder must reproduce every byte
(the libjpeg pattern used for the arithmetic-JPEG conformance proof,
here for the full format surface).

Everything is built from RFC 8878's own construction rules:

- FSE (finite-state entropy): normalized-count bitstream reading
  (4-bit accuracy log + adaptive-width counts with the zero-repeat
  flags, 4.1.1), the position-spread function ``step = (size>>1) +
  (size>>3) + 3`` with low-probability cells parked at the table top,
  and per-cell (baseline, nbBits) from the symbol-occurrence counter
  — all algorithmic, nothing tabulated;
- Huffman: weight -> code-length conversion with the implied last
  weight (missing power-of-two mass), canonical fill of the flat
  decode table from lowest weight upward, the FSE-compressed weight
  description with its TWO alternating decoder states, and the
  1-stream / 4-stream (jump table) literal layouts, each stream a
  BACKWARD bitstream with a 1-bit padding sentinel;
- sequences: literals-length / match-length / offset code tables
  (the RFC's baseline+extra-bits progressions), predefined FSE
  distributions, RLE and FSE-compressed modes, repeat-offset history
  with the literals_length==0 shift rule, and overlapping match
  copies with byte-serial semantics;
- XXH64 content checksum (seed 0, truncated to 32 LE bits) from the
  published constants.

The predefined LL/ML/OF distributions and the code->baseline tables
are RFC tables transcribed with their section numbers; every other
table in the decoder is DERIVED at runtime.  The CLI cross-check in
``tests/test_zstd_codec.py`` covers raw/RLE/compressed blocks,
1- and 4-stream literals, direct and FSE-compressed Huffman
descriptions, predefined and FSE-coded sequence tables, repeat
offsets, and checksums — i.e. every decoder path against bytes this
module never produced.

Encoder scope — the conformance check runs BOTH directions:
:func:`zstd_compress` emits real entropy-coded frames (greedy LZ77
re-coded as zstd sequences under the predefined FSE distributions,
Huffman 1-stream literals with a direct-weight tree description and
depth-11 Kraft-repaired code lengths, raw-literal and raw-block
fallbacks where compression does not win, multi-block with the
standard envelope + XXH64 checksum) that the reference ``zstd -d``
must reproduce byte-exactly — proven over a 60-trial fuzz matrix in
the tests.  :func:`zstd_compress_stored` remains the minimal
raw-block writer for fixtures.

Dictionaries and the legacy/skippable-frame family raise named
errors (skippable frames are SKIPPED per spec; dictionary IDs
raise).
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = 0xFD2FB528
_MAGIC_SKIPPABLE_MIN = 0x184D2A50
_MAGIC_SKIPPABLE_MAX = 0x184D2A5F


# ---------------------------------------------------------------------------
# XXH64 (seed 0) — published constants, scalar implementation
# ---------------------------------------------------------------------------

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        nblocks = n // 32
        lanes = np.frombuffer(data[: nblocks * 32], dtype="<u8")
        for i in range(0, nblocks * 4, 4):
            v1 = _round(v1, int(lanes[i]))
            v2 = _round(v2, int(lanes[i + 1]))
            v3 = _round(v3, int(lanes[i + 2]))
            v4 = _round(v4, int(lanes[i + 3]))
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
        p = nblocks * 32
    else:
        h = (seed + _P5) & _M64
        p = 0
    h = (h + n) & _M64
    while p + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, p)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        p += 8
    if p + 4 <= n:
        (k,) = struct.unpack_from("<I", data, p)
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# backward bitstream (little-endian container, 1-bit padding sentinel)
# ---------------------------------------------------------------------------


class _BackStream:
    """RFC 8878 3.1.1.7: the stream is written forward but READ
    backward; the last byte's highest set bit is padding.

    Dual backing, picked by stream size: a python big-int for small
    streams (weight descriptions, short sequence streams — cheap
    shifts, no numpy call overhead) and 64-bit word-windowed reads
    for large ones (a big-int shift per read is O(stream), which
    made long sequence streams quadratic).  Both expose the same
    read-backward-with-zero-overread semantics."""

    __slots__ = ("value", "bits", "_words")

    _SMALL = 2048  # bytes

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ValueError("zstd: corrupted backward bitstream")
        if len(data) <= self._SMALL:
            self.value = int.from_bytes(data, "little")
            self.bits = self.value.bit_length() - 1
            self._words = None
        else:
            pad = (-len(data)) % 8
            arr = np.frombuffer(data + b"\x00" * pad, "<u8")
            self._words = arr.tolist()  # python ints, O(1) access
            top = data[-1]
            self.bits = (len(data) - 1) * 8 + top.bit_length() - 1

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.bits -= n
        lo = self.bits
        if self._words is None:
            if lo < 0:
                # over-read past the start is zero bits (reference
                # decoder's final reloads do the same)
                return ((self.value << -lo) & ((1 << n) - 1))
            return (self.value >> lo) & ((1 << n) - 1)
        if lo < 0:
            w0 = self._words[0]
            return (w0 << -lo) & ((1 << n) - 1)
        wi, off = divmod(lo, 64)
        # n <= 64 in practice; a read can span two words
        v = self._words[wi] >> off
        got = 64 - off
        if got < n and wi + 1 < len(self._words):
            v |= self._words[wi + 1] << got
        return v & ((1 << n) - 1)

    def exhausted(self) -> bool:
        return self.bits <= 0


# ---------------------------------------------------------------------------
# FSE
# ---------------------------------------------------------------------------


class _FwdBits:
    """Forward little-endian bit reader (FSE table descriptions)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.data[(self.pos + i) >> 3]
            v |= ((byte >> ((self.pos + i) & 7)) & 1) << i
        self.pos += n
        return v

    def byte_len(self) -> int:
        return (self.pos + 7) >> 3


def fse_read_ncount(data: bytes, max_symbol: int) -> tuple[list[int], int, int]:
    """RFC 8878 4.1.1: returns (normalized counts, accuracy_log,
    header byte length)."""
    br = _FwdBits(data)
    accuracy_log = br.read(4) + 5
    if accuracy_log > 9:
        raise ValueError("zstd: accuracy log too large")
    remaining = (1 << accuracy_log) + 1
    threshold = 1 << accuracy_log
    nb_bits = accuracy_log + 1
    counts: list[int] = []
    previous0 = False
    while remaining > 1 and len(counts) <= max_symbol:
        if previous0:
            # zero-repeat flags: 2 bits each, value 3 continues
            while True:
                rep = br.read(2)
                counts.extend([0] * rep)
                if rep < 3:
                    break
            previous0 = False
            if len(counts) > max_symbol:
                break
            continue
        maxv = (2 * threshold - 1) - remaining
        count = br.read(nb_bits - 1)
        if count < maxv:
            pass  # small value: nb_bits - 1 bits were enough
        else:
            count += br.read(1) << (nb_bits - 1)
            if count >= threshold:
                count -= maxv
        count -= 1  # -1 (low prob) .. remaining-1
        remaining -= -count if count < 0 else count
        counts.append(count)
        previous0 = count == 0
        while remaining < threshold:
            nb_bits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("zstd: corrupted FSE normalized counts")
    counts.extend([0] * (max_symbol + 1 - len(counts)))
    return counts, accuracy_log, br.byte_len()


def fse_build_dtable(counts: list[int], accuracy_log: int):
    """RFC 8878 4.1.2: spread symbols, then per-cell (symbol,
    nb_bits, baseline)."""
    size = 1 << accuracy_log
    table_sym = np.zeros(size, dtype=np.int64)
    high = size - 1
    for s, c in enumerate(counts):
        if c == -1:
            table_sym[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for s, c in enumerate(counts):
        for _ in range(max(c, 0)):
            table_sym[pos] = s
            pos = (pos + step) & (size - 1)
            while pos > high:
                pos = (pos + step) & (size - 1)
    if pos != 0:
        raise ValueError("zstd: FSE spread did not close")
    sym_next = [c if c > 0 else 1 for c in counts]
    nb = np.zeros(size, dtype=np.int64)
    base = np.zeros(size, dtype=np.int64)
    for u in range(size):
        s = int(table_sym[u])
        x = sym_next[s]
        sym_next[s] += 1
        nbits = accuracy_log - (x.bit_length() - 1)
        nb[u] = nbits
        base[u] = (x << nbits) - size
    return table_sym, nb, base


class _FseState:
    __slots__ = ("sym", "nb", "base", "state")

    def __init__(self, tables, bs: _BackStream):
        self.sym, self.nb, self.base = tables
        al = int(np.log2(len(self.sym)))
        self.state = bs.read(al)

    def symbol(self) -> int:
        return int(self.sym[self.state])

    def update(self, bs: _BackStream) -> None:
        s = self.state
        self.state = int(self.base[s]) + bs.read(int(self.nb[s]))


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _huf_table_from_weights(weights: list[int]):
    """Weights (last implied) -> flat decode table (sym, nbits) of
    size 2^max_bits, filled from lowest weight upward (RFC 4.2.1)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("zstd: empty Huffman weights")
    # max_bits: exponent of the next power of two STRICTLY above the
    # listed weight mass (the reference's highbit(total)+1); the
    # implied last weight supplies exactly the missing mass
    max_bits = total.bit_length()
    target = 1 << max_bits
    missing = target - total
    if missing & (missing - 1):
        raise ValueError("zstd: implied weight not a power of two")
    weights = weights + [missing.bit_length()]
    if max_bits > 11:
        raise ValueError("zstd: Huffman max bits exceeds 11")
    nbits = [0 if w == 0 else max_bits + 1 - w for w in weights]
    size = 1 << max_bits
    table_sym = np.zeros(size, dtype=np.int64)
    table_nb = np.zeros(size, dtype=np.int64)
    pos = 0
    # lowest weight (longest codes) first; natural symbol order within
    for w in range(1, max_bits + 1):
        for s, ws in enumerate(weights):
            if ws != w:
                continue
            span = 1 << (w - 1)
            table_sym[pos : pos + span] = s
            table_nb[pos : pos + span] = max_bits + 1 - w
            pos += span
    if pos != size:
        raise ValueError("zstd: Huffman table fill mismatch")
    return table_sym, table_nb, max_bits


def _huf_read_weights(data: bytes) -> tuple[list[int], int]:
    """Huffman tree description: returns (weights, header size)."""
    h = data[0]
    if h >= 128:  # direct: n weights, 4 bits each
        n = h - 127
        nbytes = (n + 1) // 2
        raw = data[1 : 1 + nbytes]
        weights = []
        for i in range(n):
            b = raw[i >> 1]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        return weights, 1 + nbytes
    # FSE-compressed weights: h = compressed size
    comp = data[1 : 1 + h]
    counts, al, hdr = fse_read_ncount(comp, 255)
    if al > 6:
        raise ValueError("zstd: weight FSE accuracy log > 6")
    tables = fse_build_dtable(counts, al)
    bs = _BackStream(comp[hdr:])
    even = _FseState(tables, bs)
    odd = _FseState(tables, bs)
    weights: list[int] = []
    # two interleaved states; a state whose update would over-read
    # emits its symbol and the OTHER state flushes the stream
    while True:
        weights.append(even.symbol())
        if bs.bits < int(even.nb[even.state]):
            weights.append(odd.symbol())
            break
        even.update(bs)
        weights.append(odd.symbol())
        if bs.bits < int(odd.nb[odd.state]):
            weights.append(even.symbol())
            break
        odd.update(bs)
        if len(weights) > 255:
            raise ValueError("zstd: runaway Huffman weights")
    return weights, 1 + h


def _huf_decode_stream(data: bytes, table, n_out: int) -> bytes:
    """Per-stream decode: every max_bits-wide window of the bit array
    is precomputed in one vectorized sliding-window matmul, so the
    unavoidable symbol-serial loop is plain list lookups."""
    table_sym, table_nb, max_bits = table
    if not data or data[-1] == 0:
        raise ValueError("zstd: corrupted backward bitstream")
    arr = np.unpackbits(
        np.frombuffer(data, np.uint8), bitorder="little"
    ).astype(np.int64)
    bits = int(np.flatnonzero(arr)[-1])  # drop the sentinel
    pw = (1 << np.arange(max_bits)).astype(np.int64)
    if len(arr) >= max_bits:
        wins = (
            np.lib.stride_tricks.sliding_window_view(arr, max_bits) @ pw
        ).tolist()
    else:
        wins = []
    syms = table_sym.tolist()
    nbs = table_nb.tolist()
    out = bytearray()
    for _ in range(n_out):
        lo = bits - max_bits
        if lo >= 0:
            idx = wins[lo]
        elif bits > 0:
            # pw[-bits:] carries the left-alignment shift
            idx = int(arr[0:bits] @ pw[-bits:])
        else:
            idx = 0
        out.append(syms[idx])
        bits -= nbs[idx]
        if bits < -max_bits:
            raise ValueError("zstd: Huffman stream over-read")
    return bytes(out)


# ---------------------------------------------------------------------------
# sequence code tables (RFC 8878 3.1.1.3.2.1)
# ---------------------------------------------------------------------------


def _ll_table():
    base, extra = [], []
    for c in range(16):
        base.append(c)
        extra.append(0)
    spec = [(16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2),
            (32, 3), (40, 3), (48, 4), (64, 6), (128, 7), (256, 8),
            (512, 9), (1024, 10), (2048, 11), (4096, 12), (8192, 13),
            (16384, 14), (32768, 15), (65536, 16)]
    for b, e in spec:
        base.append(b)
        extra.append(e)
    return base, extra


def _ml_table():
    base, extra = [], []
    for c in range(32):
        base.append(c + 3)
        extra.append(0)
    spec = [(35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2),
            (51, 3), (59, 3), (67, 4), (83, 4), (99, 5), (131, 7),
            (259, 8), (515, 9), (1027, 10), (2051, 11), (4099, 12),
            (8195, 13), (16387, 14), (32771, 15), (65539, 16)]
    for b, e in spec:
        base.append(b)
        extra.append(e)
    return base, extra


LL_BASE, LL_EXTRA = _ll_table()
ML_BASE, ML_EXTRA = _ml_table()

# Predefined FSE distributions (RFC 8878 3.1.1.3.2.2, transcribed)
_LL_DEFAULT = ([4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
                2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
                -1, -1, -1, -1], 6)
_ML_DEFAULT = ([1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
                -1, -1, -1, -1, -1], 6)
_OF_DEFAULT = ([1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1], 5)

_MAX_SYM = {"ll": 35, "ml": 52, "of": 31}
_DEFAULTS = {"ll": _LL_DEFAULT, "ml": _ML_DEFAULT, "of": _OF_DEFAULT}
_MAX_LOG = {"ll": 9, "ml": 9, "of": 8}


def _rle_table(sym: int):
    return (
        np.array([sym], dtype=np.int64),
        np.array([0], dtype=np.int64),
        np.array([0], dtype=np.int64),
    )


# ---------------------------------------------------------------------------
# block decode
# ---------------------------------------------------------------------------


class _FrameCtx:
    """Cross-block state: repeat offsets, repeat FSE tables, repeat
    Huffman table."""

    def __init__(self):
        self.rep = [1, 4, 8]
        self.fse = {"ll": None, "ml": None, "of": None}
        self.huf = None


def _decode_literals(data: bytes, ctx: _FrameCtx) -> tuple[bytes, int]:
    b0 = data[0]
    ltype = b0 & 3
    sformat = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sformat in (0, 2):
            rsize = b0 >> 3
            hsize = 1
        elif sformat == 1:
            rsize = (b0 >> 4) | (data[1] << 4)
            hsize = 2
        else:
            rsize = (b0 >> 4) | (data[1] << 4) | (data[2] << 12)
            hsize = 3
        if ltype == 0:
            return data[hsize : hsize + rsize], hsize + rsize
        return bytes([data[hsize]]) * rsize, hsize + 1
    # compressed (2) or treeless/repeat (3)
    if sformat == 0:
        rsize = (b0 >> 4) | ((data[1] & 0x3F) << 4)
        csize = (data[1] >> 6) | (data[2] << 2)
        hsize = 3
        streams = 1
    elif sformat == 1:
        rsize = (b0 >> 4) | ((data[1] & 0x3F) << 4)
        csize = (data[1] >> 6) | (data[2] << 2)
        hsize = 3
        streams = 4
    elif sformat == 2:
        rsize = (b0 >> 4) | (data[1] << 4) | ((data[2] & 3) << 12)
        csize = (data[2] >> 2) | (data[3] << 6)
        hsize = 4
        streams = 4
    else:
        rsize = (b0 >> 4) | (data[1] << 4) | ((data[2] & 0x3F) << 12)
        csize = (data[2] >> 6) | (data[3] << 2) | (data[4] << 10)
        hsize = 5
        streams = 4
    body = data[hsize : hsize + csize]
    if ltype == 2:
        weights, whdr = _huf_read_weights(body)
        ctx.huf = _huf_table_from_weights(weights)
        body = body[whdr:]
    elif ctx.huf is None:
        raise ValueError("zstd: treeless literals with no previous tree")
    if streams == 1:
        lit = _huf_decode_stream(body, ctx.huf, rsize)
    else:
        s1, s2, s3 = struct.unpack_from("<HHH", body, 0)
        parts = []
        off = 6
        sizes = [s1, s2, s3, len(body) - 6 - s1 - s2 - s3]
        if sizes[3] <= 0:
            raise ValueError("zstd: bad literal jump table")
        per = (rsize + 3) // 4
        outs = [per, per, per, rsize - 3 * per]
        for sz, n_out in zip(sizes, outs):
            parts.append(
                _huf_decode_stream(body[off : off + sz], ctx.huf, n_out)
            )
            off += sz
        lit = b"".join(parts)
    if len(lit) != rsize:
        raise ValueError("zstd: literal size mismatch")
    return lit, hsize + csize


def _read_seq_table(kind: str, mode: int, data: bytes, pos: int,
                    ctx: _FrameCtx) -> int:
    """Set ctx.fse[kind]; returns new pos."""
    if mode == 0:  # predefined
        counts, al = _DEFAULTS[kind]
        ctx.fse[kind] = fse_build_dtable(counts, al)
    elif mode == 1:  # RLE: single symbol byte
        ctx.fse[kind] = _rle_table(data[pos])
        pos += 1
    elif mode == 2:  # FSE-compressed
        counts, al, hdr = fse_read_ncount(data[pos:], _MAX_SYM[kind])
        if al > _MAX_LOG[kind]:
            raise ValueError(f"zstd: {kind} accuracy log too large")
        ctx.fse[kind] = fse_build_dtable(counts, al)
        pos += hdr
    else:  # repeat
        if ctx.fse[kind] is None:
            raise ValueError(f"zstd: repeat {kind} table with no previous")
    return pos


def _decode_block(data: bytes, ctx: _FrameCtx, out: bytearray) -> None:
    lit, pos = _decode_literals(data, ctx)
    # sequences section
    if pos >= len(data):
        raise ValueError("zstd: missing sequences section")
    b0 = data[pos]
    if b0 < 128:
        nseq = b0
        pos += 1
    elif b0 < 255:
        nseq = ((b0 - 128) << 8) + data[pos + 1]
        pos += 2
    else:
        nseq = data[pos + 1] + (data[pos + 2] << 8) + 0x7F00
        pos += 3
    if nseq == 0:
        out += lit
        return
    modes = data[pos]
    pos += 1
    if modes & 3:
        raise ValueError("zstd: reserved sequence mode bits set")
    pos = _read_seq_table("ll", (modes >> 6) & 3, data, pos, ctx)
    pos = _read_seq_table("of", (modes >> 4) & 3, data, pos, ctx)
    pos = _read_seq_table("ml", (modes >> 2) & 3, data, pos, ctx)
    bs = _BackStream(data[pos:])
    ll_st = _FseState(ctx.fse["ll"], bs)
    of_st = _FseState(ctx.fse["of"], bs)
    ml_st = _FseState(ctx.fse["ml"], bs)
    lit_pos = 0
    rep = ctx.rep
    for i in range(nseq):
        of_code = of_st.symbol()
        if of_code > 31:
            raise ValueError("zstd: offset code out of range")
        offset_value = (1 << of_code) + bs.read(of_code)
        ml_code = ml_st.symbol()
        match_len = ML_BASE[ml_code] + bs.read(ML_EXTRA[ml_code])
        ll_code = ll_st.symbol()
        lit_len = LL_BASE[ll_code] + bs.read(LL_EXTRA[ll_code])
        # resolve offset against repeat history
        if offset_value > 3:
            offset = offset_value - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            # repeat offsets; literals_length == 0 shifts the index
            # (RFC 3.1.1.5: "repeat offsets start at index 1 when
            # literals length is 0")
            idx = offset_value - 1 + (1 if lit_len == 0 else 0)
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
            else:  # idx == 3: Repeated_Offset1 - 1
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("zstd: zero repeat offset")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        out += lit[lit_pos : lit_pos + lit_len]
        lit_pos += lit_len
        if offset > len(out):
            raise ValueError("zstd: match offset beyond window")
        start = len(out) - offset
        if offset >= match_len:
            out += out[start : start + match_len]
        else:
            for k in range(match_len):
                out.append(out[start + k])
        if i < nseq - 1:
            ll_st.update(bs)
            ml_st.update(bs)
            of_st.update(bs)
    out += lit[lit_pos:]


# ---------------------------------------------------------------------------
# frame decode
# ---------------------------------------------------------------------------


def decode_frame(data: bytes, pos: int = 0) -> tuple[bytes, int]:
    """Decode one zstd frame; returns (payload, end_pos)."""
    (magic,) = struct.unpack_from("<I", data, pos)
    if _MAGIC_SKIPPABLE_MIN <= magic <= _MAGIC_SKIPPABLE_MAX:
        (sz,) = struct.unpack_from("<I", data, pos + 4)
        return b"", pos + 8 + sz
    if magic != _MAGIC:
        raise ValueError(f"zstd: bad magic {magic:#x}")
    pos += 4
    fhd = data[pos]
    pos += 1
    fcs_flag = fhd >> 6
    single_segment = bool(fhd & 0x20)
    if fhd & 0x08:
        raise ValueError("zstd: reserved frame header bit set")
    checksum = bool(fhd & 0x04)
    dict_flag = fhd & 3
    if not single_segment:
        pos += 1  # window descriptor (we decode whole frames in memory)
    if dict_flag:
        raise ValueError("zstd: dictionaries not supported")
    fcs = None
    fcs_size = {0: 1 if single_segment else 0, 1: 2, 2: 4, 3: 8}[fcs_flag]
    if fcs_size == 1:
        fcs = data[pos]
    elif fcs_size == 2:
        (fcs,) = struct.unpack_from("<H", data, pos)
        fcs += 256
    elif fcs_size == 4:
        (fcs,) = struct.unpack_from("<I", data, pos)
    elif fcs_size == 8:
        (fcs,) = struct.unpack_from("<Q", data, pos)
    pos += fcs_size

    ctx = _FrameCtx()
    out = bytearray()
    while True:
        (bh,) = struct.unpack_from("<I", data[pos : pos + 3] + b"\x00", 0)
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if btype == 0:  # raw
            out += data[pos : pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE: bsize = regenerated size, 1 byte
            out += bytes([data[pos]]) * bsize
            pos += 1
        elif btype == 2:
            _decode_block(data[pos : pos + bsize], ctx, out)
            pos += bsize
        else:
            raise ValueError("zstd: reserved block type")
        if last:
            break
    if fcs is not None and len(out) != fcs:
        raise ValueError("zstd: frame content size mismatch")
    if checksum:
        (want,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if xxh64(bytes(out)) & 0xFFFFFFFF != want:
            raise ValueError("zstd: content checksum mismatch")
    return bytes(out), pos


_CLI_PRESENT: bool | None = None


def _have_cli() -> bool:
    global _CLI_PRESENT
    if _CLI_PRESENT is None:
        import shutil

        _CLI_PRESENT = shutil.which("zstd") is not None
    return _CLI_PRESENT


def zstd_decompress(data: bytes, engine: str = "auto") -> bytes:
    """All frames concatenated (skippable frames skipped).

    ``engine="auto"`` (default) uses the reference ``zstd`` binary
    when the image ships one (hundreds of MB/s — the bulk-ingest
    path) and falls back to ``"pure"``, this module's from-scratch
    RFC 8878 decoder (~2 MB/s — the conformance artifact), mirroring
    the C-hot-path/from-scratch-artifact split in ``deflate_codec``.
    Both are proven byte-identical in tests; pass an explicit engine
    to pin one."""
    if engine == "auto":
        engine = "cli" if _have_cli() else "pure"
    if engine == "cli":
        import subprocess

        r = subprocess.run(
            ["zstd", "-d", "-c"], input=data, capture_output=True
        )
        if r.returncode != 0:
            raise ValueError(
                f"zstd: cli decode failed: {r.stderr[-200:]!r}"
            )
        return r.stdout
    if engine != "pure":
        raise ValueError(f"zstd: unknown engine {engine!r}")
    out = bytearray()
    pos = 0
    while pos < len(data):
        payload, pos = decode_frame(data, pos)
        out += payload
    return bytes(out)


# ---------------------------------------------------------------------------
# minimal encoder: raw/RLE blocks, standard envelope + checksum
# ---------------------------------------------------------------------------


_SINGLE_SEGMENT_CAP = 8 << 20  # libzstd's default window limit is
# 128 MiB (ZSTD_WINDOWLOG_LIMIT_DEFAULT=27), but a single-segment frame
# makes Window_Size == content size, so `zstd -d` without --long would
# reject any larger payload.  Above a conservative 8 MiB we drop the
# single-segment flag and declare a 128 KiB window instead — matches
# never span the encoder's 128 KiB blocks, so that window always
# suffices (RFC 8878 §3.1.1.1.2).


def _frame_header(content_size: int, checksum: bool) -> bytes:
    """FHD (+ window descriptor when not single-segment) + 8-byte FCS."""
    single = content_size < _SINGLE_SEGMENT_CAP
    fhd = (3 << 6) | (0x20 if single else 0) | (0x04 if checksum else 0)
    hdr = bytearray([fhd])
    if not single:
        hdr.append(7 << 3)  # Exponent=7 -> windowLog 17 (128 KiB)
    hdr += struct.pack("<Q", content_size)
    return bytes(hdr)


def zstd_compress_stored(payload: bytes, checksum: bool = True) -> bytes:
    """Always-valid zstd frame using raw blocks (RLE where a block is
    one repeated byte).  Any conformant decoder accepts it; `zstd -d`
    round-trips it in the tests."""
    out = bytearray()
    out += struct.pack("<I", _MAGIC)
    out += _frame_header(len(payload), checksum)
    max_block = (1 << 17) - 1  # block size limited by 21-bit field
    if not payload:
        out += struct.pack("<I", 1)[:3]  # last, raw, size 0
    pos = 0
    while pos < len(payload):
        chunk = payload[pos : pos + max_block]
        pos += len(chunk)
        last = 1 if pos >= len(payload) else 0
        if len(chunk) > 1 and chunk.count(chunk[0]) == len(chunk):
            bh = last | (1 << 1) | (len(chunk) << 3)
            out += struct.pack("<I", bh)[:3]
            out.append(chunk[0])
        else:
            bh = last | (0 << 1) | (len(chunk) << 3)
            out += struct.pack("<I", bh)[:3]
            out += chunk
    if checksum:
        out += struct.pack("<I", xxh64(payload) & 0xFFFFFFFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# compressed-block ENCODER: Huffman literals + predefined-FSE sequences
# ---------------------------------------------------------------------------


class _BackWriter:
    """Forward LSB-first bit pusher whose output a _BackStream reads
    in reverse push order (the FSE/Huffman stream convention): fields
    pushed last are read first.  close() adds the 1-bit sentinel."""

    __slots__ = ("acc", "nbits")

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def push(self, value: int, n: int) -> None:
        if n == 0:
            return
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n

    def close(self) -> bytes:
        self.acc |= 1 << self.nbits  # sentinel
        self.nbits += 1
        return self.acc.to_bytes((self.nbits + 7) // 8, "little")


def _fse_build_ctable(counts: list[int], accuracy_log: int):
    """Encode-side FSE table (the reference FSE_buildCTable shape):
    per-symbol (delta_nb_bits, delta_find_state) + the next-state
    table, derived from the SAME spread as the decode table."""
    size = 1 << accuracy_log
    table_sym = np.zeros(size, dtype=np.int64)
    high = size - 1
    for s, c in enumerate(counts):
        if c == -1:
            table_sym[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for s, c in enumerate(counts):
        for _ in range(max(c, 0)):
            table_sym[pos] = s
            pos = (pos + step) & (size - 1)
            while pos > high:
                pos = (pos + step) & (size - 1)
    # cumul[s]: first state-table slot of symbol s
    cumul = []
    run = 0
    for c in counts:
        cumul.append(run)
        run += 1 if c == -1 else c
    # state table: scanning table positions ascending, each cell of
    # symbol s claims the next slot; stored value = size + position
    next_slot = list(cumul)
    state_table = [0] * size
    for u in range(size):
        s = int(table_sym[u])
        state_table[next_slot[s]] = size + u
        next_slot[s] += 1
    sym_tt = []
    for s, c in enumerate(counts):
        if c == 0:
            sym_tt.append((0, 0))
            continue
        eff = 1 if c == -1 else c
        # reference FSE_buildCTable: maxBitsOut = tableLog -
        # highbit(eff - 1) (tableLog itself when eff == 1, since the
        # single state always reloads a full accuracy_log of bits)
        if eff == 1:
            max_bits = accuracy_log
        else:
            max_bits = accuracy_log - ((eff - 1).bit_length() - 1)
        min_state_plus = eff << max_bits
        delta_nb_bits = (max_bits << 16) - min_state_plus
        delta_find_state = cumul[s] - eff
        sym_tt.append((delta_nb_bits, delta_find_state))
    return sym_tt, state_table, size


class _FseEncState:
    __slots__ = ("sym_tt", "state_table", "size", "state")

    def __init__(self, ctable, first_symbol: int):
        self.sym_tt, self.state_table, self.size = ctable
        delta_nb, delta_fs = self.sym_tt[first_symbol]
        nb_out = (delta_nb + (1 << 15)) >> 16
        value = (nb_out << 16) - delta_nb
        self.state = self.state_table[(value >> nb_out) + delta_fs]

    def encode(self, bw: _BackWriter, symbol: int) -> None:
        delta_nb, delta_fs = self.sym_tt[symbol]
        nb_out = (self.state + delta_nb) >> 16
        bw.push(self.state, nb_out)
        self.state = self.state_table[(self.state >> nb_out) + delta_fs]

    def flush(self, bw: _BackWriter, accuracy_log: int) -> None:
        bw.push(self.state, accuracy_log)


def _ll_code(v: int) -> int:
    if v < 16:
        return v
    for c in range(35, 15, -1):
        if v >= LL_BASE[c]:
            return c
    return 16


def _ml_code(v: int) -> int:
    if v < 35:
        return v - 3
    for c in range(52, 31, -1):
        if v >= ML_BASE[c]:
            return c
    return 32


def _huf_build_ctable(freqs: dict[int, int]):
    """Huffman weights from byte frequencies, capped at 11 bits via
    the weight mapping; returns ({sym: (code, nbits)}, weights list)
    or None when the alphabet exceeds the 128-weight direct header."""
    syms = sorted(freqs)
    if len(syms) < 2 or syms[-1] >= 255:
        return None
    n_weights = syms[-1]  # weights for 0..max_sym-1, last implied
    # build a depth-limited code-length set: package-merge is
    # overkill here — use sorted-frequency halving: assign weights by
    # frequency rank so that Kraft mass sums to a power of two.
    # Simple scheme: give every symbol weight 1, then repeatedly
    # raise the heaviest symbols while the implied-last rule holds.
    # A clean constructive method: standard Huffman lengths, clamped
    # to 11, then repaired to an exact power-of-two mass.
    import heapq

    heap = [(f, [s]) for s, f in freqs.items()]
    heapq.heapify(heap)
    lengths = {s: 0 for s in freqs}
    while len(heap) > 1:
        fa, a = heapq.heappop(heap)
        fb, b = heapq.heappop(heap)
        for s in a + b:
            lengths[s] += 1
        heapq.heappush(heap, (fa + fb, a + b))
    max_len = max(lengths.values())
    if max_len > 11:
        for s in lengths:
            lengths[s] = min(lengths[s], 11)
        max_len = 11
    # repair Kraft mass to exactly 1 (lengths may now overflow)
    def mass():
        return sum(1 << (max_len - L) for L in lengths.values())

    target = 1 << max_len
    order = sorted(lengths, key=lambda s: (lengths[s], -freqs[s]))
    while mass() > target:
        # lengthen the least-frequent shortest symbol
        s = min(
            (s for s in lengths if lengths[s] < max_len),
            key=lambda s: (-lengths[s], freqs[s]),
            default=None,
        )
        if s is None:
            return None
        lengths[s] += 1
    while mass() < target:
        # shorten the most frequent lengthenable symbol
        s = max(
            (s for s in lengths if lengths[s] > 1),
            key=lambda s: (lengths[s], freqs[s]),
        )
        if mass() - (1 << (max_len - lengths[s])) + (
            1 << (max_len - lengths[s] + 1)
        ) <= target:
            lengths[s] -= 1
        else:
            break
    if mass() != target:
        return None
    # weights: w = max_len + 1 - length
    weights_full = [0] * (n_weights + 1)
    for s, L in lengths.items():
        weights_full[s] = max_len + 1 - L
    # the LAST nonzero weight is implied; header carries 0..max_sym-1
    listed = weights_full[:-1]
    implied = weights_full[-1]
    if implied == 0:
        return None  # last symbol must carry the implied weight
    # verify the decoder derives the same table
    table = _huf_table_from_weights(listed)
    codes: dict[int, tuple[int, int]] = {}
    # canonical codes: walk the decode table spans
    table_sym, table_nb, max_bits = table
    u = 0
    size = 1 << max_bits
    while u < size:
        s = int(table_sym[u])
        nb = int(table_nb[u])
        codes[s] = (u >> (max_bits - nb), nb)
        u += 1 << (max_bits - nb)
    return codes, listed, max_bits


def _encode_weights_fse(weights: list[int]) -> bytes | None:
    """FSE-compress a Huffman weight list (the h < 128 tree
    description): two interleaved states, symbols encoded in reverse,
    states flushed C2-then-C1 so the decoder's two init reads land on
    the right parities.  Returns the full description (1-byte size
    header + payload) or None when it wouldn't fit/win."""
    n = len(weights)
    if n < 2:
        return None
    hist = [0] * (max(weights) + 1)
    for w in weights:
        hist[w] += 1
    al = 6
    norm = fse_normalize(hist, al)
    if norm is None:
        return None
    header = fse_write_ncount(norm, al)
    ct = _fse_build_ctable(norm, al)
    bw = _BackWriter()
    ip = n
    if n & 1:
        c1 = _FseEncState(ct, weights[ip - 1]); ip -= 1
        c2 = _FseEncState(ct, weights[ip - 1]); ip -= 1
        c1.encode(bw, weights[ip - 1]); ip -= 1
    else:
        c2 = _FseEncState(ct, weights[ip - 1]); ip -= 1
        c1 = _FseEncState(ct, weights[ip - 1]); ip -= 1
    while ip > 0:
        c2.encode(bw, weights[ip - 1]); ip -= 1
        c1.encode(bw, weights[ip - 1]); ip -= 1
    c2.flush(bw, al)
    c1.flush(bw, al)
    comp = header + bw.close()
    if len(comp) >= 128:
        return None
    return bytes([len(comp)]) + comp


def _weights_description(listed: list[int]) -> bytes | None:
    """Pick the smaller valid tree description: direct 4-bit pairs
    (<= 128 weights) or FSE-compressed (any count, incl. the >128
    alphabets the direct form cannot express)."""
    direct = None
    if len(listed) <= 128:
        direct = bytes([127 + len(listed)]) + bytes(
            (listed[i] << 4)
            | (listed[i + 1] if i + 1 < len(listed) else 0)
            for i in range(0, len(listed), 2)
        )
    fse = _encode_weights_fse(listed)
    if direct is None:
        return fse
    if fse is not None and len(fse) < len(direct):
        return fse
    return direct


def _huf_stream(lit: bytes, codes) -> bytes:
    bw = _BackWriter()
    for b in reversed(lit):
        c, nb = codes[b]
        bw.push(c, nb)
    return bw.close()


def _encode_literals(lit: bytes) -> bytes:
    """Literals section: Huffman-compressed when it wins and the
    alphabet fits the direct-weight header — 1-stream (size_format 0,
    10-bit sizes) for small sections, 4-stream with the jump table
    (size_format 2, 14-bit sizes) for larger ones — else raw."""
    n = len(lit)
    if n >= 32:
        freqs: dict[int, int] = {}
        for b in lit:
            freqs[b] = freqs.get(b, 0) + 1
        built = _huf_build_ctable(freqs)
        head = None
        if built is not None:
            codes, listed, max_bits = built
            head = _weights_description(listed)
        if head is not None:
            if n < (1 << 10):
                comp = head + _huf_stream(lit, codes)
                if len(comp) + 3 < n and len(comp) < (1 << 10):
                    b0 = 2 | (0 << 2) | ((n & 0xF) << 4)
                    b1 = (n >> 4) | ((len(comp) & 3) << 6)
                    b2 = len(comp) >> 2
                    return bytes([b0, b1, b2]) + comp
            elif n < (1 << 14):
                # 4 streams: first three carry ceil(n/4) literals
                per = (n + 3) // 4
                parts = [
                    _huf_stream(lit[k * per : (k + 1) * per], codes)
                    for k in range(3)
                ]
                parts.append(_huf_stream(lit[3 * per :], codes))
                if all(len(p) < (1 << 16) for p in parts[:3]):
                    jump = struct.pack(
                        "<HHH", len(parts[0]), len(parts[1]),
                        len(parts[2]),
                    )
                    comp = head + jump + b"".join(parts)
                    if len(comp) + 4 < n and len(comp) < (1 << 14):
                        b0 = 2 | (2 << 2) | ((n & 0xF) << 4)
                        b1 = ((n >> 4) & 0xFF)
                        b2 = (n >> 12) | ((len(comp) & 0x3F) << 2)
                        b3 = len(comp) >> 6
                        return bytes([b0, b1, b2, b3]) + comp
    # raw literals
    if n < 32:
        return bytes([(n << 3) | 0]) + lit  # size_format 0
    if n < (1 << 12):
        return bytes([((n & 0xF) << 4) | 4, n >> 4]) + lit  # format 1
    return bytes(
        [((n & 0xF) << 4) | 12, (n >> 4) & 0xFF, n >> 12]
    ) + lit  # format 3


def _encode_block_compressed(
    chunk: bytes, rep_in: list[int]
) -> tuple[bytes, list[int]] | None:
    """One compressed block: deflate-style greedy LZ77 re-coded as
    zstd sequences (predefined FSE for LL/OF/ML), Huffman/raw
    literals.  ``rep_in`` is the FRAME-level repeat-offset history
    (it persists across blocks in the decoder — RFC 3.1.1.5); the
    caller commits the returned history only if it emits this block.
    Returns None when raw would be smaller (caller falls back,
    leaving the history untouched)."""
    from cloud_optimized_data_pipelines_spark.operators.deflate_codec import (
        _lz77,
    )

    # zstd blocks allow block-sized offsets and unbounded matches
    tokens = _lz77(chunk, window=len(chunk), max_match=1 << 17)
    lits = bytearray()
    seqs: list[tuple[int, int, int]] = []  # (lit_len, offset, match_len)
    run = bytearray()
    for a, b in tokens:
        if b == 0:
            run.append(a)
        else:
            seqs.append((len(run), b, a))
            lits += run
            run = bytearray()
    tail = bytes(run)
    lits += tail
    body = bytearray()
    body += _encode_literals(bytes(lits))
    n = len(seqs)
    if n == 0:
        body += b"\x00"
        if len(body) < len(chunk):
            return bytes(body), list(rep_in)
        return None
    if n < 128:
        body.append(n)
    elif n < 0x7F00:
        body.append(128 + (n >> 8))
        body.append(n & 0xFF)
    else:
        body += bytes([255, n & 0xFF, (n >> 8) - 0x7F])
    # forward pass: choose repeat-offset codes by simulating the
    # decoder's rep-history updates exactly (RFC 3.1.1.5), seeded
    # with the frame-level history carried across blocks
    rep = list(rep_in)
    ovs = []
    for ll, off, ml in seqs:
        if ll != 0:
            if off == rep[0]:
                ov, idx = 1, 0
            elif off == rep[1]:
                ov, idx = 2, 1
            elif off == rep[2]:
                ov, idx = 3, 2
            else:
                ov, idx = off + 3, None
        else:  # lit_len == 0 shifts the repeat index by one
            if off == rep[1]:
                ov, idx = 1, 1
            elif off == rep[2]:
                ov, idx = 2, 2
            else:
                ov, idx = off + 3, None
        # decoder-mirror rep update
        if idx is None:
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = off
        elif idx == 1:
            rep[1] = rep[0]
            rep[0] = off
        elif idx == 2:
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = off
        ovs.append(ov)
    rows = []
    for (ll, off, ml), ofv in zip(seqs, ovs):
        of_code = ofv.bit_length() - 1
        rows.append(
            (
                _ll_code(ll), ll - LL_BASE[_ll_code(ll)],
                LL_EXTRA[_ll_code(ll)],
                _ml_code(ml), ml - ML_BASE[_ml_code(ml)],
                ML_EXTRA[_ml_code(ml)],
                of_code, ofv - (1 << of_code), of_code,
            )
        )
    # per-stream mode selection: trained FSE table when its entropy
    # estimate (incl. header bytes) beats the predefined one
    ll_mode, ll_hdr, ll_ct = _build_seq_coder("ll", [r[0] for r in rows])
    of_mode, of_hdr, of_ct = _build_seq_coder("of", [r[6] for r in rows])
    ml_mode, ml_hdr, ml_ct = _build_seq_coder("ml", [r[3] for r in rows])
    body.append((ll_mode << 6) | (of_mode << 4) | (ml_mode << 2))
    body += ll_hdr
    body += of_hdr
    body += ml_hdr
    bw = _BackWriter()
    llc, llv, llb, mlc, mlv, mlb, ofc, ofv_, ofb = rows[-1]
    ll_st = _FseEncState(ll_ct, llc)
    of_st = _FseEncState(of_ct, ofc)
    ml_st = _FseEncState(ml_ct, mlc)
    bw.push(llv, llb)
    bw.push(mlv, mlb)
    bw.push(ofv_, ofb)
    for i in range(n - 2, -1, -1):
        llc, llv, llb, mlc, mlv, mlb, ofc, ofv_, ofb = rows[i]
        of_st.encode(bw, ofc)
        ml_st.encode(bw, mlc)
        ll_st.encode(bw, llc)
        bw.push(llv, llb)
        bw.push(mlv, mlb)
        bw.push(ofv_, ofb)
    ml_st.flush(bw, _ML_DEFAULT[1])
    of_st.flush(bw, _OF_DEFAULT[1])
    ll_st.flush(bw, _LL_DEFAULT[1])
    body += bw.close()
    if len(body) < len(chunk):
        return bytes(body), rep
    return None


def zstd_compress(payload: bytes, checksum: bool = True) -> bytes:
    """Entropy-coded zstd frame: Huffman/raw literals + predefined-FSE
    sequences per 128 KiB block, raw-block fallback where compression
    does not win.  The reference CLI round-trips the output
    (tests/test_zstd_codec.py)."""
    out = bytearray()
    out += struct.pack("<I", _MAGIC)
    out += _frame_header(len(payload), checksum)
    block = 1 << 17
    if not payload:
        out += struct.pack("<I", 1)[:3]
    pos = 0
    rep = [1, 4, 8]  # frame-level repeat-offset history
    while pos < len(payload):
        chunk = payload[pos : pos + block]
        pos += len(chunk)
        last = 1 if pos >= len(payload) else 0
        res = _encode_block_compressed(chunk, rep)
        if res is not None:
            comp, rep = res
            out += struct.pack("<I", last | (2 << 1) | (len(comp) << 3))[:3]
            out += comp
        else:
            # raw fallback: the decoder's rep history is untouched
            out += struct.pack("<I", last | (0 << 1) | (len(chunk) << 3))[:3]
            out += chunk
    if checksum:
        out += struct.pack("<I", xxh64(payload) & 0xFFFFFFFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# trained FSE sequence tables (encoder side, mode 2)
# ---------------------------------------------------------------------------


class _FwdBitWriter:
    """Forward little-endian bit writer (FSE table descriptions —
    the mirror of _FwdBits)."""

    __slots__ = ("acc", "nbits")

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n

    def bytes(self) -> bytes:
        return self.acc.to_bytes((self.nbits + 7) // 8, "little")


def fse_normalize(hist: list[int], accuracy_log: int) -> list[int] | None:
    """Normalize symbol frequencies to sum 2^AL with every present
    symbol >= 1 (the -1 low-prob form is never emitted — valid,
    slightly conservative).  Returns None for degenerate inputs."""
    total = sum(hist)
    size = 1 << accuracy_log
    present = [s for s, c in enumerate(hist) if c]
    if total == 0 or len(present) < 2 or len(present) > size:
        return None
    norm = [0] * len(hist)
    acc = 0
    for s in present:
        n = max(1, (hist[s] * size) // total)
        norm[s] = n
        acc += n
    # repair drift onto the largest symbols (never below 1)
    order = sorted(present, key=lambda s: -norm[s])
    i = 0
    while acc > size:
        s = order[i % len(order)]
        if norm[s] > 1:
            norm[s] -= 1
            acc -= 1
        i += 1
        if i > 4 * size:
            return None
    i = 0
    while acc < size:
        s = order[i % len(order)]
        norm[s] += 1
        acc += 1
        i += 1
    return norm


def fse_write_ncount(norm: list[int], accuracy_log: int) -> bytes:
    """Serialize normalized counts — the exact mirror of
    :func:`fse_read_ncount` (adaptive widths, zero-repeat flags)."""
    bw = _FwdBitWriter()
    bw.write(accuracy_log - 5, 4)
    remaining = (1 << accuracy_log) + 1
    threshold = 1 << accuracy_log
    nb_bits = accuracy_log + 1
    sym = 0
    while remaining > 1 and sym < len(norm):
        c = norm[sym]
        stored = c + 1
        maxv = (2 * threshold - 1) - remaining
        if stored < maxv:
            bw.write(stored, nb_bits - 1)
        else:
            enc = stored if stored < threshold else stored + maxv
            bw.write(enc, nb_bits)
        remaining -= -c if c < 0 else c
        sym += 1
        while remaining < threshold:
            nb_bits -= 1
            threshold >>= 1
        if c == 0 and remaining > 1:
            # zero-repeat flags for the following zero run
            run = 0
            while sym + run < len(norm) and norm[sym + run] == 0:
                run += 1
            # never skip past the last coded symbol
            z = run
            while z >= 3:
                bw.write(3, 2)
                z -= 3
            bw.write(z, 2)
            sym += run
    return bw.bytes()


def _build_seq_coder(kind: str, codes: list[int]):
    """Pick predefined vs trained FSE for one code stream; returns
    (mode, header_bytes, ctable)."""
    hist = [0] * (_MAX_SYM[kind] + 1)
    for c in codes:
        hist[c] += 1
    al = _DEFAULTS[kind][1]
    norm = fse_normalize(hist, al)
    if norm is not None:
        header = fse_write_ncount(norm, al)
        # verify our own reader round-trips the description (cheap
        # and guards the writer against drift)
        back, al2, used = fse_read_ncount(header, _MAX_SYM[kind])
        if al2 != al or back[: len(norm)] != norm or used != len(header):
            norm = None
    if norm is None:
        return 0, b"", _fse_build_ctable(*_DEFAULTS[kind])
    # size decision: trained table must beat predefined including
    # its header cost (entropy estimate on both sides)
    import math

    trained_bits = 0
    total = 1 << al
    for c in codes:
        trained_bits += al - int(math.log2(norm[c]))
    pre = _DEFAULTS[kind][0]
    pre_ok = all(c < len(pre) and pre[c] != 0 for c in codes)
    pre_bits = (
        sum(al - int(math.log2(abs(pre[c]))) for c in codes)
        if pre_ok
        else 1 << 30
    )
    if trained_bits + 8 * len(header) < pre_bits:
        return 2, header, _fse_build_ctable(norm, al)
    return 0, b"", _fse_build_ctable(*_DEFAULTS[kind])
