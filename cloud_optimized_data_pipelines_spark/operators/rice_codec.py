"""Pure-python/numpy CCSDS 121.0-B extended-Rice codec — the szip
entropy coder, implemented from the public CCSDS 121.0-B-2 Blue Book
(the spec szip/libaec implement) so szip-compressed HDF5 chunks decode
without libsz.

Bitstream layout (MSB-first bit packing, as szip's SZ_MSB default):

- samples are processed in SCANLINES of ``pixels_per_scanline``
  samples; each scanline is an independent reference-sample interval
  (szip semantics: the unit-delay predictor resets per scanline);
- each scanline is split into BLOCKS of ``pixels_per_block`` (J)
  samples; per block an option-ID field selects the code:

  | ID (``id_len`` bits)       | option                               |
  |----------------------------|--------------------------------------|
  | 0, then one bit ``0``      | zero-block run (FS-coded run length) |
  | 0, then one bit ``1``      | second-extension                     |
  | k+1 (1 .. 2^id_len - 2)    | k-bit sample-split                   |
  | all ones                   | no compression (raw n-bit samples)   |

  ``id_len`` = 3 for n <= 8 bits/sample, 4 for n <= 16, 5 for n <= 32
  (CCSDS 121.0-B-2 table 5-1, matching szip/libaec);
- FS (fundamental sequence) codeword of m = m ``0`` bits then a ``1``;
- k-split: the FS codes of (d >> k) for every sample in the block,
  THEN the k LSBs of every sample (5.1.2: split parts follow the FS
  block);
- second-extension: consecutive sample pairs (d0, d1) map to
  m = (d0+d1)(d0+d1+1)/2 + d1, FS-coded (5.1.4);
- zero-block: FS value f encodes a run of f+1 zero blocks for
  f <= 3, ``ROS`` (rest of the 64-block segment is zero) for f = 4,
  and a run of f blocks for f >= 5 (5.1.3);
- NN preprocessing (szip SZ_NN_OPTION_MASK): the FIRST sample of each
  scanline is a reference sample stored RAW (n bits, immediately
  after the first block's ID field); every other sample is the
  standard mapped prediction residual against its left neighbor
  (4.2.2): with theta = min(pred, 2^n - 1 - pred),
  delta in [0, theta] -> 2*delta, [-theta, 0) -> 2|delta| - 1,
  else theta + |delta|.  EC mode (SZ_EC) codes raw sample values with
  no reference;
- in the second-extension option, pair alignment is by absolute block
  position — a reference sample occupies position 0, so the first FS
  of a reference block yields only its second element (libaec's
  ``m_se`` rule).

Compatibility: validated by round-trip over every option, by
hand-pinned golden bitstreams derived from the spec text, and against
the spec's worked mappings.  No szip/libaec binary exists in this
container to cross-check real-world streams; scanlines that are not a
whole number of blocks (szip pads these) raise a NAMED error rather
than guessing the padding rule.
"""

from __future__ import annotations

import numpy as np


def _id_len(n_bits: int) -> int:
    if n_bits <= 8:
        return 3
    if n_bits <= 16:
        return 4
    if n_bits <= 32:
        return 5
    raise ValueError(f"rice: bits_per_pixel {n_bits} > 32 unsupported")


class BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, width: int) -> None:
        if width == 0:
            return
        self._acc = (self._acc << width) | (value & ((1 << width) - 1))
        self._n += width
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_fs(self, m: int) -> None:
        # m zeros then a one; bulk zeros in 32-bit chunks
        while m >= 32:
            self.write(0, 32)
            m -= 32
        self.write(1, m + 1)

    def getvalue(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.buf.append((self._acc << pad) & 0xFF)
            self._acc, self._n = 0, 0
        return bytes(self.buf)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, width: int) -> int:
        out = 0
        pos = self.pos
        data = self.data
        end = pos + width
        if end > len(data) * 8:
            raise ValueError("rice: bitstream truncated")
        while width:
            byte = data[pos >> 3]
            avail = 8 - (pos & 7)
            take = avail if avail < width else width
            out = (out << take) | (
                (byte >> (avail - take)) & ((1 << take) - 1)
            )
            pos += take
            width -= take
        self.pos = pos
        return out

    def read_fs(self) -> int:
        m = 0
        while self.read(1) == 0:
            m += 1
            if m > 1 << 20:  # corrupt-stream guard
                raise ValueError("rice: runaway FS codeword")
        return m


def _map_nn(scan: np.ndarray, n_bits: int) -> np.ndarray:
    """CCSDS 4.2.2 prediction-residual mapping for one scanline; index
    0 is the reference (returned as-is, stored raw by the caller)."""
    return _map_nn_rows(scan.astype(np.int64).reshape(1, -1), n_bits)[0]


def _map_nn_rows(scans: np.ndarray, n_bits: int) -> np.ndarray:
    """Row-vectorized :func:`_map_nn`: one row per scanline (the
    mapping never crosses a scanline boundary, so all rows map in one
    shot)."""
    x = scans
    xmax = (1 << n_bits) - 1
    pred = x[:, :-1]
    delta = x[:, 1:] - pred
    theta = np.minimum(pred, xmax - pred)
    mapped = np.where(
        (delta >= 0) & (delta <= theta),
        2 * delta,
        np.where((delta < 0) & (-delta <= theta), -2 * delta - 1,
                 theta + np.abs(delta)),
    )
    return np.concatenate([x[:, :1], mapped], axis=1)


def _unmap_nn(mapped: np.ndarray, n_bits: int) -> np.ndarray:
    """Inverse of :func:`_map_nn` (sequential — each sample's theta
    depends on the previous reconstruction)."""
    return _unmap_nn_rows(
        np.asarray(mapped, np.int64).reshape(1, -1), n_bits
    )[0]


def _unmap_nn_rows(mapped: np.ndarray, n_bits: int) -> np.ndarray:
    """Row-vectorized :func:`_unmap_nn` (optimization r15, guide §4.2):
    the recurrence is sequential WITHIN a scanline but independent
    ACROSS scanlines, so one chunk's scanlines unmap together — the
    Python loop runs pixels_per_scanline times over numpy rows instead
    of n_samples times over scalars.  Same integer ops, bit-exact."""
    xmax = (1 << n_bits) - 1
    out = np.empty_like(mapped)
    out[:, 0] = mapped[:, 0]
    prev = mapped[:, 0].copy()
    for i in range(1, mapped.shape[1]):
        d = mapped[:, i]
        theta = np.minimum(prev, xmax - prev)
        delta_le = np.where(d % 2 == 0, d // 2, -((d + 1) // 2))
        mag = d - theta
        delta_gt = np.where(prev + mag <= xmax, mag, -mag)
        prev = prev + np.where(d <= 2 * theta, delta_le, delta_gt)
        out[:, i] = prev
    return out


class _VecBitReader:
    """Vectorized MSB-first bit reader: unpacks the stream to a bit
    array once, pre-indexes the positions of 1-bits, and serves FS
    codewords via ``searchsorted`` (a whole block's FS values in one
    call) and fixed-width fields via a reshape + dot — replacing the
    per-bit Python loop of :class:`BitReader` with the same stream
    semantics (including the truncation and runaway-FS guards)."""

    def __init__(self, data: bytes) -> None:
        self._bits = np.unpackbits(np.frombuffer(data, np.uint8))
        self._ones = np.flatnonzero(self._bits).astype(np.int64)
        self._n = self._bits.size
        self.pos = 0
        self._pows: dict[int, np.ndarray] = {}

    def _pow(self, width: int) -> np.ndarray:
        p = self._pows.get(width)
        if p is None:
            p = (1 << np.arange(width - 1, -1, -1)).astype(np.int64)
            self._pows[width] = p
        return p

    def read(self, width: int) -> int:
        if width == 0:
            return 0
        end = self.pos + width
        if end > self._n:
            raise ValueError("rice: bitstream truncated")
        out = int(self._bits[self.pos : end] @ self._pow(width))
        self.pos = end
        return out

    def read_many(self, count: int, width: int) -> np.ndarray:
        if width == 0 or count == 0:
            return np.zeros(count, np.int64)
        end = self.pos + count * width
        if end > self._n:
            raise ValueError("rice: bitstream truncated")
        out = self._bits[self.pos : end].reshape(count, width) @ self._pow(
            width
        )
        self.pos = end
        return out.astype(np.int64)

    def read_fs(self) -> int:
        return int(self.read_fs_many(1)[0])

    def read_fs_many(self, count: int) -> np.ndarray:
        i = int(np.searchsorted(self._ones, self.pos))
        if i + count > self._ones.size:
            raise ValueError("rice: bitstream truncated")
        p = self._ones[i : i + count]
        ms = np.empty(count, np.int64)
        ms[0] = p[0] - self.pos
        if count > 1:
            ms[1:] = np.diff(p) - 1
        if ms.max(initial=0) > 1 << 20:  # corrupt-stream guard
            raise ValueError("rice: runaway FS codeword")
        self.pos = int(p[-1]) + 1
        return ms


class _VecBitWriter:
    """Vectorized MSB-first bit packer: collects (value, width) runs as
    numpy chunks and materializes the byte stream ONCE via a bit
    explode + ``np.packbits`` — bit-identical to :class:`BitWriter`
    (same MSB-first order, same zero-padded final byte) but without a
    Python-level call per sample.  Values must be < 2^63 (raw samples
    are < 2^32; FS codewords write the value 1)."""

    def __init__(self) -> None:
        self._vals: list[np.ndarray] = []
        self._wids: list[np.ndarray] = []

    def write(self, value: int, width: int) -> None:
        if width == 0:
            return
        self._vals.append(np.array([value], np.int64))
        self._wids.append(np.array([width], np.int64))

    def write_arr(self, values: np.ndarray, width: int) -> None:
        """Fixed-width run: every element of ``values`` in ``width``
        bits."""
        if width == 0 or len(values) == 0:
            return
        v = np.asarray(values, np.int64)
        self._vals.append(v)
        self._wids.append(np.full(len(v), width, np.int64))

    def write_fs_arr(self, ms: np.ndarray) -> None:
        """FS codewords for every m in ``ms``: m zeros then a one —
        i.e. the value 1 in (m + 1) bits."""
        m = np.asarray(ms, np.int64)
        if len(m) == 0:
            return
        self._vals.append(np.ones(len(m), np.int64))
        self._wids.append(m + 1)

    def getvalue(self) -> bytes:
        if not self._vals:
            return b""
        v = np.concatenate(self._vals)
        w = np.concatenate(self._wids)
        total = int(w.sum())
        starts = np.cumsum(w) - w
        # per-bit index within its op: 0 = MSB
        b = np.arange(total, dtype=np.int64) - np.repeat(starts, w)
        shift = np.repeat(w, w) - 1 - b
        vr = np.repeat(v, w)
        # shift >= 63 always yields bit 0 for values < 2^63, so the
        # clamp below is exact (numpy's >> is undefined past 63)
        bits = (
            (vr >> np.minimum(shift, 63)) & 1
        ).astype(np.uint8)
        return np.packbits(bits).tobytes()


def rice_encode(
    samples: np.ndarray,
    n_bits: int,
    pixels_per_block: int = 16,
    pixels_per_scanline: int = 128,
    nn: bool = True,
) -> bytes:
    """Encode unsigned samples (< 2^n_bits).  Total length must be a
    whole number of scanlines and scanlines a whole number of blocks
    (the szip geometries our HDF5 writer emits)."""
    j = pixels_per_block
    idl = _id_len(n_bits)
    uncomp_id = (1 << idl) - 1
    max_k = uncomp_id - 2  # ids 1..2^idl-2 are k = id-1
    flat = np.asarray(samples).reshape(-1).astype(np.int64)
    if flat.size % pixels_per_scanline:
        raise ValueError("rice: samples must fill whole scanlines")
    if pixels_per_scanline % j:
        raise ValueError(
            "rice: pixels_per_scanline must be a multiple of "
            "pixels_per_block (szip pads partial blocks; this codec "
            "does not guess that rule)"
        )
    if flat.min(initial=0) < 0 or flat.max(initial=0) >= (1 << n_bits):
        raise ValueError(f"rice: samples out of [0, 2^{n_bits})")
    ppl = pixels_per_scanline
    nscan = flat.size // ppl
    nblocks = ppl // j
    scans = flat.reshape(nscan, ppl)
    mapped = _map_nn_rows(scans, n_bits) if nn else scans

    # ---- vectorized per-block option costs (every block at once) ----
    # "zeroed" blocks: the reference sample (block 0 of each scanline
    # under NN) is zeroed out, which makes every cost sum below exact:
    # k-split/FS sums skip it (0 >> k == 0) and the SE pair layout with
    # a zeroed position 0 IS the spec's ref-aligned se_block.
    blk = mapped.reshape(nscan, nblocks, j).astype(np.int64)
    zeroed = blk
    lens = np.full((nscan, nblocks), j, np.int64)
    if nn:
        zeroed = blk.copy()
        zeroed[:, 0, 0] = 0
        lens[:, 0] = j - 1
    is_zero = ~zeroed.any(axis=2)
    # k-split costs: sum(block >> k) + len + k*len for k = 0..max_k;
    # argmin's first-minimum tie-break = the old loop's strict < scan
    ks = np.arange(max_k + 1, dtype=np.int64)
    shifted_sums = (
        zeroed[:, :, :, None] >> ks[None, None, None, :]
    ).sum(axis=2)
    k_costs = shifted_sums + lens[:, :, None] * (1 + ks[None, None, :])
    best_k = np.argmin(k_costs, axis=2)
    best_cost = np.take_along_axis(
        k_costs, best_k[:, :, None], axis=2
    )[:, :, 0]
    # SE costs in float64: exact below 2^53; past that the true cost
    # is astronomically larger than the <= 1024-bit alternatives, so
    # no comparison can flip (the old code used Python ints here)
    pairs = zeroed[:, :, : j - (j % 2)].reshape(
        nscan, nblocks, j // 2, 2
    ).astype(np.float64)
    t = pairs[:, :, :, 0] + pairs[:, :, :, 1]
    se_m_f = t * (t + 1.0) / 2.0 + pairs[:, :, :, 1]
    se_cost = se_m_f.sum(axis=2) + (j // 2) + 1.0
    if j % 2:
        # odd J: non-ref blocks can't pair evenly, and the ref-block
        # pair layout desyncs too (the encoder's slice drops the last
        # delta while a decoder must read (j+1)//2 pairs — r10
        # ADVICE); SE is disabled for EVERY block at odd J.
        se_cost[:, :] = np.inf
    uncomp_cost = n_bits * lens
    use_uncomp = (uncomp_cost <= best_cost) & (uncomp_cost <= se_cost)
    use_se = ~use_uncomp & (se_cost < best_cost)

    w = _VecBitWriter()
    for s in range(nscan):
        scan_mapped = mapped[s]
        b = 0
        while b < nblocks:
            ref = nn and b == 0
            start = b * j
            # zero-run (never on the reference block: the spec's
            # ref-inside-zero-run layout is implementation-defined
            # enough that this encoder just never emits it)
            if not ref and is_zero[s, b]:
                run = 1
                seg_end = min(((b // 64) + 1) * 64, nblocks)
                while b + run < seg_end and is_zero[s, b + run]:
                    run += 1
                w.write(0, idl)  # low-entropy ID
                w.write(0, 1)  # zero-block
                if b + run == seg_end and run >= 5:
                    w.write_fs_arr([4])  # ROS: zero to the segment end
                elif run <= 4:
                    w.write_fs_arr([run - 1])
                else:
                    w.write_fs_arr([run])
                b += run
                continue
            block = scan_mapped[start + (1 if ref else 0) : start + j]
            # (the reference sample costs n_bits under EVERY option —
            # k-split, SE, and uncompressed all emit it verbatim — so
            # it cancels out of the cost comparison)
            if use_uncomp[s, b]:
                # no-compression stores the J PREPROCESSED samples
                # (mapped[0] of a reference block IS the raw reference)
                w.write(uncomp_id, idl)
                w.write_arr(scan_mapped[start : start + j], n_bits)
            elif use_se[s, b]:
                w.write(0, idl)
                w.write(1, 1)  # second-extension
                if ref:
                    w.write(int(scan_mapped[start]), n_bits)
                # emission only happens when the SE cost beat a
                # <= n_bits*j alternative, so the m values fit int64
                se_blk = zeroed[s, b, : j - (j % 2)]
                d0 = se_blk[0::2]
                d1 = se_blk[1::2]
                tt = d0 + d1
                w.write_fs_arr(tt * (tt + 1) // 2 + d1)
            else:
                k = int(best_k[s, b])
                w.write(k + 1, idl)
                if ref:
                    w.write(int(scan_mapped[start]), n_bits)
                w.write_fs_arr(block >> k)
                if k:
                    w.write_arr(block & ((1 << k) - 1), k)
            b += 1
    return w.getvalue()


def rice_decode(
    data: bytes,
    n_samples: int,
    n_bits: int,
    pixels_per_block: int = 16,
    pixels_per_scanline: int = 128,
    nn: bool = True,
) -> np.ndarray:
    """Decode ``n_samples`` unsigned samples from a CCSDS-121/szip
    bitstream.  Returns int64 values in [0, 2^n_bits)."""
    j = pixels_per_block
    idl = _id_len(n_bits)
    uncomp_id = (1 << idl) - 1
    if n_samples % pixels_per_scanline:
        raise ValueError("rice: n_samples must fill whole scanlines")
    if pixels_per_scanline % j:
        raise ValueError(
            "rice: pixels_per_scanline must be a multiple of "
            "pixels_per_block (szip pads partial blocks; this codec "
            "does not guess that rule)"
        )
    r = _VecBitReader(data)
    ppl = pixels_per_scanline
    nscan = n_samples // ppl
    nblocks = ppl // j
    # decode every scanline's MAPPED residuals first, then unmap all
    # scanlines in one row-vectorized pass (optimization r15 — the
    # per-scanline _unmap_nn scalar loop was the decode hot spot)
    M = np.zeros((nscan, ppl), np.int64)
    for s in range(nscan):
        mapped = M[s]
        b = 0
        while b < nblocks:
            ref = nn and b == 0
            start = b * j
            nvals = j - (1 if ref else 0)
            ident = r.read(idl)
            if ident == 0:
                low = r.read(1)
                if ref:
                    mapped[start] = r.read(n_bits)
                if low == 0:  # zero-block run
                    f = r.read_fs()
                    if f <= 3:
                        run = f + 1
                    elif f == 4:  # ROS
                        run = min(((b // 64) + 1) * 64, nblocks) - b
                    else:
                        run = f
                    # mapped already zeros; just advance
                    b += run
                    continue
                # second-extension: pairs aligned to ABSOLUTE block
                # positions — a reference block's pair 0 holds only its
                # second element — so the pair count is ceil(j / 2)
                # regardless of ref; decode all FS values at once,
                # invert m = t(t+1)/2 + d1 vectorized
                if j % 2:
                    # the encoder never emits SE at odd J (pair layout
                    # desyncs — r10 ADVICE); a foreign stream that does
                    # is ambiguous, so fail loudly rather than desync
                    raise ValueError(
                        "rice: second-extension block with odd "
                        "pixels_per_block is not decodable (this "
                        "encoder never emits it)"
                    )
                npairs = (j + 1) // 2
                ms = r.read_fs_many(npairs)
                t = ((np.sqrt(8.0 * ms + 1.0) - 1.0) // 2).astype(
                    np.int64
                )
                # float sqrt can land one off either way; correct
                # exactly in integers (each loop runs <= 2 rounds)
                while True:
                    over = t * (t + 1) // 2 > ms
                    if not over.any():
                        break
                    t[over] -= 1
                while True:
                    under = (t + 1) * (t + 2) // 2 <= ms
                    if not under.any():
                        break
                    t[under] += 1
                d1 = ms - t * (t + 1) // 2
                d0 = t - d1
                seq = np.empty(2 * npairs, np.int64)
                seq[0::2] = d0
                seq[1::2] = d1
                i0 = 1 if ref else 0  # ref occupies pair position 0
                mapped[start + i0 : start + j] = seq[i0:j]
            elif ident == uncomp_id:
                mapped[start : start + j] = r.read_many(j, n_bits)
            else:
                k = ident - 1
                if ref:
                    mapped[start] = r.read(n_bits)
                hi = r.read_fs_many(nvals)
                lo = r.read_many(nvals, k)
                mapped[start + (1 if ref else 0) : start + j] = (
                    hi << k
                ) | lo
            b += 1
    if nn:
        return _unmap_nn_rows(M, n_bits).reshape(-1)
    return M.reshape(-1)
