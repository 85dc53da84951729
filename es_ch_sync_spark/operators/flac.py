"""FLAC — pure stdlib + numpy lossless audio codec (r16 VERDICT
directive #8: the self-chosen audio sibling of the image codecs).

Everything here derives from the PUBLIC FLAC format specification
(RFC 9639 / xiph.org): MSB-first bit packing, CRC-8 (poly 0x07) frame
headers and CRC-16 (poly 0x8005) frame footers, UTF-8-style coded
frame numbers, rice-coded residuals behind fixed (order 0-4) and LPC
predictors, and the three stereo decorrelation modes.  The control
flow follows the spec's decoding steps, not any library's source.

Decoder (`decode_flac`) supports:
  - "fLaC" marker + metadata walk (STREAMINFO parsed, every other
    block type skipped via its length header);
  - frames with either blocking strategy, all blocksize/sample-rate
    header codes (common table, 8/16-bit explicit, STREAMINFO
    fallback), 8/12/16/20/24/32-bit sample sizes;
  - channel assignments 0-7 (independent) plus left/side, right/side
    and mid/side stereo decorrelation (the side channel carries one
    extra bit per the spec);
  - CONSTANT, VERBATIM, FIXED order 0-4 and LPC subframes of any
    order, wasted-bits shifts, rice/rice2 residual methods with
    partition orders 0-15 and the escape (raw-bits) code;
  - CRC-8 and CRC-16 verification — mismatches raise ValueError.

Encoder (`encode_flac`) emits mono or independent-stereo 16-bit
streams at a fixed blocksize: per block it picks CONSTANT when the
block is flat, else the best FIXED order 0-4 by residual magnitude
(VERBATIM and a broadcast-coefficient LPC path are available as
explicit knobs), single- or multi-partition rice with per-partition
parameter search, and stamps real CRCs + the STREAMINFO MD5 of the
unencoded samples.  Lossless means encode→decode round-trips EXACTLY,
which is what the multimodal_flac_stats oracle checks; the knobs let
tests exercise every decoder path.
"""

from __future__ import annotations

import hashlib
import struct


def _build_crc8_table() -> list[int]:
    table = []
    for b in range(256):
        crc = b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        table.append(crc)
    return table


def _build_crc16_table() -> list[int]:
    table = []
    for b in range(256):
        crc = b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
        table.append(crc)
    return table


_CRC8_TABLE = _build_crc8_table()
_CRC16_TABLE = _build_crc16_table()


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 (FLAC frame header).
    Table-driven byte loop (r16 optimization: the bit-at-a-time loop was
    28% of the whole codec in cProfile — same polynomial arithmetic,
    eight steps folded into one 256-entry lookup per byte)."""
    crc = 0
    t = _CRC8_TABLE
    for b in data:
        crc = t[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 (FLAC frame).
    Table-driven byte loop — see _crc8."""
    crc = 0
    t = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ t[(crc >> 8) ^ b]
    return crc


class _BitWriterMSB:
    """MSB-first bit writer (FLAC bit order)."""

    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, n: int) -> None:
        self._acc = (self._acc << n) | (value & ((1 << n) - 1))
        self._n += n
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def write_signed(self, v: int, n: int) -> None:
        self.write(v & ((1 << n) - 1), n)

    def write_bulk(self, vals, lens) -> None:
        """Vectorized bulk append (r16 optimization, guide §4.2):
        ``vals[i]`` is emitted MSB-first at ``lens[i]`` bits.  Expands
        to a flat bit array in numpy, prepends the writer's pending
        sub-byte bits, packs with np.packbits(bitorder='big') and
        leaves the remainder pending — bit-identical to a write() loop
        (each value's bits land MSB-first in stream order)."""
        import numpy as np

        vals = np.asarray(vals, dtype=np.uint64)
        lens = np.asarray(lens, dtype=np.int64)
        if not len(vals):
            return
        maxb = int(lens.max())
        shifts = lens[:, None] - 1 - np.arange(maxb, dtype=np.int64)[None, :]
        keep = shifts >= 0
        bits = (
            (vals[:, None] >> np.where(keep, shifts, 0).astype(np.uint64)) & 1
        ).astype(np.uint8)
        flat = bits[keep]  # row-major selection preserves stream order
        if self._n:
            pend = np.array(
                [(self._acc >> (self._n - 1 - i)) & 1 for i in range(self._n)],
                np.uint8,
            )
            flat = np.concatenate([pend, flat])
        nbytes = flat.size // 8
        self.buf += np.packbits(flat[: nbytes * 8]).tobytes()
        rem = flat[nbytes * 8 :]
        self._n = int(rem.size)
        acc = 0
        for b in rem.tolist():
            acc = (acc << 1) | int(b)
        self._acc = acc

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.buf)


class _BitReaderMSB:
    """MSB-first bit reader (FLAC bit order)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # byte position of next refill
        self._acc = 0
        self._n = 0
        self._bits = None  # lazy numpy bit view for the vectorized paths
        self._ones = None

    def bit_view(self):
        """(bits, ones): the stream as a flat uint8 0/1 array plus the
        sorted positions of its set bits — built once per reader, shared
        by every vectorized residual read (r16 optimization)."""
        if self._bits is None:
            import numpy as np

            self._bits = np.unpackbits(np.frombuffer(self.data, np.uint8))
            self._ones = np.flatnonzero(self._bits)
        return self._bits, self._ones

    def bitpos(self) -> int:
        """Absolute index of the next unread bit."""
        return self.pos * 8 - self._n

    def seek_bit(self, ab: int) -> None:
        """Position the scalar reader at absolute bit index ``ab``
        (restores the refill-byte/accumulator invariant exactly)."""
        if ab > len(self.data) * 8:
            raise ValueError("truncated FLAC bitstream")
        byte, rem = divmod(ab, 8)
        if rem == 0:
            self.pos, self._n, self._acc = byte, 0, 0
        else:
            self.pos = byte + 1
            self._n = 8 - rem
            self._acc = self.data[byte] & ((1 << self._n) - 1)

    def read(self, n: int) -> int:
        while self._n < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            self._acc = (self._acc << 8) | self.data[self.pos]
            self._n += 8
            self.pos += 1
        self._n -= n
        v = (self._acc >> self._n) & ((1 << n) - 1)
        self._acc &= (1 << self._n) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while not self.read(1):
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway FLAC unary code")
        return q

    def align(self) -> None:
        self._n = 0
        self._acc = 0

    def byte_pos(self) -> int:
        """Position of the next unread byte (only valid when aligned)."""
        return self.pos - (self._n // 8)


def _utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers (up to 36
    bits: the standard UTF-8 prefix scheme extended to 7 bytes)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (nbytes * 5 + 1)) and nbytes < 7:
        nbytes += 1
    lead_bits = 7 - nbytes
    shift = 6 * (nbytes - 1)
    lead = (0xFF << (lead_bits + 1)) & 0xFF | (n >> shift)
    out.append(lead)
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_code(br: _BitReaderMSB) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad FLAC coded number")
    n = b0 & (mask - 1)
    for _ in range(nbytes - 1):  # accumulate 6 bits per continuation
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded number continuation")
        n = (n << 6) | (b & 0x3F)
    return n


# Fixed-predictor coefficient rows (k-th difference, spec §9.2.1):
# residual e = s - sum(coef[j] * s[-1-j]).
_FIXED_COEFS = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))

_BLOCKSIZE = 1024


def _best_rice_param(u) -> int:
    """argmin_p of the exact rice bit cost over p ∈ [0, 14], as one
    vectorized 15×n shift-sum (r16 optimization) — ties break to the
    smallest p exactly like the scalar scan did."""
    import numpy as np

    ps = np.arange(15, dtype=np.int64)
    costs = (u[None, :] >> ps[:, None]).sum(axis=1) + len(u) * (ps + 1)
    return int(np.argmin(costs))


def _write_residuals(bw: _BitWriterMSB, res, order: int, blocksize: int,
                     partition_order: int = 0) -> None:
    """Residual block: method 00 (4-bit rice), the given partition
    order, per-partition parameter search."""
    import numpy as np

    bw.write(0, 2)  # method 00: 4-bit rice parameters
    bw.write(partition_order, 4)
    nparts = 1 << partition_order
    if blocksize % nparts or blocksize // nparts <= order:
        raise ValueError("invalid FLAC partition order for blocksize")
    res = np.asarray(res, dtype=np.int64)
    u_all = (res << 1) ^ (res >> 63)  # zigzag
    start = 0
    for pi in range(nparts):
        n = blocksize // nparts - (order if pi == 0 else 0)
        u = u_all[start : start + n]
        start += n
        p = _best_rice_param(u)
        bw.write(p, 4)
        # One rice value is q zeros, a one, then p suffix bits — as a
        # single MSB-first write that is value (1<<p)|suffix at width
        # q+1+p, so the whole partition bulk-packs in numpy (guide
        # §4.2).  A long unary run decomposes into 32-bit zero chunks
        # ahead of its value entry (same bits write_unary would emit),
        # keeping every entry's width under 64 so the matrix expansion
        # in write_bulk stays valid.
        if not len(u):
            continue
        q = u >> p
        vals = (1 << p) | (u & ((1 << p) - 1))
        lens = (q & 31) + 1 + p
        n_chunks = (q >> 5).astype(np.int64)
        if int(n_chunks.max()):
            total = len(u) + int(n_chunks.sum())
            val_pos = np.arange(len(u)) + np.cumsum(n_chunks)
            out_vals = np.zeros(total, np.int64)
            out_lens = np.full(total, 32, np.int64)
            out_vals[val_pos] = vals
            out_lens[val_pos] = lens
            bw.write_bulk(out_vals, out_lens)
        else:
            bw.write_bulk(vals, lens)


def encode_flac(
    samples,
    sample_rate: int,
    force: str | None = None,
    lpc_coefs=None,
    lpc_shift: int = 0,
    partition_order: int = 0,
) -> bytes:
    """PCM int16 (n,) mono or (n, 2) stereo → FLAC bytes.

    Per block the encoder picks CONSTANT for flat blocks else the best
    FIXED order by residual magnitude; ``force`` pins every block to
    one subframe type ("constant" blocks must be flat, "verbatim",
    "fixed0".."fixed4", or "lpc" with explicit ``lpc_coefs`` +
    ``lpc_shift``); ``partition_order`` > 0 splits residuals into 2^po
    rice partitions — together the knobs reach every decoder path."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int64)
    if a.ndim == 1:
        a = a[:, None]
    n, channels = a.shape
    if not n or channels > 8:
        raise ValueError("bad FLAC channel/sample layout")
    if (a < -(1 << 15)).any() or (a >= (1 << 15)).any():
        raise ValueError("samples out of int16 range")
    bps = 16
    md5 = hashlib.md5(
        a.astype("<i2").tobytes()
    ).digest()
    out = bytearray(b"fLaC")
    info = _BitWriterMSB()
    info.write(_BLOCKSIZE, 16)  # min blocksize
    info.write(_BLOCKSIZE, 16)  # max blocksize
    info.write(0, 24)  # min framesize unknown
    info.write(0, 24)  # max framesize unknown
    info.write(sample_rate, 20)
    info.write(channels - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    body = info.flush() + md5
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body

    frame_idx = 0
    pos = 0
    while pos < n:
        blocksize = min(_BLOCKSIZE, n - pos)
        bw = _BitWriterMSB()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed-blocksize strategy: number = frame index
        bw.write(0b0111, 4)  # blocksize: 16-bit value at header end
        bw.write(0, 4)  # sample rate: from STREAMINFO
        bw.write(channels - 1, 4)  # independent channels
        bw.write(0b100, 3)  # 16-bit samples
        bw.write(0, 1)  # reserved
        header = bw.flush()  # aligned: sync..flags are 4 bytes
        header += _utf8_code(frame_idx)
        header += struct.pack(">H", blocksize - 1)
        header += bytes([_crc8(header)])
        fw = _BitWriterMSB()
        fw.buf += header
        for ch in range(channels):
            s = a[pos : pos + blocksize, ch]
            kind = force
            if kind is None:
                if (s == s[0]).all():
                    kind = "constant"
                else:
                    costs = []
                    for k in range(5):
                        if blocksize <= k:
                            break
                        res = s[k:].copy()
                        for j, c in enumerate(_FIXED_COEFS[k]):
                            res = res - c * s[k - 1 - j : blocksize - 1 - j]
                        costs.append((int(np.abs(res).sum()), k))
                    kind = f"fixed{min(costs)[1]}"
            if kind == "constant":
                if not (s == s[0]).all():
                    raise ValueError("constant subframe needs a flat block")
                fw.write(0, 1)
                fw.write(0, 6)  # CONSTANT
                fw.write(0, 1)  # no wasted bits
                fw.write_signed(int(s[0]), bps)
            elif kind == "verbatim":
                fw.write(0, 1)
                fw.write(1, 6)  # VERBATIM
                fw.write(0, 1)
                fw.write_bulk(s & ((1 << bps) - 1), np.full(len(s), bps))
            elif kind == "lpc":
                coefs = [int(c) for c in (lpc_coefs or ())]
                order = len(coefs)
                if not 1 <= order <= 32:
                    raise ValueError("lpc needs 1..32 coefficients")
                fw.write(0, 1)
                fw.write(0b100000 | (order - 1), 6)
                fw.write(0, 1)
                for v in s[:order].tolist():
                    fw.write_signed(v, bps)
                prec = 15
                fw.write(prec - 1, 4)
                fw.write(lpc_shift, 5)
                for c in coefs:
                    fw.write_signed(c, prec)
                pred = np.zeros(blocksize - order, np.int64)
                for j, c in enumerate(coefs):
                    pred += c * s[order - 1 - j : blocksize - 1 - j]
                res = s[order:] - (pred >> lpc_shift)
                _write_residuals(
                    fw, res, order, blocksize, partition_order
                )
            elif kind and kind.startswith("fixed"):
                order = int(kind[5:])
                if blocksize <= order:
                    order = 0
                fw.write(0, 1)
                fw.write(0b001000 | order, 6)
                fw.write(0, 1)
                for v in s[:order].tolist():
                    fw.write_signed(v, bps)
                res = s[order:].copy()
                for j, c in enumerate(_FIXED_COEFS[order]):
                    res = res - c * s[order - 1 - j : blocksize - 1 - j]
                _write_residuals(
                    fw, res, order, blocksize, partition_order
                )
            else:
                raise ValueError(f"bad FLAC subframe kind {kind!r}")
        fw.align()
        frame = bytes(fw.buf)
        out += frame + struct.pack(">H", _crc16(frame))
        pos += blocksize
        frame_idx += 1
    return bytes(out)


_BLOCKSIZE_CODES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_SAMPLE_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BPS_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _read_subframe(br: _BitReaderMSB, blocksize: int, bps: int):
    """One subframe → numpy int64 samples."""
    import numpy as np

    if br.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):  # wasted-bits flag: count is unary + 1
        wasted = br.read_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        s = np.full(blocksize, br.read_signed(bps), np.int64)
    elif stype == 1:  # VERBATIM
        s = _raw_partition_vec(br, blocksize, bps)
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        s = _read_predicted(
            br, blocksize, bps, order,
            list(_FIXED_COEFS[order]), 0,
        )
    elif stype >= 32:  # LPC, order = low 5 bits + 1
        order = (stype & 31) + 1
        warm = [br.read_signed(bps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision code")
        shift = br.read(5)
        coefs = [br.read_signed(prec) for _ in range(order)]
        s = _read_predicted(
            br, blocksize, bps, order, coefs, shift, warm
        )
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    return s << wasted if wasted else s


def _read_predicted(br, blocksize, bps, order, coefs, shift, warm=None):
    import numpy as np

    if warm is None:
        warm = [br.read_signed(bps) for _ in range(order)]
    if blocksize < order:
        raise ValueError("FLAC block smaller than predictor order")
    res = _read_residuals(br, blocksize, order)
    if list(coefs) == list(_FIXED_COEFS[order]) and shift == 0:
        # FIXED predictor = k-th difference, so the recurrence inverts
        # as k cumulative integrations (r16 optimization, guide §4.2).
        # seeds[j] = d^j s at index order-1, from the warmup's own
        # difference pyramid; each cumsum is exact in int64 (values are
        # true partial reconstructions, bounded by the sample range).
        w = np.asarray(warm, np.int64)
        seeds = []
        d = w.copy()
        for _ in range(order):
            seeds.append(int(d[-1]))
            d = np.diff(d)
        x = np.asarray(res, np.int64)
        for j in range(order - 1, -1, -1):
            x = seeds[j] + np.cumsum(x)
        out = np.empty(blocksize, np.int64)
        out[:order] = w
        out[order:] = x
        return out
    s = np.empty(blocksize, np.int64)
    s[:order] = warm
    sl = s.tolist()  # python-int recurrence (predictor feedback)
    rl = np.asarray(res).tolist()
    for i in range(order, blocksize):
        acc = 0
        for j, c in enumerate(coefs):
            acc += c * sl[i - 1 - j]
        sl[i] = rl[i - order] + (acc >> shift)
    return np.array(sl, np.int64)


def _raw_partition_vec(br: _BitReaderMSB, n: int, raw: int):
    """n raw ``raw``-bit signed values, decoded as one numpy bit-matrix
    gather (r16 optimization, guide §4.2) — bit-exact vs. the scalar
    read_signed loop."""
    import numpy as np

    if n == 0:
        return np.empty(0, np.int64)
    if raw == 0:
        return np.zeros(n, np.int64)
    bits, _ = br.bit_view()
    s0 = br.bitpos()
    end = s0 + n * raw
    if end > bits.size:
        raise ValueError("truncated FLAC bitstream")
    block = bits[s0:end].reshape(n, raw).astype(np.int64)
    v = block @ (np.int64(1) << np.arange(raw - 1, -1, -1, dtype=np.int64))
    v = v - ((v >> (raw - 1)) << raw)  # two's-complement sign extend
    br.seek_bit(end)
    return v


def _rice_partition_vec(br: _BitReaderMSB, n: int, p: int):
    """n rice(p) values decoded vectorized: the unary terminators are
    chased through the stream's set-bit index with a pointer-doubling
    jump table (o_{i+1} = first set bit ≥ o_i + 1 + p), then suffixes
    gather as one bit matrix (r16 optimization, guide §4.2).  Exact
    integer arithmetic — bit-identical to the scalar loop, including
    the truncation/runaway ValueErrors."""
    import numpy as np

    if n == 0:
        return np.empty(0, np.int64)
    bits, ones = br.bit_view()
    m = ones.size
    s0 = br.bitpos()
    # nxt[j] = index of the first set bit at position >= ones[j]+1+p;
    # sentinel index m maps to itself so an exhausted chain is detectable
    nxt = np.append(np.searchsorted(ones, ones + 1 + p), m)
    J = np.array([np.searchsorted(ones, s0)], np.int64)
    P = nxt
    while J.size < n:
        J = np.concatenate([J, P[J]])
        if J.size < n:
            P = P[P]
    J = J[:n]
    if int(J[-1]) >= m:  # chains are monotone: last entry is the max
        raise ValueError("truncated FLAC bitstream")
    o = ones[J]
    s_prev = np.empty(n, np.int64)
    s_prev[0] = s0
    s_prev[1:] = o[:-1] + 1 + p
    q = o - s_prev
    if int(q.max()) > 1 << 24:
        raise ValueError("runaway FLAC unary code")
    if p:
        idx = o[:, None] + 1 + np.arange(p, dtype=np.int64)[None, :]
        if int(idx[-1, -1]) >= bits.size:
            raise ValueError("truncated FLAC bitstream")
        suf = bits[idx].astype(np.int64) @ (
            np.int64(1) << np.arange(p - 1, -1, -1, dtype=np.int64)
        )
        u = (q << p) | suf
    else:
        u = q
    br.seek_bit(int(o[-1]) + 1 + p)
    return (u >> 1) ^ -(u & 1)  # un-zigzag


def _read_residuals(br: _BitReaderMSB, blocksize: int, order: int):
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    nparts = 1 << po
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide blocksize")
    parts = []
    for pi in range(nparts):
        n = blocksize // nparts - (order if pi == 0 else 0)
        if n < 0:
            raise ValueError("FLAC first partition smaller than order")
        p = br.read(pbits)
        if p == escape:
            raw = br.read(5)
            parts.append(_raw_partition_vec(br, n, raw))
        else:
            parts.append(_rice_partition_vec(br, n, p))
    return (
        np.concatenate(parts) if parts else np.empty(0, np.int64)
    )


def decode_flac(blob: bytes):
    """FLAC bytes → (samples int16 (n,) or (n, channels), sample_rate).
    CRC-8/CRC-16 and the STREAMINFO MD5 (when present) are verified;
    malformed streams raise ValueError."""
    import numpy as np

    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(blob):
            raise ValueError("truncated FLAC metadata")
        last = blob[pos] & 0x80
        btype = blob[pos] & 0x7F
        blen = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        body = blob[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if blen < 34:
                raise ValueError("short FLAC STREAMINFO")
            br = _BitReaderMSB(body)
            br.read(16)  # min blocksize
            br.read(16)
            br.read(24)
            br.read(24)
            rate = br.read(20)
            channels = br.read(3) + 1
            bps = br.read(5) + 1
            total = br.read(36)
            info = {
                "rate": rate, "channels": channels, "bps": bps,
                "total": total, "md5": body[18:34],
            }
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type")
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    chans_out = []
    while pos < len(blob):
        br = _BitReaderMSB(blob, pos)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError("bad FLAC frame sync")
        if br.read(1):
            raise ValueError("bad FLAC frame reserved bit")
        br.read(1)  # blocking strategy (number decoded either way)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        if br.read(1):
            raise ValueError("bad FLAC frame reserved bit")
        _read_utf8_code(br)  # frame/sample number
        if bs_code == 0:
            raise ValueError("reserved FLAC blocksize code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_CODES[bs_code]
        if sr_code == 0:
            rate = info["rate"]
        elif sr_code in _SAMPLE_RATE_CODES:
            rate = _SAMPLE_RATE_CODES[sr_code]
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        else:
            raise ValueError("invalid FLAC sample rate code")
        if bps_code == 0:
            bps = info["bps"]
        elif bps_code in _BPS_CODES:
            bps = _BPS_CODES[bps_code]
        else:
            raise ValueError("reserved FLAC sample size code")
        hdr_end = br.byte_pos()
        if _crc8(blob[pos:hdr_end]) != br.read(8):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if ch_code < 8:
            nch = ch_code + 1
            subs = [
                _read_subframe(br, blocksize, bps) for _ in range(nch)
            ]
        elif ch_code in (8, 9, 10):
            # stereo decorrelation: the SIDE channel carries bps+1 bits
            if ch_code == 8:  # left/side
                left = _read_subframe(br, blocksize, bps)
                side = _read_subframe(br, blocksize, bps + 1)
                subs = [left, left - side]
            elif ch_code == 9:  # right/side
                side = _read_subframe(br, blocksize, bps + 1)
                right = _read_subframe(br, blocksize, bps)
                subs = [right + side, right]
            else:  # mid/side: mid = (L+R)>>1, side = L-R; L+R and side
                # share parity, so the dropped bit is side's low bit
                mid = _read_subframe(br, blocksize, bps)
                side = _read_subframe(br, blocksize, bps + 1)
                left = (((mid << 1) | (side & 1)) + side) >> 1
                subs = [left, left - side]
            nch = 2
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        br.align()
        body_end = br.byte_pos()
        crc = br.read(16)
        if _crc16(blob[pos:body_end]) != crc:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = br.byte_pos()
        chans_out.append(np.stack(subs, axis=1))
    if not chans_out:
        raise ValueError("FLAC stream without frames")
    all_s = np.concatenate(chans_out, axis=0)
    if info["total"] and len(all_s) > info["total"]:
        all_s = all_s[: info["total"]]
    if info["bps"] == 16:
        flat = all_s.astype("<i2")
        if info["md5"] != bytes(16) and hashlib.md5(
            flat.tobytes()
        ).digest() != info["md5"]:
            raise ValueError("FLAC MD5 mismatch")
    out = all_s.astype(np.int32)
    if out.shape[1] == 1:
        out = out[:, 0]
    return out, (info["rate"] if info["rate"] else rate)
