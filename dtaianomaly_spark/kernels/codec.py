"""Gorilla-style compression kernels (Pelkonen et al., VLDB 2015):
delta-of-delta for integer streams, the compressed tier's store path
(rollup/compress.py), and XOR for float streams, which is off that path;
its callers are tests/test_codec.py and perfbench's codec probe.

Encoding maps each value to one or two (code, bit-length) pairs; the
pairs are exploded to a flat bit vector with repeat/arange arithmetic and
packed with ``np.packbits``. ``dod_encode`` computes its codes with NumPy
only. ``xor_encode`` decides window reuse in a per-value Python control
loop, then builds its codes with NumPy. Both decoders walk the prefix
codes in Python, reading one bit at a time; a read past the end of the
stream raises ``ValueError``.

Wire formats
------------
delta-of-delta (``dod_encode``):
  [u32 n] then bitstream: v0 as 64 raw bits; delta0 as 64 raw bits;
  then per value the Gorilla bucket code of D = delta_t - delta_{t-1}:
    '0'                 D == 0
    '10'  + 7  bits     D in [-63, 64]       (stored D + 63)
    '110' + 9  bits     D in [-255, 256]     (stored D + 255)
    '1110'+ 12 bits     D in [-2047, 2048]   (stored D + 2047)
    '1111'+ 64 bits     otherwise            (stored as two's complement)

float XOR (``xor_encode``):
  [u32 n] then bitstream: v0 as 64 raw bits; then per value with
  x = bits(v) ^ bits(prev):
    '0'                          x == 0
    '10' + meaningful bits       leading/trailing window of prev reused
    '11' + 5b lead + 6b len-1 + meaningful bits   new window
"""

from __future__ import annotations

import numpy as np


def _pack_bits(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """Pack (code, bit_length<=64) pairs MSB-first into bytes."""
    codes = np.asarray(codes, dtype=np.uint64)
    lens = np.asarray(lens, dtype=np.int64)
    keep = lens > 0
    codes, lens = codes[keep], lens[keep]
    total = int(lens.sum())
    if total == 0:
        return b""
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    elem = np.repeat(np.arange(lens.shape[0]), lens)
    intra = np.arange(total) - np.repeat(starts, lens)
    shift = (np.repeat(lens, lens) - 1 - intra).astype(np.uint64)
    bits = ((codes[elem] >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        out = 0
        b = self.bits
        p = self.pos
        if p + n > b.shape[0]:
            raise ValueError(f"read of {n} bits at {p} runs past the bit stream end")
        for i in range(n):
            out = (out << 1) | int(b[p + i])
        self.pos = p + n
        return out


_DOD_BUCKETS = (  # (max_abs_lo, max_hi, prefix, prefix_len, payload_bits, bias)
    (-63, 64, 0b10, 2, 7, 63),
    (-255, 256, 0b110, 3, 9, 255),
    (-2047, 2048, 0b1110, 4, 12, 2047),
)


def dod_encode(values: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 stream."""
    v = np.asarray(values, dtype=np.int64)
    n = v.shape[0]
    header = np.uint32(n).tobytes()
    if n == 0:
        return header
    codes = [np.array([v[0]], dtype=np.uint64)]
    lens = [np.array([64], dtype=np.int64)]
    if n >= 2:
        deltas = np.diff(v)
        codes.append(np.array([deltas[0]], dtype=np.int64).astype(np.uint64))
        lens.append(np.array([64], dtype=np.int64))
        if n >= 3:
            d = np.diff(deltas)
            c = np.empty(d.shape[0], dtype=np.uint64)
            ln = np.empty(d.shape[0], dtype=np.int64)
            done = d == 0
            c[done] = 0
            ln[done] = 1
            for lo, hi, prefix, plen, bits, bias in _DOD_BUCKETS:
                sel = (~done) & (d >= lo) & (d <= hi)
                c[sel] = (np.uint64(prefix) << np.uint64(bits)) | (
                    (d[sel] + bias).astype(np.uint64)
                )
                ln[sel] = plen + bits
                done |= sel
            rest = ~done
            # '1111' + 64-bit two's complement; emitted as two pairs
            if rest.any():
                ln[rest] = 0  # placeholder, real pairs appended below
            codes.append(c)
            lens.append(ln)
            if rest.any():
                # interleave: rebuild with two-column layout to keep order
                c2 = np.zeros((d.shape[0], 2), dtype=np.uint64)
                l2 = np.zeros((d.shape[0], 2), dtype=np.int64)
                c2[:, 0], l2[:, 0] = c, ln
                c2[rest, 0] = 0b1111
                l2[rest, 0] = 4
                c2[rest, 1] = d[rest].astype(np.uint64)
                l2[rest, 1] = 64
                codes[-1] = c2.ravel()
                lens[-1] = l2.ravel()
    return header + _pack_bits(np.concatenate(codes), np.concatenate(lens))


def dod_decode(data: bytes) -> np.ndarray:
    n = int(np.frombuffer(data[:4], dtype=np.uint32)[0])
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    r = _BitReader(data[4:])
    out[0] = np.uint64(r.read(64)).astype(np.int64)
    if n == 1:
        return out
    delta = int(np.uint64(r.read(64)).astype(np.int64))
    out[1] = out[0] + delta
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            dod = int(np.uint64(r.read(64)).astype(np.int64))
        delta += dod
        out[i] = out[i - 1] + delta
    return out


def _clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 (vectorized; 64 for x == 0)."""
    out = np.full(x.shape, 64, dtype=np.int64)
    nz = x != 0
    # bit_length via float log2 is unsafe near 2^53; use progressive shifts
    v = x[nz].copy()
    n = np.zeros(v.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        mask = v >> np.uint64(shift) == 0
        n[mask] += shift
        v[~mask] >>= np.uint64(shift)
    out[nz] = n
    return out


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Count trailing zeros of uint64 (64 for x == 0)."""
    lsb = x & (~x + np.uint64(1))
    return np.where(x == 0, 64, 63 - _clz64(lsb))


def xor_encode(values: np.ndarray) -> bytes:
    """Gorilla XOR-encode a float64 stream."""
    v = np.asarray(values, dtype=np.float64)
    n = v.shape[0]
    header = np.uint32(n).tobytes()
    if n == 0:
        return header
    bits = v.view(np.uint64)
    if n == 1:
        return header + _pack_bits([bits[0]], [64])

    x = bits[1:] ^ bits[:-1]
    lead = np.minimum(_clz64(x), 31)  # 5-bit field
    trail = _ctz64(x)
    mlen = np.maximum(64 - lead - trail, 1)

    # control decision vs the *previous emitted* window — sequential state,
    # but computable with a vectorized scan: a value reuses the previous
    # window iff its bits fit in it. We approximate Gorilla's stateful reuse
    # with a per-value window reset whenever the fit fails; the running
    # window is carried by a forward pass over segment boundaries.
    lead_w = np.empty_like(lead)
    mlen_w = np.empty_like(mlen)
    reuse = np.zeros(x.shape[0], dtype=bool)
    cur_lead, cur_mlen = -1, -1
    for i in range(x.shape[0]):  # O(n) control pass, cheap scalar ops
        if x[i] == 0:
            lead_w[i], mlen_w[i] = 0, 0  # unused; keep masked arrays safe
            reuse[i] = True
            continue
        li, ti = int(lead[i]), int(trail[i])
        if cur_lead != -1 and li >= cur_lead and ti >= 64 - cur_lead - cur_mlen:
            lead_w[i], mlen_w[i] = cur_lead, cur_mlen
            reuse[i] = True
        else:
            cur_lead, cur_mlen = li, int(mlen[i])
            lead_w[i], mlen_w[i] = cur_lead, cur_mlen
            reuse[i] = False

    zero = x == 0
    shift = (64 - lead_w - mlen_w).astype(np.uint64)
    meaningful = np.where(zero, np.uint64(0), x >> np.where(zero, np.uint64(0), shift))
    meaningful &= (np.uint64(1) << mlen_w.astype(np.uint64)) - np.uint64(1)

    c2 = np.zeros((x.shape[0], 2), dtype=np.uint64)
    l2 = np.zeros((x.shape[0], 2), dtype=np.int64)
    # zero: single '0' bit
    c2[zero, 0] = 0
    l2[zero, 0] = 1
    # reuse (nonzero): '10' + meaningful bits
    ru = reuse & ~zero
    c2[ru, 0] = 0b10
    l2[ru, 0] = 2
    c2[ru, 1] = meaningful[ru]
    l2[ru, 1] = mlen_w[ru]
    # new window: '11' + 5b lead + 6b (mlen-1) + meaningful
    nw = ~reuse & ~zero
    c2[nw, 0] = (
        (np.uint64(0b11) << np.uint64(11))
        | (lead_w[nw].astype(np.uint64) << np.uint64(6))
        | (mlen_w[nw] - 1).astype(np.uint64)
    )
    l2[nw, 0] = 13
    c2[nw, 1] = meaningful[nw]
    l2[nw, 1] = mlen_w[nw]

    codes = np.concatenate([[bits[0]], c2.ravel()])
    lens = np.concatenate([[64], l2.ravel()])
    return header + _pack_bits(codes, lens)


def xor_decode(data: bytes) -> np.ndarray:
    n = int(np.frombuffer(data[:4], dtype=np.uint32)[0])
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    r = _BitReader(data[4:])
    out[0] = np.uint64(r.read(64))
    lead, mlen = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = out[i - 1]
            continue
        if r.read(1) == 1:
            lead = r.read(5)
            mlen = r.read(6) + 1
        meaningful = r.read(mlen)
        x = np.uint64(meaningful) << np.uint64(64 - lead - mlen)
        out[i] = out[i - 1] ^ x
    return out.view(np.float64)


# --------------------------------------------- Swing-filter PLA (lossy)

def swing_encode(values: np.ndarray, eps: float) -> np.ndarray:
    """Swing filter piecewise-linear approximation (Elmeleegy et al.,
    VLDB 2009, "Online piece-wise linear approximation of numerical
    streams with precision guarantees"): greedily extend CONNECTED
    segments while a slope corridor from the segment origin can still
    pass within ``eps`` of every point; when point ``i`` falls outside
    the corridor, close the segment at ``i - 1`` (end value = corridor
    midpoint there) and restart from that point. The lossy companion
    to the exact Gorilla codecs: O(1) state per open segment, one
    sequential pass — the same shape the streaming twins keep.

    Returns segments as an (m, 4) float64 array of rows
    ``(t_start, t_end, y_start, y_end)`` with integer tick positions;
    reconstruction (:func:`swing_decode`) linearly interpolates each
    segment, and ``|recon - x| <= eps`` everywhere BY CONSTRUCTION
    (the returned slope is inside the final corridor). Segment ends
    are shared: segment k+1 starts at segment k's (t_end, y_end) tick
    (the connected-PLA contract), so m segments cost ~m+1 knots."""
    x = np.asarray(values, dtype=np.float64)
    n = x.shape[0]
    if eps < 0 or not np.isfinite(eps):
        raise ValueError(f"eps must be finite and >= 0, got {eps}")
    if n == 0:
        return np.empty((0, 4))
    if n == 1:
        return np.array([[0.0, 0.0, x[0], x[0]]])
    segs = []
    t0, y0 = 0, x[0]
    lo, hi = -np.inf, np.inf  # feasible slope corridor from (t0, y0)
    last_mid = x[0]
    for i in range(1, n):
        dt = i - t0
        s_lo = (x[i] - eps - y0) / dt
        s_hi = (x[i] + eps - y0) / dt
        if max(lo, s_lo) <= min(hi, s_hi):
            lo, hi = max(lo, s_lo), min(hi, s_hi)
            last_mid = y0 + 0.5 * (lo + hi) * dt
        else:
            # close at i-1 with the midpoint slope, restart from there
            y_end = y0 + 0.5 * (lo + hi) * (i - 1 - t0)
            segs.append((float(t0), float(i - 1), y0, y_end))
            t0, y0 = i - 1, y_end
            s_lo = (x[i] - eps - y0) / (i - t0)
            s_hi = (x[i] + eps - y0) / (i - t0)
            if s_lo > s_hi:  # pragma: no cover — eps >= 0 makes this
                s_lo = s_hi  # unreachable from a fresh origin
            lo, hi = s_lo, s_hi
            last_mid = y0 + 0.5 * (lo + hi) * (i - t0)
    segs.append((float(t0), float(n - 1), y0, last_mid))
    return np.asarray(segs, dtype=np.float64)


def swing_decode(segs: np.ndarray, n: int) -> np.ndarray:
    """Reconstruct the length-``n`` series from :func:`swing_encode`
    segments by per-segment linear interpolation (the shared knot makes
    boundaries unambiguous: each segment owns [t_start, t_end))."""
    segs = np.asarray(segs, dtype=np.float64)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    for t0, t1, v0, v1 in segs:
        t0i, t1i = int(t0), int(t1)
        if t1i > t0i:
            t = np.arange(t0i, t1i + 1, dtype=np.float64)
            out[t0i:t1i + 1] = v0 + (v1 - v0) * (t - t0) / (t1 - t0)
        else:
            out[t0i] = v1
    return out
