"""Gorilla-style compression kernels (Pelkonen et al., VLDB 2015):
delta-of-delta for integer streams, the compressed tier's store path
(rollup/compress.py), and XOR for float streams, which is off that path;
its callers are tests/test_codec.py and perfbench's codec probe.

Encoding maps each value to one or two (code, bit-length) pairs, and
``_pack_words`` packs the pairs MSB-first: each code lands in at most two
big-endian 64-bit words, merged with ``bitwise_or.reduceat``.
``dod_encode_blocks`` encodes every block of one int64 column in one
segmented NumPy pass: ``np.diff`` twice over the whole column, each row's
code chosen by its position in its block (v0, delta0, or its
delta-of-delta bucket), zero bits padding each block to a byte boundary,
and one pack of all blocks into one ``pa.BinaryArray``.
``dod_encode`` is its one-block call. ``xor_encode`` decides window
reuse in a per-value Python control loop, then builds its codes with
NumPy. Both decoders walk the prefix codes in Python, reading one bit at
a time; a blob shorter than the 4-byte header, or a read past the end of
the stream, raises ``ValueError``. ``dod_decode`` rebuilds the values
with two int64 ``np.cumsum`` passes, which wrap at 64 bits as the
encoder's ``np.diff`` does, so every int64 stream round-trips,
full-range jumps included.

Wire formats
------------
delta-of-delta (``dod_encode``, ``dod_encode_blocks``):
  [u32 n] then bitstream: v0 as 64 raw bits; delta0 as 64 raw bits;
  then per value the Gorilla bucket code of D = delta_t - delta_{t-1}:
    '0'                 D == 0
    '10'  + 7  bits     D in [-63, 64]       (stored D + 63)
    '110' + 9  bits     D in [-255, 256]     (stored D + 255)
    '1110'+ 12 bits     D in [-2047, 2048]   (stored D + 2047)
    '1111'+ 64 bits     otherwise            (stored as two's complement)
  and zero bits up to the next byte boundary.

float XOR (``xor_encode``):
  [u32 n] then bitstream: v0 as 64 raw bits; then per value with
  x = bits(v) ^ bits(prev):
    '0'                          x == 0
    '10' + meaningful bits       leading/trailing window of prev reused
    '11' + 5b lead + 6b len-1 + meaningful bits   new window
"""

from __future__ import annotations

import numpy as np


def _pack_words(codes: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Pack (code, bit_length<=64) pairs MSB-first into a uint8 array.

    Each code must fit in its bit length (a zero-length code is 0). A
    code lands in at most two 64-bit words: the word holding its first
    bit, and the next one when it runs over the word edge. The first
    parts are OR-merged per word with ``bitwise_or.reduceat`` over the
    sorted word indices; only the last code starting in a word can run
    over into the next. The words are written big-endian.
    """
    codes = np.asarray(codes, dtype=np.uint64)
    ends = np.cumsum(lens, dtype=np.int64)
    if not ends.shape[0]:
        return np.zeros(0, dtype=np.uint8)
    total = int(ends[-1])
    words = np.zeros(total // 64 + 2, dtype=np.uint64)
    word = (ends - lens) >> 6
    end_bit = ends - (word << 6)  # in 0 .. 127
    head = (codes >> np.maximum(end_bit - 64, 0).astype(np.uint64)) << np.maximum(
        64 - end_bit, 0).astype(np.uint64)
    # codes at these positions start a word's run; the one before each
    # ends the previous run
    next_word = np.flatnonzero(word[1:] != word[:-1]) + 1
    runs = np.concatenate([[0], next_word])
    words[word[runs]] = np.bitwise_or.reduceat(head, runs)
    last = np.concatenate([next_word, [word.shape[0]]]) - 1
    last = last[end_bit[last] > 64]
    words[word[last] + 1] |= codes[last] << (128 - end_bit[last]).astype(np.uint64)
    return words.astype(">u8").view(np.uint8)[: -(-total // 8)]


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


# Delta-of-delta code classes, found by searching _DOD_TOPS for the
# zigzag code of D - 1. That map sends the bucket [-63, 64] onto
# [0, 128), [-255, 256] onto [0, 512), [-2047, 2048] onto [0, 4096), and
# D == 0 alone onto 1, so the classes are '10' (zigzag 0), '0', '10',
# '110', '1110', and the '1111' escape, whose 64 bits go in a second
# pair. Per class: the prefix shifted over its payload, the code length,
# and the payload's bias and mask.
_DOD_TOPS = np.array([1, 2, 128, 512, 4096], dtype=np.uint64)
_DOD_HEAD = np.array([0b10 << 7, 0, 0b10 << 7, 0b110 << 9, 0b1110 << 12, 0b1111],
                     dtype=np.uint64)
_DOD_LEN = np.array([9, 1, 9, 12, 16, 4], dtype=np.int64)
_DOD_BIAS = np.array([63, 0, 63, 255, 2047, 0], dtype=np.int64)
_DOD_MASK = np.array([127, 0, 127, 511, 4095, 0], dtype=np.uint64)
_DOD_ESCAPE = 5


def dod_encode_blocks(values: np.ndarray, heads: np.ndarray):
    """Delta-of-delta encode every block of one int64 column in one pass.

    Block ``b`` is ``values[heads[b]:heads[b + 1]]`` (the last one runs
    to the end); ``heads`` is non-decreasing and starts at 0 when there
    are values. Returns one blob per block as a ``pa.BinaryArray``, each
    byte-identical to a separate encode of that block.
    """
    import pyarrow as pa

    v = np.asarray(values, dtype=np.int64)
    heads = np.asarray(heads, dtype=np.int64)
    n = np.concatenate([heads[1:], [v.shape[0]]]) - heads  # values per block
    # whole-column differences wrap at 64 bits; a row's delta-of-delta
    # reads only rows of its own block from its third row on
    delta = v - np.concatenate([v[:1], v[:-1]])
    dod = delta - np.concatenate([delta[:1], delta[:-1]])
    e = dod - 1
    zigzag = (e.view(np.uint64) << np.uint64(1)) ^ (e >> 63).view(np.uint64)
    k = np.searchsorted(_DOD_TOPS, zigzag, side="right")
    esc = k == _DOD_ESCAPE
    # per row two (code, length) pairs; only an escape uses the second
    code = np.empty((v.shape[0], 2), dtype=np.uint64)
    ln = np.empty((v.shape[0], 2), dtype=np.int64)
    code[:, 0] = _DOD_HEAD[k] | ((dod + _DOD_BIAS[k]).view(np.uint64) & _DOD_MASK[k])
    code[:, 1] = dod.view(np.uint64) * esc
    ln[:, 0] = _DOD_LEN[k]
    ln[:, 1] = esc * 64
    # a block's first two rows hold v0 and delta0 as 64 raw bits
    first, second = heads[n > 0], heads[n > 1] + 1
    seed = np.concatenate([first, second])
    code[seed, 0] = np.concatenate([v[first], delta[second]]).view(np.uint64)
    code[seed, 1] = 0
    ln[seed] = (64, 0)

    # a block is its u32 little-endian count as one 32-bit code, its
    # rows' pairs, then zero bits up to a byte boundary; the pad is
    # carried as leading zeros of the next block's count code
    row_ends = np.concatenate([[0], np.cumsum(ln[:, 0] + ln[:, 1])])
    bits = 32 + row_ends[heads + n] - row_ends[heads]
    pad = -bits % 8
    head_code = n.astype(np.uint32).byteswap().astype(np.uint64)
    head_len = 32 + np.concatenate([[0], pad])[:-1]
    head_slot = 2 * heads + np.arange(heads.shape[0])
    row_slot = np.ones(2 * v.shape[0] + heads.shape[0], dtype=bool)
    row_slot[head_slot] = False
    codes = np.empty(row_slot.shape[0], dtype=np.uint64)
    lens = np.empty(row_slot.shape[0], dtype=np.int64)
    codes[head_slot], codes[row_slot] = head_code, code.ravel()
    lens[head_slot], lens[row_slot] = head_len, ln.ravel()

    offsets = np.zeros(heads.shape[0] + 1, dtype=np.int32)
    np.cumsum((bits + pad) // 8, out=offsets[1:])
    return pa.BinaryArray.from_buffers(
        pa.binary(), heads.shape[0],
        [None, pa.py_buffer(offsets), pa.py_buffer(_pack_words(codes, lens))])


def dod_encode(values: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 stream: one block of
    :func:`dod_encode_blocks`."""
    return dod_encode_blocks(values, [0])[0].as_py()


def _read_header(data: bytes) -> tuple[int, _BitReader]:
    """The value count of a blob and a reader over its bit stream."""
    if len(data) < 4:
        raise ValueError(
            f"blob of {len(data)} bytes is shorter than its 4-byte header")
    return int(np.frombuffer(data[:4], dtype=np.uint32)[0]), _BitReader(data[4:])


_U64 = (1 << 64) - 1


def dod_decode(data: bytes) -> np.ndarray:
    n, r = _read_header(data)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # v0, delta0, then each delta-of-delta, as 64-bit two's complement
    parts = [r.read(64)]
    if n >= 2:
        parts.append(r.read(64))
    for _ in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            dod = r.read(64)
        parts.append(dod & _U64)
    out = np.array(parts, dtype=np.uint64).view(np.int64)
    out[1:] = np.cumsum(out[1:])  # deltas
    return np.cumsum(out)


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
        return header + _pack_words([bits[0]], [64]).tobytes()

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
    return header + _pack_words(codes, lens).tobytes()


def xor_decode(data: bytes) -> np.ndarray:
    n, r = _read_header(data)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
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
