"""Gorilla-style compression kernels (Pelkonen et al., VLDB 2015):
delta-of-delta for integer streams, the compressed tier's store path
(rollup/compress.py), and XOR for float streams, which is off that path;
its callers are tests/test_codec.py and perfbench's codec probe.

Encoding maps each value to one or two (code, bit-length) pairs, and
``_pack_words`` packs the pairs MSB-first: each code lands in at most two
big-endian 64-bit words, merged with ``bitwise_or.reduceat``.
``dod_encode_blocks`` encodes every block of one int64 column in one
segmented NumPy pass: ``np.diff`` twice over the whole column, each row's
bucket code chosen by one search over the bucket tops, one pad per block,
and one pack of all blocks into one ``pa.BinaryArray``.
``dod_decode_blocks`` is its inverse over a whole column: it finds the
bit length of the code at every bit position of the column at once,
walks the code starts of all blocks together, one NumPy step per value
index, reads every code's delta-of-delta in one pass, and rebuilds the
values with two segmented int64 cumsums, which wrap at 64 bits as the
encoder's ``np.diff`` does, so every int64 stream round-trips, full-range
jumps included. ``dod_encode``/``dod_decode`` are its one-block calls
behind a u32 count. ``xor_encode`` decides window reuse in a per-value
Python control loop, then builds its codes with NumPy; ``xor_decode``
walks its codes in Python, reading one bit at a time.

Wire formats
------------
delta-of-delta block body (one ``*_enc`` blob of the compressed store;
the row's ``n_points`` gives its count):
  per value the Gorilla bucket code of a delta-of-delta D, where D is v0
  for the first value, delta0 = v1 - v0 for the second (both as
  delta-of-deltas from an implicit (value, delta) = (0, 0) start), and
  delta_t - delta_{t-1} for every later one, all wrapping at 64 bits:
    '0'                 D == 0
    '10'  + 7  bits     D in [-63, 64]       (stored D + 63)
    '110' + 9  bits     D in [-255, 256]     (stored D + 255)
    '1110'+ 12 bits     D in [-2047, 2048]   (stored D + 2047)
    '1111'+ 6 bits w-1  otherwise: then the w bits of zigzag(D), where
                        w (12 .. 64) is zigzag(D)'s bit length
  then one bits up to the next byte boundary. A decoder that reads past
  the last code into the pad finds no complete code there, so a count one
  too high fails as surely as one too low.
  The body has no version byte. Blobs of the earlier layout (a u32
  count, v0 and delta0 as 64 raw bits each, a 64-bit escape, a zero pad)
  are unreadable; no store of them is kept, so none is migrated.

delta-of-delta stream (``dod_encode``, ``dod_decode``):
  [u32 n] then one block body.

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
# '110', '1110', and the '1111' escape, whose 6-bit width field is
# or-ed into its code and whose zigzag(D) goes in a second pair. Per
# class: the prefix shifted over its payload, the code length, and the
# payload's bias and mask.
_DOD_TOPS = np.array([1, 2, 128, 512, 4096], dtype=np.uint64)
_DOD_HEAD = np.array([0b10 << 7, 0, 0b10 << 7, 0b110 << 9, 0b1110 << 12, 0b1111 << 6],
                     dtype=np.uint64)
_DOD_LEN = np.array([9, 1, 9, 12, 16, 10], dtype=np.int64)
_DOD_BIAS = np.array([63, 0, 63, 255, 2047, 0], dtype=np.int64)
_DOD_MASK = np.array([127, 0, 127, 511, 4095, 0], dtype=np.int64)
_DOD_ESCAPE = 5
# the bit length of z is the number of powers of two <= z
_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)
# the class of a code by its first 4 bits, and a code's length by its
# first 10 bits: an escape's are '1111' and its width - 1
_DOD_CLASS = np.array([1] * 8 + [2] * 4 + [3] * 2 + [4, 5], dtype=np.int64)
_TOP10 = np.arange(1024)
_DOD_CODE_LEN = (_DOD_LEN[_DOD_CLASS[_TOP10 >> 6]]
                 + (_TOP10 >= 0b1111 << 6) * ((_TOP10 & 63) + 1)).astype(np.uint8)


def _zigzag(x: np.ndarray) -> np.ndarray:
    return (x.view(np.uint64) << np.uint64(1)) ^ (x >> 63).view(np.uint64)


def dod_encode_blocks(values: np.ndarray, heads: np.ndarray):
    """Delta-of-delta encode every block of one int64 column in one pass.

    Block ``b`` is ``values[heads[b]:heads[b + 1]]`` (the last one runs
    to the end); ``heads`` is non-decreasing and starts at 0 when there
    are values. Returns one block body per block as a
    ``pa.BinaryArray``, each byte-identical to a separate encode of that
    block.
    """
    import pyarrow as pa

    v = np.asarray(values, dtype=np.int64)
    heads = np.asarray(heads, dtype=np.int64)
    n = np.concatenate([heads[1:], [v.shape[0]]]) - heads  # values per block
    # whole-column differences wrap at 64 bits; a row's delta-of-delta
    # reads only rows of its own block from its third row on, and a
    # block's first two rows code v0 and delta0 themselves
    delta = np.diff(v, prepend=0)
    dod = np.diff(delta, prepend=0)
    first, second = heads[n > 0], heads[n > 1] + 1
    dod[first], dod[second] = v[first], delta[second]
    k = np.searchsorted(_DOD_TOPS, _zigzag(dod - 1), side="right")
    esc = k == _DOD_ESCAPE
    zigzag = _zigzag(dod) * esc
    width = np.searchsorted(_POW2, zigzag, side="right")  # 0 off the escapes
    # per row two (code, length) pairs; only an escape uses the second
    code = np.empty((v.shape[0], 2), dtype=np.uint64)
    ln = np.empty((v.shape[0], 2), dtype=np.int64)
    code[:, 0] = (_DOD_HEAD[k] | ((dod + _DOD_BIAS[k]) & _DOD_MASK[k]).view(np.uint64)
                  | (width - esc).astype(np.uint64))
    code[:, 1] = zigzag
    ln[:, 0] = _DOD_LEN[k]
    ln[:, 1] = width

    # a block is its rows' pairs, then one bits up to a byte boundary as
    # one more code
    row_ends = np.concatenate([[0], np.cumsum(ln[:, 0] + ln[:, 1])])
    bits = row_ends[heads + n] - row_ends[heads]
    pad = -bits % 8
    pad_slot = 2 * (heads + n) + np.arange(heads.shape[0])
    row_slot = np.ones(2 * v.shape[0] + heads.shape[0], dtype=bool)
    row_slot[pad_slot] = False
    codes = np.empty(row_slot.shape[0], dtype=np.uint64)
    lens = np.empty(row_slot.shape[0], dtype=np.int64)
    codes[pad_slot], codes[row_slot] = (1 << pad) - 1, code.ravel()
    lens[pad_slot], lens[row_slot] = pad, ln.ravel()

    offsets = np.zeros(heads.shape[0] + 1, dtype=np.int32)
    np.cumsum((bits + pad) // 8, out=offsets[1:])
    return pa.BinaryArray.from_buffers(
        pa.binary(), heads.shape[0],
        [None, pa.py_buffer(offsets), pa.py_buffer(_pack_words(codes, lens))])


class BlockError(ValueError):
    """A blob that does not hold exactly its count of codes and then a
    pad of fewer than 8 one bits; ``block`` is its index in the column."""

    def __init__(self, block: int, reason: str):
        super().__init__(f"blob {block} {reason}")
        self.block, self.reason = block, reason


def _peek64(data: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """The 64 bits of ``data`` from each bit position ``pos``, as uint64
    (``data`` must hold 9 bytes from each ``pos // 8``)."""
    q = pos >> 3
    word = np.ascontiguousarray(data[q[:, None] + np.arange(8)]).view(">u8")[:, 0]
    r = (pos & 7).astype(np.uint64)
    return (word.astype(np.uint64) << r) | ((data[q + 8].astype(np.uint64) << r) >> np.uint64(8))


def dod_decode_blocks(blobs, n_points) -> np.ndarray:
    """Inverse of :func:`dod_encode_blocks`: the values of every block of
    one column, concatenated in block order.

    ``blobs`` is a ``pa.BinaryArray`` (or a list of bytes) of block
    bodies and ``n_points`` their value counts. Raises
    :class:`BlockError` naming the first blob that does not hold exactly
    ``n_points`` codes and then a pad of fewer than 8 one bits.
    """
    import pyarrow as pa

    if not isinstance(blobs, pa.Array):
        blobs = pa.array(blobs, pa.binary())
    n = np.asarray(n_points, dtype=np.int64)
    if n.shape[0] != len(blobs):
        raise ValueError(f"{len(blobs)} blobs but {n.shape[0]} counts")
    off_type = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    _, off_buf, data_buf = blobs.buffers()
    off = np.frombuffer(off_buf, dtype=off_type)[blobs.offset:][: len(blobs) + 1]
    base, off = int(off[0]), off.astype(np.int64) - off[0]
    # every code is at least one bit, so a blob of b bytes holds at most
    # 8 b codes: walk no further than that
    m = np.clip(n, 0, 8 * np.diff(off))
    n_max = int(m.max(initial=0))
    # bytes past the data are zero, so a bad block's walk stays inside
    # them: a code read from the data ends at most 74 bits past it, and
    # each read past it is a 1-bit '0'
    data = np.zeros(int(off[-1]) + (74 + n_max) // 8 + 12, dtype=np.uint8)
    data[: off[-1]] = np.frombuffer(data_buf, np.uint8, int(off[-1]), base) if off[-1] else 0
    window = (data[:-2].astype(np.int32) << 16) | (data[1:-1].astype(np.int32) << 8) | data[2:]
    code_len = np.empty(8 * window.shape[0], dtype=np.uint8)
    for r in range(8):
        code_len[r::8] = _DOD_CODE_LEN.take((window >> (14 - r)) & 0x3FF)

    # walk every block's code starts, longest blocks first, so the blocks
    # still holding a value index are a prefix of the walk order
    order = np.argsort(-m, kind="stable")
    active = np.searchsorted(-m[order], -np.arange(n_max), side="left")
    pos, starts = 8 * off[:-1][order], []
    for k in active.tolist():
        pos = pos[:k]
        starts.append(pos)
        pos = pos + code_len[pos]
    # step-major code starts to block order
    out_off = np.concatenate([[0], np.cumsum(m)])
    step = np.repeat(np.arange(n_max), active)
    rank = np.arange(step.shape[0]) - np.repeat(np.cumsum(active) - active, active)
    # one spare slot, so a block with no codes reads a last code start
    at = np.zeros(step.shape[0] + 1, dtype=np.int64)
    at[out_off[order][rank] + step] = np.concatenate(starts) if starts else []

    last = at[out_off[1:] - 1]
    end = np.where(m > 0, last + code_len[last], 8 * off[:-1])
    rest = 8 * off[1:] - end
    pad_mask = (1 << np.clip(rest, 0, 7)) - 1
    pad_ok = (data[np.maximum(off[1:] - 1, 0)] & pad_mask) == pad_mask
    bad = np.flatnonzero((m != n) | (rest < 0) | (rest >= 8) | ~pad_ok)
    if bad.size:
        i = int(bad[0])
        if n[i] < 0:
            reason = f"has n_points={n[i]} < 0"
        elif n[i] > m[i] or rest[i] < 0:
            reason = f"holds fewer than n_points={n[i]} codes: they run past its end"
        else:
            reason = (f"holds more than n_points={n[i]} codes: {rest[i]} bits follow them, "
                      "not a pad of fewer than 8 one bits")
        raise BlockError(i, reason)

    # every code's delta-of-delta from its first 16 bits; escapes read on
    at = at[:-1]
    top16 = (window[at >> 3] >> (8 - (at & 7))) & 0xFFFF
    k = _DOD_CLASS[top16 >> 12]
    dod = ((top16 >> (16 - _DOD_LEN[k])) & _DOD_MASK[k]) - _DOD_BIAS[k]
    esc = np.flatnonzero(k == _DOD_ESCAPE)
    if esc.size:
        width = ((top16[esc] >> 6) & 63) + 1
        zigzag = _peek64(data, at[esc] + 10) >> (64 - width).astype(np.uint64)
        dod[esc] = (zigzag >> np.uint64(1)).view(np.int64) ^ -(zigzag & np.uint64(1)).view(np.int64)

    # a block's first row is v0 and the rest integrate to its deltas
    heads = out_off[:-1][n > 0]
    delta = dod.copy()
    delta[heads] = 0
    delta = _segment_cumsum(delta, out_off)
    delta[heads] = dod[heads]
    return _segment_cumsum(delta, out_off)


def _segment_cumsum(x: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Cumulative sums of ``x`` restarting at every ``off`` (int64, wrapping)."""
    c = np.cumsum(x)
    return c - np.repeat(np.concatenate([[0], c])[off[:-1]], np.diff(off))


def dod_encode(values: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 stream: its u32 count, then its
    block body from :func:`dod_encode_blocks`."""
    v = np.asarray(values, dtype=np.int64)
    return np.uint32(v.shape[0]).tobytes() + dod_encode_blocks(v, [0])[0].as_py()


def _read_count(data: bytes) -> int:
    """The u32 value count that starts a stream."""
    if len(data) < 4:
        raise ValueError(
            f"blob of {len(data)} bytes is shorter than its 4-byte header")
    return int(np.frombuffer(data[:4], dtype=np.uint32)[0])


def dod_decode(data: bytes) -> np.ndarray:
    """Inverse of :func:`dod_encode`."""
    return dod_decode_blocks([data[4:]], [_read_count(data)])


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
    n, r = _read_count(data), _BitReader(data[4:])
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
