"""Round-trip, compression-ratio and byte-identity tests for the
Gorilla codecs."""

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dtaianomaly_spark.kernels import codec

INT64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def naive_pack_bits(codes, lens) -> bytes:
    """Pack (code, bit_length<=64) pairs MSB-first into bytes, one array
    element per bit: the independent twin of the codec's word packer."""
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


_NAIVE_BUCKETS = (  # (lo, hi, prefix, prefix_len, payload_bits, bias)
    (-63, 64, 0b10, 2, 7, 63),
    (-255, 256, 0b110, 3, 9, 255),
    (-2047, 2048, 0b1110, 4, 12, 2047),
)


def naive_dod_encode(values) -> bytes:
    """Delta-of-delta encode one block on its own: the independent twin
    of ``codec.dod_encode_blocks``, one stream per call."""
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
            c2 = np.zeros((d.shape[0], 2), dtype=np.uint64)
            l2 = np.zeros((d.shape[0], 2), dtype=np.int64)
            done = d == 0
            l2[done, 0] = 1
            for lo, hi, prefix, plen, bits, bias in _NAIVE_BUCKETS:
                sel = (~done) & (d >= lo) & (d <= hi)
                c2[sel, 0] = (np.uint64(prefix) << np.uint64(bits)) | (
                    (d[sel] + bias).astype(np.uint64)
                )
                l2[sel, 0] = plen + bits
                done |= sel
            # '1111' + 64-bit two's complement, as two pairs
            c2[~done, 0], l2[~done, 0] = 0b1111, 4
            c2[~done, 1], l2[~done, 1] = d[~done].astype(np.uint64), 64
            codes.append(c2.ravel())
            lens.append(l2.ravel())
    return header + naive_pack_bits(np.concatenate(codes), np.concatenate(lens))


def _from_dods(*dods):
    """An int64 stream with v0 = delta0 = 0 and the given delta-of-deltas."""
    return np.cumsum(np.cumsum([0, 0, *dods])).tolist()


class TestDeltaOfDelta:
    @pytest.mark.parametrize(
        "values",
        [
            [],
            [42],
            [1, 2],
            [5, 5, 5, 5, 5],
            [0, 10, 20, 30, 40],  # constant delta -> all '0' bits
            [0, 10, 21, 33, 46],
            [-1000, 0, 1000, -500000, 7],
            list(range(0, 10000, 60)),
            [0, 2**63 - 1, 0],  # deltas wrap at 64 bits
            [-2**63, 0, 2**63 - 1],
            # a delta-of-delta on each bucket edge, then one past it
            pytest.param(_from_dods(-63, 64), id="dod_edge_7bit"),
            pytest.param(_from_dods(-64, 65), id="dod_past_7bit"),
            pytest.param(_from_dods(-255, 256), id="dod_edge_9bit"),
            pytest.param(_from_dods(-256, 257), id="dod_past_9bit"),
            pytest.param(_from_dods(-2047, 2048), id="dod_edge_12bit"),
            pytest.param(_from_dods(-2048, 2049), id="dod_past_12bit"),
        ],
    )
    def test_round_trip(self, values):
        v = np.asarray(values, dtype=np.int64)
        assert np.array_equal(codec.dod_decode(codec.dod_encode(v)), v)

    def test_regular_timestamps_compress_well(self):
        ts = np.arange(0, 3600_000, 60_000, dtype=np.int64)  # 60 points
        enc = codec.dod_encode(ts)
        # header 4B + two 64-bit seeds + ~1 bit per point
        assert len(enc) <= 4 + 16 + (ts.shape[0] // 8) + 2

    @settings(max_examples=100, deadline=None)
    @given(st.lists(INT64, max_size=200))
    def test_round_trip_property(self, values):
        v = np.asarray(values, dtype=np.int64)
        assert np.array_equal(codec.dod_decode(codec.dod_encode(v)), v)


@st.composite
def block_layouts(draw):
    """One int64 column and its block heads: one block or many, with
    empty, 1- and 2-value blocks; values full-range or integrated from
    delta-of-deltas around the bucket edges."""
    lens = draw(st.lists(st.one_of(st.integers(0, 2), st.integers(1, 40)),
                         min_size=1, max_size=12))
    n = sum(lens)
    if draw(st.booleans()):
        values = np.array(draw(st.lists(INT64, min_size=n, max_size=n)), dtype=np.int64)
    else:
        dods = draw(st.lists(st.integers(-2100, 2100) | INT64, min_size=n, max_size=n))
        values = np.cumsum(np.cumsum(np.array(dods, dtype=np.int64)))  # wraps
    return values, np.cumsum([0] + lens[:-1])


@settings(max_examples=200, deadline=None)
@given(block_layouts())
def test_dod_encode_blocks_matches_per_block_twin(layout):
    """Every blob of the one-pass segmented encode equals the per-block
    twin's blob of that block: no delta leaks across a block edge."""
    values, heads = layout
    got = codec.dod_encode_blocks(values, heads).to_pylist()
    bounds = np.append(heads, values.shape[0])
    assert got == [naive_dod_encode(values[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
    assert codec.dod_encode(values) == naive_dod_encode(values)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(width=64) | st.sampled_from([0.0, 1.5, -2.25]), max_size=200))
def test_xor_encode_matches_bit_packer_twin(values):
    """xor_encode packs with the shared word packer; swapping in the
    per-bit twin packer gives the same bytes."""
    v = np.asarray(values, dtype=np.float64)
    got = codec.xor_encode(v)
    twin = lambda c, ln: np.frombuffer(naive_pack_bits(c, ln), dtype=np.uint8)  # noqa: E731
    with mock.patch.object(codec, "_pack_words", twin):
        assert got == codec.xor_encode(v)


class TestXor:
    @pytest.mark.parametrize(
        "values",
        [
            [],
            [1.5],
            [1.5, 1.5, 1.5],
            [0.0, -0.0, 1.0, -1.0],
            [3.14159, 3.14160, 3.14161],
            list(np.linspace(0, 1, 100)),
        ],
    )
    def test_round_trip(self, values):
        v = np.asarray(values, dtype=np.float64)
        dec = codec.xor_decode(codec.xor_encode(v))
        assert np.array_equal(dec.view(np.uint64), v.view(np.uint64))

    def test_constant_stream_compresses_to_one_bit_per_point(self):
        v = np.full(1000, 123.456)
        enc = codec.xor_encode(v)
        assert len(enc) <= 4 + 8 + 1000 // 8 + 2

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=64), max_size=200
        )
    )
    def test_round_trip_property(self, values):
        v = np.asarray(values, dtype=np.float64)
        dec = codec.xor_decode(codec.xor_encode(v))
        assert np.array_equal(dec.view(np.uint64), v.view(np.uint64))

    def test_nan_payloads_survive(self):
        v = np.array([1.0, np.nan, 2.0, np.nan])
        dec = codec.xor_decode(codec.xor_encode(v))
        assert np.array_equal(dec.view(np.uint64), v.view(np.uint64))


@pytest.mark.parametrize("decode", [codec.dod_decode, codec.xor_decode],
                         ids=["dod", "xor"])
def test_decoders_reject_blob_shorter_than_header(decode):
    for blob in (b"", b"\x01\x00\x00"):
        with pytest.raises(ValueError, match="4-byte header"):
            decode(blob)
