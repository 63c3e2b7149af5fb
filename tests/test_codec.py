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


def _wrap(x: int) -> int:
    """A Python int wrapped into int64."""
    return (x + 2**63) % 2**64 - 2**63


def _unzigzag(z: int) -> int:
    return z >> 1 if z % 2 == 0 else -(z >> 1) - 1


def _escape_zigzags(width: int) -> tuple[int, int]:
    """The least and greatest zigzag(D) of ``width`` bits outside every
    bucket: 4095 (D = -2048) is the one of 12 bits, and 4096 (D = 2048)
    is in the 12-bit bucket."""
    return (4095 if width == 12 else max(2 ** (width - 1), 4097)), 2**width - 1


def naive_dod_body(values) -> bytes:
    """The block body of one int64 stream, built one bit at a time from
    Python ints: the independent twin of ``codec.dod_encode_blocks``."""
    v = [int(x) for x in values]
    # v0 and delta0 from an implicit (0, 0) start, then delta-of-deltas
    dods = v[:1] + [_wrap(b - a) for a, b in zip(v, v[1:2])]
    dods += [_wrap((c - b) - (b - a)) for a, b, c in zip(v, v[1:], v[2:])]
    bits = ""
    for d in dods:
        if d == 0:
            bits += "0"
        elif -63 <= d <= 64:
            bits += "10" + f"{d + 63:07b}"
        elif -255 <= d <= 256:
            bits += "110" + f"{d + 255:09b}"
        elif -2047 <= d <= 2048:
            bits += "1110" + f"{d + 2047:012b}"
        else:
            z = 2 * d if d >= 0 else -2 * d - 1
            bits += "1111" + f"{z.bit_length() - 1:06b}" + f"{z:b}"
    bits += "1" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big") if bits else b""


def naive_dod_encode(values) -> bytes:
    """The one-stream framing of ``naive_dod_body``: its u32 count first."""
    return np.uint32(len(values)).tobytes() + naive_dod_body(values)


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
            [-2**63],  # 64-bit escapes as v0
            [2**63 - 1, -2**63],
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
        # header 4B, v0 = 0 as '0', delta0 = 60 000 as a 27-bit escape,
        # then one '0' per point
        assert len(enc) == 4 + -(-(1 + 27 + 58) // 8)

    @pytest.mark.parametrize("width", range(12, 65))
    def test_escape_of_every_width(self, width):
        """An escape codes zigzag(D) in exactly its bit length, 12 .. 64."""
        for d in map(_unzigzag, _escape_zigzags(width)):
            v = np.asarray(_from_dods(d), dtype=np.int64)
            enc = codec.dod_encode(v)
            assert len(enc) == 4 + -(-(2 + 10 + width) // 8)
            assert enc == naive_dod_encode(v)
            assert np.array_equal(codec.dod_decode(enc), v)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(INT64, max_size=200))
    def test_round_trip_property(self, values):
        v = np.asarray(values, dtype=np.int64)
        assert np.array_equal(codec.dod_decode(codec.dod_encode(v)), v)


# escapes of every width: zigzag(D) of 12 .. 64 bits outside the buckets
ESCAPES = st.integers(12, 64).flatmap(
    lambda w: st.integers(*_escape_zigzags(w))).map(_unzigzag)
DODS = (st.integers(-2100, 2100) | ESCAPES | st.sampled_from([-(2**63), 2**63 - 1])
        | INT64)


@st.composite
def block_layouts(draw):
    """One int64 column and its block heads: one block or many, with
    empty, 1- and 2-value blocks; values full-range or integrated, block
    by block, from drawn delta-of-deltas (v0 and delta0 included) around
    the bucket edges, escapes of every width and +-2**63."""
    lens = draw(st.lists(st.one_of(st.integers(0, 2), st.integers(1, 40)),
                         min_size=1, max_size=12))
    n = sum(lens)
    if draw(st.booleans()):
        values = np.array(draw(st.lists(INT64, min_size=n, max_size=n)), dtype=np.int64)
    else:
        dods = np.array(draw(st.lists(DODS, min_size=n, max_size=n)), dtype=np.int64)
        bounds = np.cumsum([0] + lens)
        values = np.concatenate([np.zeros(0, dtype=np.int64)] + [
            np.cumsum(np.concatenate([d[:1], np.cumsum(d[1:])]))  # wraps
            for d in (dods[s:e] for s, e in zip(bounds[:-1], bounds[1:]))])
    return values, np.cumsum([0] + lens[:-1])


@settings(max_examples=200, deadline=None)
@given(block_layouts())
def test_dod_encode_blocks_matches_per_block_twin(layout):
    """Every blob of the one-pass segmented encode equals the per-block
    twin's body of that block: no delta leaks across a block edge."""
    values, heads = layout
    got = codec.dod_encode_blocks(values, heads).to_pylist()
    bounds = np.append(heads, values.shape[0])
    assert got == [naive_dod_body(values[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
    assert codec.dod_encode(values) == naive_dod_encode(values)


@settings(max_examples=200, deadline=None)
@given(block_layouts())
def test_dod_decode_blocks_round_trip(layout):
    """One whole-column decode returns every block's values, from an
    Arrow array, a slice of it, or a list of bytes."""
    values, heads = layout
    n = np.diff(np.append(heads, values.shape[0]))
    blobs = codec.dod_encode_blocks(values, heads)
    assert np.array_equal(codec.dod_decode_blocks(blobs, n), values)
    assert np.array_equal(codec.dod_decode_blocks(blobs.to_pylist(), n), values)
    if heads.shape[0] > 1:
        got = codec.dod_decode_blocks(blobs.slice(1), n[1:])
        assert np.array_equal(got, values[heads[1]:])


@settings(max_examples=200, deadline=None)
@given(block_layouts(), st.data())
def test_dod_decode_blocks_rejects_a_count_off_by_one(layout, data):
    """A count one too high or one too low fails on that block: the
    one-bit pad holds no complete code, and every code is a 0 bit or
    8 bits or longer."""
    values, heads = layout
    n = np.diff(np.append(heads, values.shape[0]))
    blobs = codec.dod_encode_blocks(values, heads)
    b = data.draw(st.integers(0, n.shape[0] - 1))
    n[b] += data.draw(st.sampled_from([-1, 1]))
    with pytest.raises(codec.BlockError) as err:
        codec.dod_decode_blocks(blobs, n)
    assert err.value.block == b


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
