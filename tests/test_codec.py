"""Round-trip and compression-ratio tests for the Gorilla codecs."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dtaianomaly_spark.kernels import codec


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
    @given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
    def test_round_trip_property(self, values):
        v = np.asarray(values, dtype=np.int64)
        assert np.array_equal(codec.dod_decode(codec.dod_encode(v)), v)


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
