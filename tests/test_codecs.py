"""Round-trip property tests for the Gorilla / delta-of-delta codecs.

Reference analog: the engine stores tier points as compressed blobs
(BASELINE.json north rule); encode∘decode must be the identity at the
bit level, including NaN/±0/inf payloads (SURVEY.md §7.4.5)."""

from __future__ import annotations

import numpy as np
import pytest
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ts_process_spark.functions.codecs import (
    decode_dod,
    decode_gorilla,
    encode_arrow,
    encode_dod,
    encode_gorilla,
)


def _roundtrip_f64(v: np.ndarray) -> None:
    dec = decode_gorilla(encode_gorilla(v))
    assert v.view(np.uint64).tolist() == dec.view(np.uint64).tolist()


def test_gorilla_empty_and_single():
    _roundtrip_f64(np.array([], dtype=np.float64))
    _roundtrip_f64(np.array([3.14159]))


def test_gorilla_specials():
    v = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1.0, 1.0, -1.0, 5e-324])
    _roundtrip_f64(v)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200
    )
)
def test_gorilla_property(vals):
    _roundtrip_f64(np.array(vals, dtype=np.float64))


def test_gorilla_window_reuse_code_is_rejected():
    """No encoder writes the '10' (window reuse) code, so a blob that
    holds one is corrupt or foreign: decoding it raises, naming the
    code.  Hand-built: n=2, the first value, then '10'."""
    import struct

    blob = struct.pack("<I", 2) + struct.pack(">d", 1.0) + bytes([0b10000000])
    with pytest.raises(ValueError, match="'10'"):
        decode_gorilla(blob)


def test_gorilla_compresses_repeats():
    v = np.repeat(np.round(np.sin(np.arange(200) * 0.01) * 100, 1), 5)
    assert len(encode_gorilla(v)) < 0.35 * 8 * len(v)


def test_dod_empty_single_pair():
    for ts in ([], [1_700_000_000_000_000], [1, 2]):
        a = np.array(ts, dtype=np.int64)
        assert np.array_equal(decode_dod(encode_dod(a)), a)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=200
    )
)
def test_dod_property(gaps):
    ts = np.cumsum(np.array([1_700_000_000_000_000] + gaps, dtype=np.int64))
    assert np.array_equal(decode_dod(encode_dod(ts)), ts)


def test_dod_regular_cadence_tiny():
    ts = (1_700_000_000_000_000 + np.arange(5000) * 60_000_000).astype(np.int64)
    enc = encode_dod(ts)
    assert np.array_equal(decode_dod(enc), ts)
    assert len(enc) < 0.05 * 8 * len(ts)  # near-constant cadence ≈ 1 bit/point


def test_chunked_container_roundtrip():
    from ts_process_spark.functions.codecs import concat_blobs

    rng = np.random.default_rng(4)
    ts_parts = []
    v_parts = []
    t_blobs, v_blobs = [], []
    for n in (0, 1, 5, 40):
        ts = (1_700_000_000_000_000 + np.cumsum(
            rng.integers(1, 1e8, size=n))).astype(np.int64)
        v = rng.normal(0, 1, n)
        ts_parts.append(ts)
        v_parts.append(v)
        t_blobs.append(encode_dod(ts))
        v_blobs.append(encode_gorilla(v))
    cont_t = concat_blobs(t_blobs)
    cont_v = concat_blobs(v_blobs)
    assert np.array_equal(decode_dod(cont_t), np.concatenate(ts_parts))
    assert decode_gorilla(cont_v).view(np.uint64).tolist() == np.concatenate(
        v_parts
    ).view(np.uint64).tolist()
    # nested containers flatten (1d blob = container of 1m chunks)
    nested = concat_blobs([cont_t, t_blobs[2], cont_t])
    expect = np.concatenate([np.concatenate(ts_parts), ts_parts[2],
                             np.concatenate(ts_parts)])
    assert np.array_equal(decode_dod(nested), expect)


def test_bmp_roundtrip_property():
    """Property: decode(encode(img)) == img for arbitrary shapes —
    especially widths whose 3-byte rows need 1–3 pad bytes."""
    from hypothesis import given, settings, strategies as st
    import numpy as np

    from ts_process_spark.operators import multimodal

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        seed=st.integers(0, 2**31 - 1),
        flip=st.booleans(),
    )
    def prop(h, w, seed, flip):
        img = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, 3), dtype=np.uint8
        )
        buf = multimodal.encode_bmp(img)
        assert np.array_equal(multimodal.decode_bmp(buf), img)
        if flip:  # top-down rows: negative height in the info header
            import struct

            neg = buf[:22] + struct.pack("<i", -h) + buf[26:]
            assert np.array_equal(multimodal.decode_bmp(neg), img[::-1])

    prop()


def test_wav_roundtrip_property():
    from hypothesis import given, settings, strategies as st
    import numpy as np

    from ts_process_spark.operators import multimodal

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(0, 400),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(n, rate, seed):
        pcm = np.random.default_rng(seed).integers(
            -32768, 32768, size=n, dtype=np.int16
        )
        r, got = multimodal.decode_wav(multimodal.encode_wav(pcm, rate))
        assert r == rate and np.array_equal(got, pcm)

    prop()


_BOUND = st.integers(0, 12)  # slice bounds: non-zero array offsets
_I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_F64 = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.sampled_from([float("nan"), float("inf"), float("-inf"), -0.0, 0.0]),
)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.lists(_I64, max_size=8), max_size=12), _BOUND, _BOUND)
@example([[], [7], [-(2**63), 2**63 - 1, 0, -(2**63)], []], 1, 4)
def test_encode_arrow_dod_matches_per_array(lists, start, stop):
    """The Arrow encoder core (offsets + flatten in, one binary buffer
    out) gives each list exactly encode_dod's bytes — empty and
    single-point lists, slices with a non-zero offset, int64 extremes."""
    arr = pa.array(lists, type=pa.list_(pa.int64()))[start:stop]
    got = encode_arrow(arr, "dod")
    assert got.type == pa.binary() and len(got) == len(arr)
    want = [encode_dod(np.array(x, dtype=np.int64)) for x in arr.to_pylist()]
    assert got.to_pylist() == want


@settings(max_examples=80, deadline=None)
@given(st.lists(st.lists(_F64, max_size=8), max_size=12), _BOUND, _BOUND)
@example([[], [float("nan")], [-0.0, 0.0, float("inf"), float("-inf")], []], 1, 4)
def test_encode_arrow_gorilla_matches_per_array(lists, start, stop):
    """Same as the dod property for encode_gorilla's fast path,
    including NaN, ±inf and −0.0."""
    arr = pa.array(lists, type=pa.list_(pa.float64()))[start:stop]
    got = encode_arrow(arr, "gorilla")
    assert got.type == pa.binary() and len(got) == len(arr)
    want = [encode_gorilla(np.array(x, dtype=np.float64)) for x in arr.to_pylist()]
    assert got.to_pylist() == want
