"""Property-based tests (hypothesis) for the pure-numpy/pure-python
kernels — these run without a SparkSession, so they explore far more
of the input space per second than the golden tests."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from enhydris_autoprocess_spark.storage.gorilla import (
    decode_chunks_batch,
    encode_chunks_multi,
)
from enhydris_autoprocess_spark.timeutil import parse_step, step_ratio

from .gorilla_oracle import decode_chunk, encode_chunk

INT64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@st.composite
def series(draw):
    n = draw(st.integers(min_value=1, max_value=120))
    if draw(st.booleans()):
        # tier-like timestamps: sorted, possibly huge gaps and
        # sub-second jitter
        deltas = draw(
            st.lists(
                st.integers(min_value=1, max_value=1 << 40),
                min_size=n - 1,
                max_size=n - 1,
            )
        )
        t0 = draw(st.integers(min_value=0, max_value=1 << 50))
        ts = np.array([t0, *np.cumsum(deltas) + t0][:n], dtype=np.int64)
    else:
        # any int64s, extremes included: deltas and dods wrap modulo
        # 2^64 on both sides of the codec
        ts = np.array(draw(st.lists(INT64, min_size=n, max_size=n)), dtype=np.int64)
    # values: any float64 bit pattern is legal payload
    raw = draw(
        st.lists(
            st.integers(min_value=0, max_value=(1 << 64) - 1),
            min_size=n,
            max_size=n,
        )
    )
    vals = np.array(raw, dtype=np.uint64).view(np.float64)
    cut = draw(st.integers(min_value=1, max_value=n))
    return ts, vals, cut


@settings(max_examples=60, deadline=None)
@given(series())
def test_gorilla_roundtrip_any_bit_pattern(s):
    """Two segments [0, cut) and [cut, n) of one series: each blob is
    the scalar oracle's, in the one format, and both the batch decoder
    and the oracle decoder return the input bit-exactly."""
    ts, vals, cut = s
    n = len(ts)
    starts, lens = np.array([0, cut]), np.array([cut, n - cut])
    keep = lens > 0
    out = encode_chunks_multi(ts, vals, starts[keep], lens[keep])
    for (start, cnt, blob), lo, ln in zip(out, starts[keep], lens[keep]):
        assert (start, cnt) == (ts[lo], ln)
        assert blob[12:16] == b"\x01\0\0\0"
        assert blob == encode_chunk(ts[lo : lo + cnt], vals[lo : lo + cnt])
        t2, v2 = decode_chunk(blob)
        assert np.array_equal(t2, ts[lo : lo + cnt])
        assert np.array_equal(
            v2.view(np.uint64), vals[lo : lo + cnt].view(np.uint64)
        )
    t2, v2, counts = decode_chunks_batch([blob for _, _, blob in out])
    assert counts.tolist() == lens[keep].tolist()
    assert np.array_equal(t2, ts)
    # compare BIT PATTERNS: NaN payloads must survive exactly
    assert np.array_equal(v2.view(np.uint64), vals.view(np.uint64))


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from(["1min", "5min", "10min", "30min", "H", "2H", "6H", "D"]),
    st.sampled_from(["10min", "30min", "H", "2H", "6H", "D"]),
)
def test_step_ratio_consistency(src, dst):
    a, b = parse_step(src), parse_step(dst)
    if b.seconds % a.seconds == 0:
        assert step_ratio(a, b) == b.seconds // a.seconds
