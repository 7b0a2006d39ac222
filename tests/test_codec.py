"""Codec round-trip exactness (M4) — token-array equality invariant.

Analog of GenTS's compression tests (``gents/tests/test_tscollection.py``:
compression shrinks files, values survive) with the stricter per-row
invariant from BASELINE.json: ``decode(encode(tokens)) == tokens`` exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gents_spark.functions.codec import (
    decode_f64,
    decode_i64,
    encode_f64,
    encode_i64,
    encode_i64_columnar,
)
from gents_spark.functions.codec_udfs import decode_tokens, encode_tokens
from gents_spark.operators.rollup import rollup
from gents_spark.synth import synth_sequences
from gents_spark.timeparse import with_event_time
from tests import codec_reference
from tests.tier_reference import attach_payload

#: int64 values that reach every branch: small token ids, the full
#: range, and both sides of the +/-2^60 raw-fallback bound
_I64 = st.one_of(
    st.integers(min_value=0, max_value=50_000),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.sampled_from([2**60, 2**60 + 1, -(2**60), -(2**60) - 1, 2**60 - 1]),
)


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_i64_roundtrip_property(xs):
    a = np.array(xs, dtype=np.int64)
    assert np.array_equal(decode_i64(encode_i64(a)), a)


def test_extreme_i64_roundtrip_raw_fallback():
    """Near-extreme int64 inputs wrap in np.diff; they must take the raw
    path and round-trip exactly, the kernel agreeing bit-for-bit with the
    one-array reference (round-1 ADVICE)."""
    cases = [
        np.array([2**63 - 1, -(2**63), 2**63 - 1], dtype=np.int64),
        np.array([-(2**63), 2**63 - 1, 0, -(2**63)], dtype=np.int64),
        # wrapped dod aliases to a small zigzag without the guard
        np.array([0, 2**62, -(2**62), 0], dtype=np.int64),
        np.array([2**60 + 1] * 8, dtype=np.int64),
        np.array([2**60] * 8, dtype=np.int64),  # boundary: still packed
    ]
    for a in cases:
        enc = encode_i64(a)
        assert np.array_equal(decode_i64(enc), a)
        assert enc == codec_reference.encode_i64(a)
    data, offsets = encode_i64_columnar(
        np.concatenate(cases), np.cumsum([0] + [len(c) for c in cases])
    )
    for i, a in enumerate(cases):
        assert data[offsets[i] : offsets[i + 1]].tobytes() == codec_reference.encode_i64(a)


@given(
    st.lists(st.one_of(st.none(), st.lists(_I64, max_size=300)), max_size=12),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_columnar_kernel_matches_reference(batch, data):
    """The columnar kernel, through ``encode_tokens``' Arrow path, writes
    each array's bytes exactly as the one-array reference does: ragged
    lengths 0-300, NULL arrays, a sliced ``pa.ListArray`` (offset != 0)
    and the empty batch."""
    arr = pa.array(batch, pa.list_(pa.int64()))
    lo = data.draw(st.integers(min_value=0, max_value=len(batch)))
    hi = data.draw(st.integers(min_value=lo, max_value=len(batch)))
    for part in (arr, arr.slice(lo, hi - lo), arr.slice(0, 0)):
        out = encode_tokens.func(part)
        assert out.type == pa.binary() and len(out) == len(part)
        assert out.to_pylist() == [
            None if a is None else codec_reference.encode_i64(a) for a in part.to_pylist()
        ]


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200
    )
)
@settings(max_examples=200, deadline=None)
def test_f64_roundtrip_property(xs):
    a = np.array(xs, dtype=np.float64)
    out = decode_f64(encode_f64(a))
    assert np.array_equal(out.view(np.uint64), a.view(np.uint64))


def test_regular_series_compresses():
    """DoD of regularly-spaced values is the '0'-bit fast path."""
    a = np.arange(0, 100_000, 60, dtype=np.int64)
    enc = encode_i64(a)
    assert len(enc) < 0.05 * a.nbytes
    assert np.array_equal(decode_i64(enc), a)


def test_edge_cases():
    for a in ([], [5], [5, 5], [0, -1, 1, -(2**62), 2**62 - 1]):
        arr = np.array(a, dtype=np.int64)
        assert np.array_equal(decode_i64(encode_i64(arr)), arr)
    for f in ([], [0.0], [-0.0, 0.0], [np.nan, np.inf, -np.inf, 1e-300]):
        arr = np.array(f, dtype=np.float64)
        out = decode_f64(encode_f64(arr))
        assert np.array_equal(out.view(np.uint64), arr.view(np.uint64))


def test_tokens_roundtrip_in_spark(spark):
    """Per-row invariant on the real input shape, via Arrow-batched UDFs."""
    df = synth_sequences(spark, 2, 200, n_tok_lo=0, n_tok_hi=128)  # incl n_tok=0
    rt = df.withColumn("rt", decode_tokens(encode_tokens("tokens")))
    mismatches = rt.filter(
        ~(
            (F.size("tokens") == F.size("rt"))
            & F.forall(F.zip_with("tokens", "rt", lambda a, b: a == b), lambda x: x)
        )
    ).count()
    assert mismatches == 0


def test_null_token_inside_an_array_is_rejected():
    """A NULL element has no int64 encoding: the batch fails loudly
    instead of writing a made-up value."""
    with pytest.raises(ValueError, match="NULL element"):
        encode_tokens.func(pa.array([[1, 2], [3, None]], pa.list_(pa.int32())))


def test_null_token_arrays_stay_null_in_spark(spark):
    """A NULL ``tokens`` row encodes to a NULL payload and decodes back to
    NULL; the rows around it (an array, an empty array) round-trip."""
    df = spark.createDataFrame(
        [(0, [1, 2, 3]), (1, None), (2, [])], "k int, tokens array<int>"
    )
    rows = (
        df.withColumn("payload", encode_tokens("tokens"))
        .withColumn("rt", decode_tokens("payload"))
        .orderBy("k")
        .collect()
    )
    assert [r["payload"] is None for r in rows] == [False, True, False]
    assert [r["rt"] for r in rows] == [[1, 2, 3], None, []]


def test_attach_payload_roundtrip(spark):
    """Tier payload = encoded finer-tier sum_tok stream; decodes exactly."""
    raw = with_event_time(synth_sequences(spark, 2, 600), step_s=10)
    t1m = rollup(raw, "1m", with_percentiles=False)
    pay = attach_payload(t1m, "1h").collect()
    expected = {
        (r["source"], r["bucket_start"]): r["stream"]
        for r in t1m.groupBy(
            "source", F.date_trunc("hour", "bucket_start").alias("bucket_start")
        )
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("bucket_start", "sum_tok"))),
                lambda s: s["sum_tok"].cast("long"),
            ).alias("stream")
        )
        .collect()
    }
    assert len(pay) == len(expected)
    for r in pay:
        dec = decode_i64(bytes(r["payload"]))
        assert list(dec) == expected[(r["source"], r["bucket_start"])]
        assert r["bucket_end"] > r["bucket_start"]
