"""Arrow-batched Spark surface for the Gorilla/DoD codec.

GenTS's execution model for custom work is "one Python process per file
batch" (``gents/timeseries.py:879-891``); ours is one vectorized call
per Arrow batch or per group, never per row or per array (input_hint
mandate).  Both encoders hand ``codec.encode_i64_columnar`` a flat value
buffer and offsets and wrap its byte buffer and offsets as a
``pa.BinaryArray``:

- ``encode_tokens``: an Arrow UDF, ``array<int>`` -> binary, reading the
  batch's ``pa.ListArray`` buffers directly (NULL arrays stay NULL);
  ``decode_tokens`` is its per-row inverse;
- ``encode_payloads``: the tier pipeline's one grouped Arrow pass, which
  gives every tier row of one (source, chunk) its ``payload``
  (``TierPipeline._with_payloads``).  The per-tier composition it
  replaces lives in ``tests/tier_reference.py`` as the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
)

from gents_spark.functions.codec import decode_i64, encode_i64_columnar


def _binary(values, offsets, valid=None) -> pa.Array:
    """The encodings of ``values`` split at ``offsets`` as one
    ``pa.BinaryArray`` over the kernel's buffers (no per-row copy)."""
    data, out = encode_i64_columnar(values, offsets)
    if out[-1] > np.iinfo(np.int32).max:
        raise OverflowError("encoded batch exceeds the 2 GiB of one binary array")
    return pa.Array.from_buffers(
        pa.binary(),
        len(out) - 1,
        [valid, pa.py_buffer(out.astype(np.int32)), pa.py_buffer(data)],
    )


@arrow_udf(BinaryType())
def encode_tokens(tokens: pa.Array) -> pa.Array:
    """array<int> -> DoD-compressed binary, one kernel call per batch."""
    if pc.list_flatten(tokens).null_count:
        raise ValueError("encode_tokens: a token array holds a NULL element")
    values = tokens.values.to_numpy(zero_copy_only=False)
    valid = tokens.is_valid().buffers()[1] if tokens.null_count else None
    return _binary(values, tokens.offsets.to_numpy(), valid)


@pandas_udf(ArrayType(IntegerType()))
def decode_tokens(payload: pd.Series) -> pd.Series:
    return payload.map(lambda b: decode_i64(b).astype("int32"), na_action="ignore")


def _int64(col) -> np.ndarray:
    return pc.cast(col, pa.int64()).to_numpy()


def encode_payloads(rows, raw=None, *, tiers):
    """One (source, chunk) group's tier rows (a ``pyarrow.Table``) plus
    their ``payload``.  No type hints: Spark reads a grouped Arrow
    function's kind from them, and cannot read them off the
    ``functools.partial`` that binds ``tiers``.

    A payload is the DoD encoding of the values that feed the row's
    bucket, in time order: each non-filled finer tier row feeds the
    bucket ``_pb`` of tier ``tiers[_pt]`` with its ``sum_tok`` (``_pt``
    is NULL on every other row), and each ``raw`` row (``payloads='all'``)
    feeds the finest tier's bucket ``_pb`` with its ``n_tok``.  Feeding
    values are lexsorted by (tier, bucket, time) — raw ties on
    ``event_time`` by ``n_tok``, as ``sort_array(struct(ts, v))`` orders
    them — split into streams and encoded by ONE ``encode_i64_columnar``
    call; each tier's streams then meet its rows through one
    ``searchsorted`` on ``bucket_start``.  A row no stream feeds (a
    filled row, the finest tier under ``payloads='coarse'``) keeps a
    NULL payload.  Returns ``rows`` without ``_pt``/``_pb``.
    """
    feed = rows.select(["_pt", "_pb", "bucket_start", "sum_tok"])
    feed = feed.filter(pc.is_valid(feed["_pt"]))
    code = [_int64(feed["_pt"])]
    bucket = [_int64(feed["_pb"])]
    when = [_int64(feed["bucket_start"])]
    tie = [np.zeros(feed.num_rows, np.int64)]
    value = [_int64(feed["sum_tok"])]
    if raw is not None:
        code.append(np.zeros(raw.num_rows, np.int64))
        bucket.append(_int64(raw["_pb"]))
        when.append(_int64(raw["event_time"]))
        tie.append(_int64(raw["n_tok"]))
        value.append(tie[-1])
    code, bucket, when, tie, value = (
        np.concatenate(a) for a in (code, bucket, when, tie, value)
    )
    stream = np.full(rows.num_rows, -1)
    encoded = pa.array([], pa.binary())
    if len(code):
        order = np.lexsort((tie, when, bucket, code))
        code, bucket, value = code[order], bucket[order], value[order]
        (starts,) = np.nonzero(
            np.r_[True, (code[1:] != code[:-1]) | (bucket[1:] != bucket[:-1])]
        )
        encoded = _binary(value, np.r_[starts, len(value)])
        code, bucket = code[starts], bucket[starts]
        row_code = _int64(pc.index_in(rows["tier"], value_set=pa.array(tiers)))
        row_bucket = _int64(rows["bucket_start"])
        for k in np.unique(code):
            # tier k's streams, sorted by bucket, meet tier k's rows
            (streams,) = np.nonzero(code == k)
            (at,) = np.nonzero(row_code == k)
            keys = bucket[streams]
            pos = np.searchsorted(keys, row_bucket[at])
            pos = np.minimum(pos, len(keys) - 1)
            hit = keys[pos] == row_bucket[at]
            stream[at[hit]] = streams[pos[hit]]
    return rows.drop_columns(["_pt", "_pb"]).append_column(
        "payload", encoded.take(pa.array(stream, mask=stream < 0))
    )
