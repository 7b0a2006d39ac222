"""Arrow-batched Spark surface for the Gorilla/DoD codec.

GenTS's execution model for custom work is "one Python process per file
batch" (``gents/timeseries.py:879-891``); ours is "one vectorized pandas
call per Arrow batch / per group" — never per row (input_hint mandate).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
)

from gents_spark.functions.codec import decode_i64
from gents_spark.operators.rollup import (
    bucket_col,
    bucket_end_col,
    per_tier,
    tier_list,
)


@pandas_udf(BinaryType())
def encode_tokens(tokens: pd.Series) -> pd.Series:
    """array<int> -> DoD-compressed binary.  Whole-batch vectorized:
    one NumPy pass encodes every array in the Arrow batch."""
    from gents_spark.functions.codec import encode_i64_batch

    return pd.Series(encode_i64_batch(list(tokens)), index=tokens.index)


@pandas_udf(ArrayType(IntegerType()))
def decode_tokens(payload: pd.Series) -> pd.Series:
    return payload.map(lambda b: decode_i64(b).astype("int32"))


@pandas_udf(BinaryType())
def encode_i64_stream(values: pd.Series) -> pd.Series:
    """array<long> -> DoD binary (whole-batch vectorized)."""
    from gents_spark.functions.codec import encode_i64_batch

    return pd.Series(encode_i64_batch(list(values)), index=values.index)


def attach_payload(
    finer: DataFrame,
    coarser_tier: str | list[str],
    value_col: str = "sum_tok",
    ts_col: str = "bucket_start",
    gchunk_col: str | None = None,
) -> DataFrame:
    """Per (source, coarser bucket): encode the ordered finer value
    stream as a DoD payload — the tier row's ``payload`` column
    (SURVEY.md §1.3 tier model).

    ``finer`` is either a finer tier table (ts_col='bucket_start',
    value_col='sum_tok') or the raw rows (ts_col='event_time',
    value_col='n_tok') for the finest tier's payload.

    ``coarser_tier`` is one tier label, or a list of them: then each
    ``finer`` row's ``tier`` column names the coarser tier it feeds, its
    parent bucket is a CASE over that column, and the output keeps
    ``tier`` — one aggregate and one encode for every coarse tier.

    The sort + encode happen inside one JVM aggregation + one pandas UDF
    call: ``sort_array(collect_list(struct(ts, v)))`` keeps ordering
    distributed (no driver collect), then the codec sees a clean int64
    array per group.  Group size is time-bounded (finer buckets per
    coarser bucket), so collect_list cannot blow memory.

    ``gchunk_col``: existing chunk-grain column on ``finer``; when given
    it joins the grouping keys and the output, so an input
    hash-partitioned on ``(source, gchunk_col)`` aggregates with zero
    exchange and the caller's payload join on ``(source, gchunk_col,
    [tier,] bucket_start)`` stays co-located (see operators.rollup.rollup
    for the clustering rule).
    """
    tiers = tier_list(coarser_tier)
    keys = ["source"]
    if gchunk_col:
        keys.append(gchunk_col)
    if len(tiers) > 1:
        keys.append("tier")
    grouped = finer.groupBy(
        *keys,
        per_tier(tiers, lambda t: bucket_col(ts_col, t)).alias("bucket_start"),
    ).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(ts_col, value_col))),
            lambda s: s[value_col].cast("long"),
        ).alias("_stream")
    )
    return grouped.select(
        *keys,
        "bucket_start",
        bucket_end_col(tiers).alias("bucket_end"),
        encode_i64_stream(F.col("_stream")).alias("payload"),
    )
