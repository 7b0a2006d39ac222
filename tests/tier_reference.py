"""Reference tier build: one plan per tier, composed by hand.

The equality reference for ``TierPipeline.run``'s one multi-tier plan:
each tier is rolled up, gap-filled, given its sketch columns and its
payload on its own (the one-tier ``rollup`` / ``gapfill`` /
``attach_payload`` calls), and the tiers are unioned.  A coarse tier's
payload encodes the previous tier's pre-gap-fill ``sum_tok`` stream; the
finest tier's (``payloads='all'`` only) the raw ``n_tok`` stream.

``attach_payload`` is the payload's reference formulation: a JVM
``sort_array(collect_list(struct(ts, v)))`` aggregate per coarse bucket,
encoded by the ``encode_i64_stream`` pandas UDF (the one-array reference
encoder of ``tests/codec_reference.py``, independent of the engine's
kernel), joined to the tier.
"""

from __future__ import annotations

import struct
from collections import Counter

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from gents_spark.operators import rollup as rollup_ops
from gents_spark.operators.gapfill import gapfill
from gents_spark.operators.rollup import (
    bucket_col,
    bucket_end_col,
    percentile_modes,
    rollup,
)
from gents_spark.operators.sketches import distinct_sketch, value_histogram
from gents_spark.plans.manifest import CHUNK_FORMATS, chunk_col, shift_chunk
from tests.codec_reference import encode_i64


@pandas_udf(BinaryType())
def encode_i64_stream(values: pd.Series) -> pd.Series:
    """array<long> -> DoD binary, one reference encode per array."""
    return values.map(encode_i64)


def attach_payload(
    finer: DataFrame,
    coarser_tier: str,
    value_col: str = "sum_tok",
    ts_col: str = "bucket_start",
    gchunk_col: str | None = None,
) -> DataFrame:
    """Per (source, coarser bucket): the ordered ``finer`` value stream
    encoded as a DoD payload.

    ``finer`` is either a finer tier table (ts_col='bucket_start',
    value_col='sum_tok') or the raw rows (ts_col='event_time',
    value_col='n_tok') for the finest tier's payload.  ``gchunk_col``
    joins the grouping keys and the output when given.
    """
    keys = ["source", *([gchunk_col] if gchunk_col else [])]
    grouped = finer.groupBy(
        *keys, bucket_col(ts_col, coarser_tier).alias("bucket_start")
    ).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(ts_col, value_col))),
            lambda s: s[value_col].cast("long"),
        ).alias("_stream")
    )
    return grouped.select(
        *keys,
        "bucket_start",
        bucket_end_col(coarser_tier).alias("bucket_end"),
        encode_i64_stream(F.col("_stream")).alias("payload"),
    )


def planned_chunks(raw: DataFrame, chunk_grain: str) -> list[str]:
    """Every chunk from the one of raw's first event to its last."""
    fmt = CHUNK_FORMATS[chunk_grain]
    lo, hi = raw.agg(
        F.date_format(F.min("event_time"), fmt),
        F.date_format(F.max("event_time"), fmt),
    ).collect()[0]
    out = [] if lo is None else [lo]
    while out and out[-1] < hi:
        out.append(shift_chunk(out[-1], 1))
    return out


def reference_tiers(pipe, sequences: DataFrame) -> DataFrame:
    """Every tier row ``pipe.run(sequences, ...)`` writes, built per tier
    (``chunk`` is the written chunk key).  Percentile paths come from
    the ``max_bucket_count`` probe of every tier at the current
    ``HOT_BUCKET_LIMIT``."""
    raw0, _bad = pipe.prepare(sequences)
    planned = planned_chunks(raw0, pipe.chunk_grain)
    modes = percentile_modes(
        raw0, pipe.tiers, "auto", rollup_ops.HOT_BUCKET_LIMIT
    )
    gck = "_gchunk"
    # the pipeline's raw partitioning: an HLL sketch's bytes depend on
    # the order its rows arrive in
    n = int(pipe.spark.conf.get("spark.sql.shuffle.partitions"))
    raw = raw0.withColumn(
        gck, F.date_trunc(pipe.chunk_grain, "event_time")
    ).repartition(n, "source", gck)
    finals = []
    prev = None
    for tier in pipe.tiers:
        base = rollup(raw, tier, percentile_mode=modes, gchunk_col=gck)
        if pipe.gapfill_mode:
            tier_df = gapfill(base, tier, mode=pipe.gapfill_mode, gchunk_col=gck)
        else:
            tier_df = base.withColumn("filled", F.lit(False))
        tier_df = tier_df.drop(gck)
        side = []
        if pipe.store_sketches:
            side.append(value_histogram(raw, tier, gchunk_col=gck).select(
                "source", "bucket_start", "vh"))
        if pipe.store_distinct:
            side.append(distinct_sketch(
                raw, tier, key_col="doc_id", gchunk_col=gck
            ).select("source", "bucket_start", "dv_sketch"))
        if pipe.payloads and (prev is not None or pipe.payloads == "all"):
            side.append(
                (
                    attach_payload(
                        raw, tier, value_col="n_tok", ts_col="event_time",
                        gchunk_col=gck,
                    )
                    if prev is None
                    else attach_payload(prev, tier, gchunk_col=gck)
                ).select("source", "bucket_start", "payload")
            )
        for s in side:
            tier_df = tier_df.join(s, ["source", "bucket_start"], "left")
        finals.append(tier_df)
        prev = base
    out = finals[0]
    for f in finals[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    out = out.withColumn("chunk", chunk_col(grain=pipe.chunk_grain))
    return out.filter(F.col("chunk").isin(planned))


def written_tiers(spark, out_dir: str) -> DataFrame:
    """All tier rows of a finished run, ``chunk`` read back as a string."""
    tiers = out_dir + "/tiers"
    return (
        spark.read.option("basePath", tiers)
        .option("mergeSchema", "true")
        .parquet(tiers)
        .withColumn("chunk", F.col("chunk").cast("string"))
    )


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    return v


def hll_content(sketch: bytes):
    """A DataSketches HLL sketch (``hll_sketch_agg``) as its content.

    In LIST and SET mode (low cardinality) the coupons are stored in the
    order the rows reached the aggregate, and an aggregate that falls
    back to sort-based merging reorders them; the content is the header
    plus the sorted non-empty coupons.  HLL mode (registers) is kept as
    bytes."""
    pre_ints, cur_mode = sketch[0], sketch[7] & 3
    if cur_mode == 2:
        return sketch
    body = sketch[4 * pre_ints:]
    coupons = struct.unpack(f"<{len(body) // 4}I", body)
    return sketch[:4 * pre_ints], tuple(sorted(c for c in coupons if c))


def row_multiset(df: DataFrame, cols: list[str]) -> Counter:
    """Rows over ``cols`` as a hashable multiset (maps and binaries
    canonicalized, HLL sketches by content), so two tables compare row
    for row, every column."""
    def canon(c, v):
        if c == "dv_sketch" and v is not None:
            return hll_content(bytes(v))
        return _canon(v)

    return Counter(
        tuple(canon(c, r[c]) for c in cols) for r in df.select(*cols).collect()
    )
