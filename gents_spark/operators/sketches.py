"""Persisted mergeable percentile sketches (SURVEY.md §7.3; round-2
VERDICT missing #4 / next #3).

Exact percentiles do not compose across tiers, so once retention expires
the raw data, coarser-tier percentiles could never be recomputed — the
"generate before you delete" problem (GenTS mindset:
``gents/timeseries.py:136-142``).  The fix is a sketch COLUMN stored on
tier rows whose state merges losslessly upward.

Sketch choice: a value-frequency histogram ``map<long, long>`` over
quantized values, rather than GK/KLL:

- the engine's measures are integer token counts (BASELINE.json input
  hint: ``n_tok int``) with a bounded value domain, so the histogram is
  EXACT — merged-tier percentiles equal the from-raw exact path bit for
  bit, which GK/KLL cannot promise (their rank error compounds with
  merging);
- state is bounded by the DISTINCT-VALUE count (<= domain size), not the
  row count — a 10^9-row hot bucket costs the same entries as a 10^3-row
  one over the same domain;
- merging is count addition — associative, commutative, a plain
  map-side-combinable aggregation, no UDF/UDAF;
- real-valued measures quantize via ``scale`` (floor(v * scale)),
  turning the histogram into a fixed-resolution sketch with bounded
  VALUE error 1/scale — the t-digest tradeoff with a deterministic,
  oracle-expressible rule.

All expressions are JVM codegen (two-level aggregation + ``aggregate``
folds); under the pipeline's (source, day) co-partitioning both
aggregation levels are exchange-free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gents_spark.operators.rollup import PCTS, _PCT_NAMES, bucket_col, fan_out


def value_histogram(
    df: DataFrame,
    tier: str | list[str],
    value_col: str = "n_tok",
    source_col: str = "source",
    ts_col: str = "event_time",
    scale: int = 1,
    gchunk_col: str | None = None,
) -> DataFrame:
    """(source[, gchunk][, tier], bucket_start, cnt, vh) — one histogram
    sketch per tier bucket; ``vh: map<long,long>`` maps
    ``floor(value * scale)`` to its row count.  ``scale=1`` is exact for
    integer measures.  A tier list builds every tier over the same
    ``fan_out`` rows as ``rollup``."""
    rows, bucket_keys = fan_out(df, tier, ts_col)
    keys = [F.col(source_col).alias("source")]
    if gchunk_col:
        keys.append(F.col(gchunk_col))
    qv = F.floor(F.col(value_col).cast("double") * scale).cast("long")
    per_value = rows.groupBy(*keys, *bucket_keys, qv.alias("_v")).agg(
        F.count("*").alias("_c")
    )
    group_names = (
        ["source"]
        + ([gchunk_col] if gchunk_col else [])
        + (["tier"] if len(bucket_keys) > 1 else [])
        + ["bucket_start"]
    )
    return per_value.groupBy(*group_names).agg(
        F.sum("_c").alias("cnt"),
        F.map_from_entries(F.collect_list(F.struct("_v", "_c"))).alias("vh"),
    )


def merge_histograms(
    finer: DataFrame,
    coarser_tier: str,
    gchunk_col: str | None = None,
) -> DataFrame:
    """Compose coarser-tier sketches from a finer tier's stored ``vh``
    column — counts add, nothing else; raw data not required (it may be
    retention-expired)."""
    keys = ["source"] + ([gchunk_col] if gchunk_col else [])
    exploded = finer.select(
        *keys,
        bucket_col("bucket_start", coarser_tier).alias("bucket_start"),
        F.explode("vh").alias("_v", "_c"),
    )
    regrouped = exploded.groupBy(*keys, "bucket_start", "_v").agg(
        F.sum("_c").alias("_c")
    )
    return regrouped.groupBy(*keys, "bucket_start").agg(
        F.sum("_c").alias("cnt"),
        F.map_from_entries(F.collect_list(F.struct("_v", "_c"))).alias("vh"),
    )


def _value_at_rank(entries: F.Column, rank: F.Column) -> F.Column:
    """Quantized value at 0-indexed ``rank`` of the sorted histogram —
    one ``aggregate`` fold over the (value-sorted) entry array carrying
    (remaining, found) state."""
    init = F.struct(
        rank.cast("long").alias("rem"),
        F.lit(None).cast("long").alias("found"),
    )
    step = lambda acc, e: F.when(  # noqa: E731
        acc["found"].isNotNull(), acc
    ).otherwise(
        F.when(
            e["value"] > acc["rem"],
            F.struct(acc["rem"].alias("rem"), e["key"].alias("found")),
        ).otherwise(
            F.struct(
                (acc["rem"] - e["value"]).alias("rem"),
                F.lit(None).cast("long").alias("found"),
            )
        )
    )
    return F.aggregate(entries, init, step)["found"]


def histogram_percentiles(
    tiers: DataFrame,
    vh_col: str = "vh",
    scale: int = 1,
    pcts: list[float] | None = None,
    names: list[str] | None = None,
) -> DataFrame:
    """Add percentile columns computed from the stored sketch — the SAME
    linear-interpolation formula as the exact path (pos = p*(n-1),
    interpolate flanking ranks), evaluated over the histogram's implied
    sorted multiset.  For integer measures at scale=1 the results equal
    ``rollup``'s exact percentiles identically."""
    pcts = pcts or PCTS
    names = names or _PCT_NAMES
    out = tiers.withColumn(
        "_ent", F.sort_array(F.map_entries(F.col(vh_col)))
    ).withColumn(
        "_n",
        F.aggregate(
            "_ent", F.lit(0).cast("long"), lambda a, e: a + e["value"]
        ),
    )
    for p, name in zip(pcts, names):
        pos = F.lit(p) * (F.col("_n") - 1).cast("double")
        lo = F.floor(pos).cast("long")
        hi = F.ceil(pos).cast("long")
        vlo = _value_at_rank(F.col("_ent"), lo).cast("double") / scale
        vhi = _value_at_rank(F.col("_ent"), hi).cast("double") / scale
        out = out.withColumn(
            name,
            F.when(F.col("_n") == 0, F.lit(None).cast("double"))
            .when(lo == hi, vlo)
            .otherwise(
                (hi.cast("double") - pos) * vlo
                + (pos - lo.cast("double")) * vhi
            ),
        )
    return out.drop("_ent", "_n")


# ---------------------------------------------------------------------------
# distinct-count sketches (HLL)
# ---------------------------------------------------------------------------


def distinct_sketch(
    df: DataFrame,
    tier: str | list[str],
    key_col: str = "doc_id",
    source_col: str = "source",
    ts_col: str = "event_time",
    lgk: int = 12,
    gchunk_col: str | None = None,
) -> DataFrame:
    """Per (source, bucket) mergeable DISTINCT-count sketch — the
    companion to ``value_histogram`` for the other non-additive
    statistic a tier stores: how many distinct documents fed a bucket.

    Spark's built-in Apache DataSketches HLL (``hll_sketch_agg``,
    binary column) is used rather than ``approx_count_distinct``
    because the latter emits only the NUMBER — the sketch STATE is what
    survives retention expiry and re-aggregates upward losslessly
    (register-wise max under union, so a merged coarser sketch is
    IDENTICAL to one built from raw — pinned by test).  lgk=12: ~1.6%
    relative standard error at 2 KB per bucket.  A tier list builds
    every tier over the same ``fan_out`` rows as ``rollup``.
    """
    rows, bucket_keys = fan_out(df, tier, ts_col)
    keys = [F.col(source_col).alias("source")]
    if gchunk_col:
        keys.append(F.col(gchunk_col))
    return (
        rows.groupBy(*keys, *bucket_keys)
        .agg(
            F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(lgk))
            .alias("dv_sketch"),
        )
        .withColumn(
            "dv_est", F.hll_sketch_estimate(F.col("dv_sketch"))
        )
    )


def merge_distinct_sketches(
    finer: DataFrame, coarser_tier: str
) -> DataFrame:
    """Re-bucket stored finer-tier HLL sketches into a coarser tier:
    ``hll_union_agg`` over the binary state — no raw data touched."""
    return (
        finer.groupBy(
            "source",
            bucket_col("bucket_start", coarser_tier).alias("bucket_start"),
        )
        .agg(F.hll_union_agg("dv_sketch").alias("dv_sketch"))
        .withColumn(
            "dv_est", F.hll_sketch_estimate(F.col("dv_sketch"))
        )
    )
