"""Composed per-series health report: every alarm family over one
tier series, in one table.

``curate_corpus`` is the text pipeline's composed verdict (quality AND
dedup AND sampling in one decision table); ``screen_report`` is its
timeseries twin — the on-call view "what is wrong with this feed right
now", unioning the three structural alarm families that share one
hourly input:

- **flatline**: maximal runs of identical consecutive values
  (``anomaly.flatline_runs`` — wedged collector),
- **gap**: maximal runs of MISSING grid buckets (the per-gap rows
  behind ``gapfill.gap_report``'s per-key census — feed stopped),
- **level_shift**: buckets where the forward/backward frame-mean
  contrast exceeds a threshold (``anomaly.level_shift`` — deploy /
  config flip).

One unified alarm schema: ``(key, alarm_type, t_start, t_end,
n_buckets, v, score)`` — ``v`` is the stuck value for flatlines (NULL
otherwise), ``score`` the signed shift for level shifts (NULL
otherwise).  Exactness: flatline and gap rows are all-integer; the
level-shift score is ``level_shift``'s already-hash-green rounded
double, and the threshold compares the ROUNDED value so engine and
oracle filter identical row sets.

Scale shape: three window pipelines over the SAME (key-partitioned)
aggregated tier series, then a unionByName — each branch is the ONE
shuffle-on-key plan of its parent operator, and Spark unions are
metadata-only (no exchange).  Callers should persist the input tier
DataFrame when it is derived from a raw scan: three consumers of an
unpersisted aggregation re-scan the raw table three times (measured —
see driver_queries.q_source_correlation's note).

Reference parity: GenTS's integrity checking is structural-only
(``gents/timeseries.py:26-46`` chunk audit); this unifies the
value-level screens it lacks under one report.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gents_spark.operators.anomaly import flatline_runs, level_shift


def screen_report(
    tier: DataFrame,
    key: str = "source",
    ts: str = "bucket_start",
    value: str = "s",
    step_s: int = 3600,
    origin_s: int = 0,
    min_run: int = 3,
    shift_window: int = 12,
    shift_threshold: float = 2.0,
    scale_div: float = 1.0,
) -> DataFrame:
    """Union the flatline / gap / level-shift alarms over one tier
    series.  ``shift_threshold`` is compared against the ABSOLUTE
    rounded shift (same 6-dp rounding as ``level_shift``); gaps and
    flatlines are parameterized by the grid ``step_s`` and ``min_run``.

    ``origin_s`` MUST match the tier's bucket alignment (0 for
    date_trunc/epoch-aligned tiers; the anchor's epoch offset for
    ``time_bucket(origin=...)`` tiers): flatline and gap alarm times
    are reconstructed as ``index*step + origin``, so a mismatched
    origin would snap them off-grid while level-shift alarms (which
    carry the raw bucket timestamp) stay on it — the report would
    disagree with itself.  Round-tripping is exact when the input is
    grid-aligned (``grid_index`` floors, never truncates).
    """
    if step_s < 1:
        raise ValueError(f"step_s={step_s}: expected >= 1")
    if shift_threshold <= 0:
        raise ValueError(
            f"shift_threshold={shift_threshold}: expected > 0"
        )
    from gents_spark.operators.rollup import grid_index

    d = tier.select(
        F.col(key).alias("key"),
        F.col(ts).alias("ts"),
        F.col(value).cast("long").alias("v"),
    ).withColumn("t", grid_index("ts", step_s, origin_s))

    def _ts(col: F.Column) -> F.Column:
        return F.timestamp_seconds(
            col * F.lit(step_s) + F.lit(int(origin_s))
        )

    flat = flatline_runs(
        d, key="key", order_idx="t", value="v", min_run=min_run
    ).select(
        "key",
        F.lit("flatline").alias("alarm_type"),
        _ts(F.col("t_start")).alias("t_start"),
        _ts(F.col("t_end")).alias("t_end"),
        "n_buckets",
        "v",
        F.lit(None).cast("double").alias("score"),
    )

    w = Window.partitionBy("key").orderBy("t")
    prev_t = F.lag("t").over(w)
    gaps = (
        d.withColumn("_gap_n", F.col("t") - prev_t - 1)
        .filter(F.col("_gap_n") > 0)
        .select(
            "key",
            F.lit("gap").alias("alarm_type"),
            _ts(F.col("t") - F.col("_gap_n")).alias("t_start"),
            _ts(F.col("t") - 1).alias("t_end"),
            F.col("_gap_n").alias("n_buckets"),
            F.lit(None).cast("long").alias("v"),
            F.lit(None).cast("double").alias("score"),
        )
    )

    shifts = (
        level_shift(
            d,
            key="key",
            order="ts",
            value="v",
            window=shift_window,
            scale_div=scale_div,
        )
        .filter(F.abs(F.col("shift")) >= F.lit(float(shift_threshold)))
        .select(
            "key",
            F.lit("level_shift").alias("alarm_type"),
            F.col("ts").alias("t_start"),
            F.col("ts").alias("t_end"),
            F.lit(2 * shift_window).cast("long").alias("n_buckets"),
            F.lit(None).cast("long").alias("v"),
            F.col("shift").alias("score"),
        )
    )

    return flat.unionByName(gaps).unionByName(shifts)


def freshness_report(
    events: DataFrame,
    key: str = "source",
    ts: str = "ts",
    stale_after_h: int = 24,
) -> DataFrame:
    """Per-key freshness census against the corpus watermark — the
    first question an on-call asks of a feed table: who has stopped
    sending?  ``gap_report``/``flatline_runs`` census HISTORICAL holes
    inside a series; this reports each key's CURRENT staleness
    relative to the newest event anywhere (the corpus watermark — the
    only "now" a batch table can know), so a dead feed surfaces even
    though it contributes no rows to bucket-level screens anymore.

    Output per key: (key, n_events, first_ts, last_ts, hours_stale,
    active_hours, span_hours, activity_ratio, is_stale) — hours_stale
    = whole hours between the key's last event and the watermark
    (exact to the microsecond);
    active_hours = distinct hours with >=1 event; span_hours = whole
    hours first->last + 1; activity_ratio = active/span (the duty
    cycle).  All exact integers plus one final division.

    Scale shape: ONE map-side-combined groupBy over (key) — the
    distinct-hour count pre-aggregates as (key, hour) partials — plus
    a broadcast one-row crossJoin for the watermark; no window, no
    UDF.
    """
    if stale_after_h < 0:
        raise ValueError(f"stale_after_h={stale_after_h}: expected >= 0")
    hour = F.date_trunc("hour", F.col(ts))
    g = events.groupBy(key).agg(
        F.count("*").alias("n_events"),
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
        F.count_distinct(hour).alias("active_hours"),
    )
    wm = events.agg(F.max(ts).alias("_wm"))
    out = g.crossJoin(F.broadcast(wm))
    # integer micros: unix_timestamp drops fractional seconds, so a
    # 3,599.95 s gap would read as a whole hour
    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    hour_us = F.lit(3_600_000_000)
    hours_stale = F.floor(
        (us(F.col("_wm")) - us(F.col("last_ts"))) / hour_us
    ).cast("bigint")
    span = (
        F.floor(
            (
                us(F.date_trunc("hour", "last_ts"))
                - us(F.date_trunc("hour", "first_ts"))
            )
            / hour_us
        ).cast("bigint")
        + 1
    )
    return out.select(
        key,
        "n_events",
        "first_ts",
        "last_ts",
        hours_stale.alias("hours_stale"),
        "active_hours",
        span.alias("span_hours"),
        F.round(
            F.col("active_hours").cast("double") / span.cast("double"), 6
        ).alias("activity_ratio"),
        (hours_stale >= F.lit(stale_after_h)).alias("is_stale"),
    )
