"""Continuous aggregates + tiered downsampling (the north_rule core).

GenTS's central transform is "group files by stream, window them by time,
emit one planned output per (group, window)" (``gents/hfcollection.py:903-1005``
slice windows; ``gents/timeseries.py:411-527`` order planner).  Here the
same semantics are one declarative aggregation:

    groupBy(source, tier, bucket_start)
      .agg(count, sum, min, max, exact percentiles)

``tier`` is one label or a list of them.  One tier groups on its bucket
expression directly; several tiers first inline each input row into one
``(tier, bucket_start)`` row per tier (``fan_out``: a map-side Generate,
no exchange), so ONE aggregate builds every grain of the raw->1m->1h->1d
cascade from one pass over the finest data — the nested-time-grain
aggregation of PAPERS "Continuous Maintenance of Range Sum Heat Maps"
(ICDE'18).  Per-tier expressions (bucket end, gap-fill step, percentile
path) are a CASE over the row's ``tier`` (``per_tier``).

Scale notes (100 TB design point):

- The groupBy shuffles on (source, bucket) — high cardinality, so the
  shuffle is well-spread; Spark's partial (map-side) aggregation reduces
  each input partition to ~|distinct buckets| rows before the exchange.
  Input already hash-partitioned on ``(source, gchunk_col)`` needs no
  exchange at all (see ``rollup``).
- Additive stats (cnt/sum/min/max) for coarser tiers compose from the
  finer tier (``rollup_from_finer``).  Exact percentiles do NOT compose
  (p50 of 1h != f(p50 of 1m), SURVEY.md §7.3); ``rollup`` computes every
  tier's percentiles from the raw values.  At petabyte scale you would
  carry a t-digest sketch column instead; the exact path is kept because
  the correctness gate demands exact tier-point equality.
- A skewed source spreads over its chunks when the input is partitioned
  on ``(source, gchunk_col)``; a hot bucket's percentiles take the
  sketch under ``percentile_mode='auto'``.
"""

from __future__ import annotations

import re as _re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: tier name -> date_trunc unit.  '1w' (added r05) is a full named
#: tier: weeks are REGULAR (604800 s, Monday-anchored by date_trunc in
#: both engines), so every step-seconds consumer (gap-fill spines, grid
#: indices, retention ordering, payload codecs) works unchanged —
#: unlike months, which are irregular and live in ``calendar_rollup``
#: only.
TIER_UNITS: dict[str, str] = {
    "1m": "minute", "1h": "hour", "1d": "day", "1w": "week",
}
#: tier name -> bucket width in seconds
TIER_SECONDS: dict[str, int] = {
    "1m": 60, "1h": 3600, "1d": 86400, "1w": 604800,
}
#: coarser-tier cascade order (the DEFAULT build set; '1w' is opt-in
#: via --tiers / TierPipeline(tiers=...))
TIER_ORDER: list[str] = ["1m", "1h", "1d"]


def tier_grain(tier: str) -> tuple[str | None, int]:
    """(date_trunc unit | None, bucket width in seconds) for a tier
    label.  Accepts the named tiers plus arbitrary ``<N>s``
    second-grain labels (r05) — ``rollup(df, "900s")`` builds a
    15-minute tier with the identical plan shape as the named tiers
    (named grains bucket via ``date_trunc``, custom grains via the
    exact integer-us ``time_bucket``)."""
    if tier in TIER_UNITS:
        return TIER_UNITS[tier], TIER_SECONDS[tier]
    m = _re.fullmatch(r"(\d+)s", tier)
    if not m or int(m.group(1)) < 1:
        raise ValueError(f"unknown tier: {tier}")
    return None, int(m.group(1))


def tier_list(tier: str | list[str]) -> list[str]:
    """A tier argument as a list: one label, or the tiers of one frame."""
    return [tier] if isinstance(tier, str) else list(tier)


def per_tier(tiers: list[str], fn) -> F.Column:
    """``fn(t)`` for a one-tier frame; over several tiers, a CASE on the
    row's ``tier`` column.  The last tier is the ELSE branch, so the
    result is non-null wherever every ``fn(t)`` is (parquet writes a
    non-null column as REQUIRED, whatever the tier count)."""
    *head, last = tiers
    out = None
    for t in head:
        cond = F.col("tier") == t
        out = F.when(cond, fn(t)) if out is None else out.when(cond, fn(t))
    return fn(last) if out is None else out.otherwise(fn(last))


def fan_out(
    df: DataFrame, tier: str | list[str], ts: str | F.Column
) -> tuple[DataFrame, list[F.Column]]:
    """Rows to group and their ``[tier,] bucket_start`` grouping keys.

    One tier groups on its bucket expression as-is (the caller adds the
    ``tier`` literal after the aggregate, ``tier_col``).  Several tiers inline every
    input row into one ``(tier, bucket_start)`` row per tier — a Generate
    that keeps the input's partitioning, so one aggregate over the result
    builds every tier without a further exchange."""
    tiers = tier_list(tier)
    if len(tiers) == 1:
        return df, [bucket_col(ts, tiers[0]).alias("bucket_start")]
    rows = df.select(
        "*",
        F.inline(F.array(*[
            F.struct(
                F.lit(t).alias("tier"), bucket_col(ts, t).alias("bucket_start")
            )
            for t in tiers
        ])),
    )
    return rows, [F.col("tier"), F.col("bucket_start")]


def tier_col(tiers: list[str]) -> F.Column:
    """The output ``tier`` column: a one-tier frame's literal, or the
    ``tier`` a multi-tier frame groups by."""
    return (F.lit(tiers[0]) if len(tiers) == 1 else F.col("tier")).alias("tier")


PCTS = [0.5, 0.95, 0.99]
_PCT_NAMES = ["p50_tok", "p95_tok", "p99_tok"]


def bucket_col(ts_col: str | F.Column, tier: str) -> F.Column:
    """Tumbling-window bucket start for a tier.

    ``date_trunc`` is equivalent to ``F.window(ts, width).start`` for
    calendar-aligned widths, stays a plain column (no struct), and maps
    1:1 onto the DuckDB oracle's ``date_trunc``.  ``<N>s`` grains
    bucket through ``time_bucket`` (epoch-aligned, same semantics).
    """
    unit, step = tier_grain(tier)
    if unit:
        c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
        return F.date_trunc(unit, c)
    return time_bucket(ts_col, step)


def time_bucket(
    ts_col: str | F.Column,
    width_s: int,
    origin: str = "1970-01-01 00:00:00",
) -> F.Column:
    """Arbitrary-width tumbling bucket with a custom origin — the
    TimescaleDB ``time_bucket(width, ts, origin)`` surface for widths
    ``date_trunc`` cannot express (15m, 6h, 90s) or offset alignments
    (billing days starting 00:07:30).

    bucket_start = ts - ((ts - origin) mod width), computed ENTIRELY in
    exact integer microseconds: ``pmod`` keeps the result correct for
    timestamps before the origin, and no double ever touches the epoch
    (unix_micros ~ 1.8e15 for 2026 sits within 2^53, but width
    multiples of it would not).  Pure per-row column arithmetic —
    whole-stage codegen, and the groupBy that follows partial-aggregates
    map-side exactly like the ``date_trunc`` tiers.
    """
    if width_s < 1:
        raise ValueError(f"width_s={width_s}: expected >= 1")
    w = F.lit(int(width_s) * 1_000_000).cast("long")
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    # unix_micros wants TIMESTAMP; the engine's event times are
    # timezone-less (session tz pinned to UTC in session.py, so the
    # NTZ->TS cast is a wall-clock identity).  The OUTPUT stays plain
    # TIMESTAMP — the flavor every other bucket producer emits
    # (pipeline event_time, F.window, gapfill's generated rows), so
    # tier files never mix TIMESTAMP with TIMESTAMP_NTZ (read_tier's
    # mergeSchema refuses to merge the two).
    us = F.unix_micros(c.cast("timestamp"))
    ous = F.unix_micros(F.lit(origin).cast("timestamp"))
    return F.timestamp_micros(us - F.pmod(us - ous, w))


def grid_index(ts_col, step_s: int, origin_s: int = 0) -> F.Column:
    """FLOOR-division grid index of a timestamp: ``(epoch - origin) //
    step_s`` as a bigint — the integer bucket number the island/gap
    screens (``flatline_runs``, ``screen_report``) order by.

    Spark's ``div`` truncates toward zero, which puts the half-step
    left of the origin into bucket 0 instead of bucket -1 and diverges
    from DuckDB's flooring ``//`` on pre-origin timestamps; this uses
    the same exact-integer ``pmod`` floor as ``time_bucket`` (the
    subtraction yields an exact step multiple, so the one division is
    lossless).  ``origin_s`` aligns offset grids (a 00:07:30-anchored
    tier passes its origin so index*step+origin round-trips to the
    true bucket timestamp).
    """
    if step_s < 1:
        raise ValueError(f"step_s={step_s}: expected >= 1")
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    e = F.unix_timestamp(c.cast("timestamp")) - F.lit(int(origin_s))
    s = F.lit(int(step_s))
    return ((e - F.pmod(e, s)) / s).cast("long")


def sliding_rollup(
    points: DataFrame,
    width_s: int,
    slide_s: int,
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Hopping-window continuous aggregate: count/sum/min/max of
    ``value_col`` per (source, window) where windows are ``width_s``
    wide and start every ``slide_s`` (width a multiple of slide) —
    the smoothing variant of the tumbling tiers: a 1h/30m hop halves
    the bucket-boundary artifacts a pure tumbling rollup shows.

    Spark-first: ``F.window(ts, width, slide)`` compiles to one
    map-side Expand (each row replicated into its width/slide windows)
    feeding the same partially-aggregated shuffle as the tumbling
    rollup — the exchange carries |windows| aggregated rows, scaled by
    the overlap factor, never |rows| * overlap raw rows.  Window starts
    are epoch-aligned multiples of ``slide_s`` (Spark's default
    origin), which the oracle mirrors with integer floor arithmetic.
    """
    if width_s < 1 or slide_s < 1 or width_s % slide_s:
        raise ValueError(
            f"width_s={width_s}, slide_s={slide_s}: "
            "need width a positive multiple of slide"
        )
    w = F.window(
        F.col(ts_col), f"{width_s} seconds", f"{slide_s} seconds"
    )
    return (
        points.groupBy(F.col(source_col).alias("source"), w)
        .agg(
            F.count("*").alias("cnt"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
        .select(
            "source",
            F.col("window.start").alias("bucket_start"),
            "cnt", "sum_v", "min_v", "max_v",
        )
    )


def bucket_end_col(tier: str | list[str]) -> F.Column:
    """``bucket_start + one tier width`` for named or ``<N>s`` grains."""

    def end(t: str) -> F.Column:
        unit, step = tier_grain(t)
        if unit:
            return F.timestamp_add(unit.upper(), F.lit(1), F.col("bucket_start"))
        return F.timestamp_add("SECOND", F.lit(step), F.col("bucket_start"))

    return per_tier(tier_list(tier), end)


#: W2 window-assignment alignments (GenTS offers the same four for
#: interval-valued records: ``gents/hfcollection.py:966-978``).
ALIGNMENTS = ("direct", "start_bound", "end_bound", "midpoint")


def aligned_ts(
    ts_col: str, ts_end_col: str | None = None, alignment: str = "direct"
) -> F.Column:
    """Representative timestamp used for window assignment.

    A record spanning ``[ts, ts_end)`` has no single obvious bucket; the
    reference lets the caller choose which representative decides it:
    ``direct`` (the point timestamp — also the only choice when there is
    no end bound), ``start_bound``, ``end_bound``, or ``midpoint``.
    Midpoint uses exact integer microsecond arithmetic
    (``(us(ts)+us(end)) div 2``) so it is engine-deterministic — no
    interval/double rounding.
    """
    if alignment not in ALIGNMENTS:
        raise ValueError(
            f"unknown alignment {alignment!r}; choose one of {ALIGNMENTS}"
        )
    if alignment in ("direct", "start_bound"):
        return F.col(ts_col)
    if ts_end_col is None:
        raise ValueError(f"alignment={alignment!r} requires ts_end_col")
    if alignment == "end_bound":
        return F.col(ts_end_col)
    mid_us = F.unix_micros(F.col(ts_col).cast("timestamp")) + F.unix_micros(
        F.col(ts_end_col).cast("timestamp")
    )
    # arithmetic shiftright == exact floor-div-2 on the long sum
    return F.timestamp_micros(F.shiftright(mid_us, 1))


def sorted_percentile(sorted_arr: F.Column, p: float) -> F.Column:
    """Exact linear-interpolation percentile over a pre-sorted array,
    evaluating the same expression Spark's Percentile aggregate does
    (pos = p*(n-1); (hi-pos)*v[lo] + (pos-lo)*v[hi]) — bitwise-identical
    results, but as whole-stage-codegen projections instead of the
    ObjectHashAggregate, which profiles ~10x slower on high-cardinality
    groupings (one small array per bucket)."""
    n = F.size(sorted_arr)
    pos = F.lit(p) * (n - 1).cast("double")
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    vlo = F.element_at(sorted_arr, lo + 1).cast("double")
    vhi = F.element_at(sorted_arr, hi + 1).cast("double")
    return F.when(n == 0, F.lit(None).cast("double")).when(lo == hi, vlo).otherwise(
        (hi.cast("double") - pos) * vlo + (pos - lo.cast("double")) * vhi
    )


#: default sketch accuracy: relative rank error <= 1/SKETCH_ACCURACY
#: (Greenwald-Khanna bound of Spark's approx_percentile aggregate)
SKETCH_ACCURACY = 10_000
#: buckets above this row count switch percentile_mode='auto' to the
#: sketch: a 1m bucket of a pathologically hot source can hold 10^7+
#: values, and the exact path's collect_list array would own one task's
#: heap (round-1 VERDICT scale-killer #4)
HOT_BUCKET_LIMIT = 5_000_000


def max_bucket_count(
    df: DataFrame,
    tier: str,
    source_col: str = "source",
    ts_col: str = "event_time",
    ts_end_col: str | None = None,
    alignment: str = "direct",
) -> int:
    """Largest (source, bucket) row count — the hot-bucket probe.

    One map-side-combined count aggregation (same shuffle key as the
    rollup itself); drives percentile_mode='auto'.  Buckets on the SAME
    aligned timestamp the rollup will use, so the probe sees the true
    hot bucket under any W2 alignment.
    """
    row = (
        df.groupBy(
            F.col(source_col),
            bucket_col(aligned_ts(ts_col, ts_end_col, alignment), tier),
        )
        .count()
        .agg(F.max("count"))
        .collect()[0]
    )
    return row[0] or 0


def percentile_modes(
    df: DataFrame,
    tiers: list[str],
    percentile_mode: str = "exact",
    hot_bucket_limit: int = HOT_BUCKET_LIMIT,
    source_col: str = "source",
    ts_col: str = "event_time",
    ts_end_col: str | None = None,
    alignment: str = "direct",
) -> dict[str, str]:
    """{tier: 'exact' | 'sketch'} for ``rollup``: ``'auto'`` probes
    ``max_bucket_count`` of each tier over ``df``."""
    if percentile_mode not in ("exact", "sketch", "auto"):
        raise ValueError(f"unknown percentile_mode: {percentile_mode}")
    if percentile_mode != "auto":
        return {t: percentile_mode for t in tiers}
    return {
        t: "sketch"
        if max_bucket_count(df, t, source_col, ts_col, ts_end_col, alignment)
        > hot_bucket_limit
        else "exact"
        for t in tiers
    }


def rollup(
    df: DataFrame,
    tier: str | list[str],
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
    with_percentiles: bool = True,
    percentile_mode: str | dict[str, str] = "exact",
    sketch_accuracy: int = SKETCH_ACCURACY,
    hot_bucket_limit: int = HOT_BUCKET_LIMIT,
    gchunk_col: str | None = None,
    ts_end_col: str | None = None,
    alignment: str = "direct",
) -> DataFrame:
    """Continuous-aggregate tiers from raw rows: one tier label, or a
    list of them built by ONE aggregate over the ``fan_out`` rows.

    Output schema (SURVEY.md §1.3 tier model):
    (source, tier, bucket_start, bucket_end, cnt, sum_tok, min_tok,
     max_tok, p50_tok, p95_tok, p99_tok)

    ``gchunk_col``: name of an EXISTING chunk-grain column on ``df``
    (functionally dependent on the bucket — e.g.
    ``date_trunc('day', ts)``).  When given it joins the groupBy keys and
    the output.  Semantically a no-op (same groups, same stats); the
    point is the physical plan: if ``df`` is hash-partitioned on
    ``(source, gchunk_col)``, the grouping keys are a SUPERSET of the
    partitioning keys, so Catalyst's clustering rule is satisfied and
    the aggregation runs with ZERO exchange — and downstream windows /
    joins keyed on the same attribute stay exchange-free too (the
    one-big-shuffle pipeline, see pipeline.TierPipeline.run).

    ``alignment`` / ``ts_end_col`` (W2): for interval-valued records
    ``[ts_col, ts_end_col)`` the bucketing timestamp is chosen by
    ``aligned_ts`` — ``direct`` (default, point semantics),
    ``start_bound``, ``end_bound``, or ``midpoint`` — GenTS's four
    time-alignment methods (``gents/hfcollection.py:966-978``).  The
    ``auto`` percentile probe buckets on the same aligned timestamp;
    any ``gchunk_col`` co-partition column must still be derived from
    the aligned timestamp by the caller when alignment != direct.

    ``percentile_mode``:

    - ``'exact'`` (default, the correctness-gate path): linear
      interpolation (Spark/Hive formula) over a per-bucket
      ``sort_array(collect_list(...))`` — one shuffle carrying the
      bucket's values (the same bytes the Percentile aggregate would
      ship, since exact percentiles have no partial combine), all
      downstream math in codegen.  Requires bucket row counts to fit a
      task's memory.
    - ``'sketch'``: Spark's ``approx_percentile`` — a mergeable
      Greenwald-Khanna quantile sketch with bounded state
      (O(accuracy·log n) per bucket regardless of bucket size) and
      map-side partial merge, so a 10^8-row hot bucket costs the same
      task memory as a 10^3-row one.  Rank error <= 1/sketch_accuracy.
      This is the 100 TB path the survey's t-digest note asks for.
    - ``'auto'``: probe ``max_bucket_count`` per tier; a tier is exact
      when every bucket is under ``hot_bucket_limit``, sketch otherwise.
      Each aggregate then sees only its own tiers' values.
    - a ``{tier: 'exact' | 'sketch'}`` dict: a choice already made, e.g.
      by ``percentile_modes`` over a wider input than ``df``.
    """
    tiers = tier_list(tier)
    ts = aligned_ts(ts_col, ts_end_col, alignment)
    modes = (
        percentile_mode
        if isinstance(percentile_mode, dict)
        else percentile_modes(
            df, tiers, percentile_mode if with_percentiles else "exact",
            hot_bucket_limit, source_col, ts_col, ts_end_col, alignment,
        )
    )
    exact = [t for t in tiers if modes[t] == "exact"]
    v = F.col(value_col)

    def values_of(chosen: list[str]) -> F.Column:
        # NULL outside the chosen tiers: both aggregates skip NULLs
        vd = v.cast("double")
        return vd if len(chosen) == len(tiers) else F.when(
            F.col("tier").isin(chosen), vd
        )

    aggs = [
        F.count("*").alias("cnt"),
        F.sum(v.cast("long")).alias("sum_tok"),
        F.min(v).alias("min_tok"),
        F.max(v).alias("max_tok"),
    ]
    if with_percentiles:
        if exact:
            aggs.append(F.sort_array(F.collect_list(values_of(exact))).alias("_sv"))
        if len(exact) < len(tiers):
            aggs.append(
                F.approx_percentile(
                    values_of([t for t in tiers if t not in exact]),
                    F.array(*[F.lit(p) for p in PCTS]),
                    F.lit(sketch_accuracy),
                ).alias("_qs")
            )
    rows, bucket_keys = fan_out(df, tiers, ts)
    group_keys = [F.col(source_col).alias("source")]
    if gchunk_col:
        group_keys.append(F.col(gchunk_col))
    out = rows.groupBy(*group_keys, *bucket_keys).agg(*aggs)
    cols = [
        "source",
        tier_col(tiers),
        "bucket_start",
        bucket_end_col(tiers).alias("bucket_end"),
        "cnt", "sum_tok", "min_tok", "max_tok",
    ]
    if with_percentiles:
        # one expression when every tier takes the same path
        pct_tiers = tiers if len(set(modes.values())) > 1 else tiers[:1]
        cols += [
            per_tier(
                pct_tiers,
                lambda t: sorted_percentile(F.col("_sv"), p)
                if modes[t] == "exact"
                else F.element_at(F.col("_qs"), i + 1),
            ).alias(name)
            for i, (p, name) in enumerate(zip(PCTS, _PCT_NAMES))
        ]
    if gchunk_col:
        cols.append(gchunk_col)
    return out.select(*cols)


def rollup_from_finer(finer: DataFrame, tier: str) -> DataFrame:
    """Compose additive stats of a coarser tier from a finer tier.

    cnt/sum/min/max are associative so this never touches raw data —
    the GenTS analog is re-slicing already-planned windows.  Percentiles
    are intentionally absent (non-composable); use ``rollup`` on raw (or
    ``cascade``) when exact percentiles are required at every tier.
    """
    return (
        finer.groupBy(
            "source", bucket_col("bucket_start", tier).alias("bucket_start")
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_tok").alias("sum_tok"),
            F.min("min_tok").alias("min_tok"),
            F.max("max_tok").alias("max_tok"),
        )
        .withColumn("tier", F.lit(tier))
        .withColumn("bucket_end", bucket_end_col(tier))
        .select(
            "source", "tier", "bucket_start", "bucket_end",
            "cnt", "sum_tok", "min_tok", "max_tok",
        )
    )


def cascade(
    df: DataFrame,
    tiers: list[str] | None = None,
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> dict[str, DataFrame]:
    """All tiers, each with exact percentiles recomputed from raw.

    Returns {tier: DataFrame}.  The raw input is scanned once per tier;
    callers doing all tiers in one job should ``df.persist()`` the
    projected raw columns first (bench.py does).
    """
    tiers = tiers or TIER_ORDER
    return {
        t: rollup(df, t, source_col=source_col, ts_col=ts_col, value_col=value_col)
        for t in tiers
    }


def ohlc(
    df: DataFrame,
    tier: str,
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Open/high/low/close bars per (source, bucket) — the classic
    first/last-in-window rollup the count/sum/min/max/percentile tier
    model (``rollup``) cannot express: *open* is the value of the
    EARLIEST row in the bucket, *close* the LATEST.  For a feed of
    token counts the open→close delta per bucket is the within-bucket
    level change, the standard compaction for charting and for
    level-shift screens over coarse tiers.

    Scale shape: ONE partial-agg groupBy — open/close come from a
    single ``min``/``max`` over ``struct(ts_us, value)`` (lexicographic
    struct ordering), which combines map-side like any min/max, so
    there is no window sort, no row_number, and no second shuffle.
    A 10^8-row hot bucket costs the same task state as a 10-row one
    (four scalars per bucket).

    Determinism: rows sharing the bucket's extreme timestamp tie-break
    on the value itself — open takes the SMALLEST value at the earliest
    ts, close the LARGEST at the latest (documented contract, mirrored
    by the oracle's ``ORDER BY ts, v`` / ``ORDER BY ts DESC, v DESC``
    row_number form).  All comparisons are exact integers when
    ``value_col`` is integer fixed-point, so the DuckDB twin
    hash-matches bit-for-bit.
    """
    v = F.col(value_col)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # NULL values are excluded up front: Spark's struct min/max would
    # order a NULL field FIRST (open=NULL) while high/low/cnt skip or
    # count it inconsistently — a NULL price is a missing observation,
    # not a bar member (and the oracle's NULLS LAST row_number would
    # disagree row-for-row otherwise)
    out = (
        df.filter(v.isNotNull())
        .groupBy(
            F.col(source_col).alias("source"),
            bucket_col(ts_col, tier).alias("bucket_start"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct(t_us.alias("t"), v.alias("v"))).alias("_o"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max(F.struct(t_us.alias("t"), v.alias("v"))).alias("_c"),
        )
        .withColumn("tier", F.lit(tier))
        .withColumn("bucket_end", bucket_end_col(tier))
    )
    return out.select(
        "source",
        "tier",
        "bucket_start",
        "bucket_end",
        "cnt",
        F.col("_o.v").alias("open"),
        "high",
        "low",
        F.col("_c.v").alias("close"),
    )


#: calendar grains whose buckets have IRREGULAR widths (or, for week,
#: a calendar anchor) — date_trunc unit -> timestamp_add unit
CAL_GRAINS: dict[str, str] = {
    "week": "WEEK",
    "month": "MONTH",
    "quarter": "QUARTER",
    "year": "YEAR",
}


def calendar_rollup(
    df: DataFrame,
    grain: str,
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
    with_percentiles: bool = True,
) -> DataFrame:
    """Calendar-aligned continuous aggregate — the TimescaleDB
    monthly-cagg surface the fixed-width tier model cannot express:
    month/quarter/year buckets are IRREGULAR (28..31-day months), so
    they cannot be a pipeline tier (gap-fill spines, grid indices and
    payload codecs all assume one step width; '1w' IS regular and is a
    full named tier instead).  Billing months and monthly data-volume
    reports bucket here.

    bucket_start = ``date_trunc(grain)``; bucket_end =
    ``timestamp_add(unit, 1, bucket_start)`` — exact calendar
    arithmetic, so a January bar spans 31 days and February 28/29 with
    no 30.44-day approximation.  Aggregates are the tier model's
    (cnt/sum/min/max + exact interpolated percentiles over the sorted
    value array — ``sorted_percentile``, the same bitwise-stable shape
    as ``rollup``'s exact mode).

    Scale shape: identical to ``rollup`` — ONE partially-aggregated
    shuffle on (source, bucket); percentile arrays are per-bucket, so
    the exact mode carries the bucket's values like any exact
    percentile must (use coarse grains over pre-aggregated finer tiers
    when buckets would not fit a task).
    """
    if grain not in CAL_GRAINS:
        raise ValueError(
            f"unknown calendar grain {grain!r}; choose one of "
            f"{sorted(CAL_GRAINS)}"
        )
    v = F.col(value_col)
    aggs = [
        F.count("*").alias("cnt"),
        F.sum(v.cast("long")).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    ]
    if with_percentiles:
        aggs.append(
            F.sort_array(F.collect_list(v.cast("double"))).alias("_sv")
        )
    out = (
        df.groupBy(
            F.col(source_col).alias("source"),
            F.date_trunc(grain, F.col(ts_col)).alias("bucket_start"),
        )
        .agg(*aggs)
        .withColumn("cal_grain", F.lit(grain))
        .withColumn(
            "bucket_end",
            F.timestamp_add(CAL_GRAINS[grain], F.lit(1), F.col("bucket_start")),
        )
    )
    cols = [
        "source", "cal_grain", "bucket_start", "bucket_end",
        "cnt", "sum_v", "min_v", "max_v",
    ]
    if with_percentiles:
        for p, name in zip(PCTS, ("p50_v", "p95_v", "p99_v")):
            out = out.withColumn(name, sorted_percentile(F.col("_sv"), p))
        cols += ["p50_v", "p95_v", "p99_v"]
    return out.select(*cols)
