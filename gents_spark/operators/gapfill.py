"""LOCF / linear gap-fill by direct gap GENERATION (lead + explode).

GenTS leaves missing timesteps absent (no analog); the north_rule adds
them.  Design (SURVEY.md §2.3 J4 / §2.5 W5):

Every input tier row looks at the NEXT known bucket of its source
(``lead`` over a (source, day-chunk) window, with a tiny day-summary
carry for chunk boundaries) and directly GENERATES the missing buckets
between them, carrying its own values (LOCF) or interpolating toward
the next row's (linear).  One generator pass emits the input rows and
the gaps together: each row explodes ``sequence(0, gap_n)``, where k=0
is the row itself (``filled=false``) and k>=1 are its generated
successors (``filled=true``) — identical to a dense min..max spine.

Why not the textbook spine-join (materialize a dense per-source
sequence of buckets, left-join the tier onto it, window-fill the
nulls)?  Cost: that is TWO full shuffles for the join (both sides) plus
ANOTHER full shuffle for the fill window, and it materializes a
null-padded dense table even when the data is 99% dense.  The generator
is ONE window shuffle + map-side explode; rows are created only where
gaps exist.  Measured on the bench tier: ~3x faster.  The equality
references are the dense-spine pandas fillers ``oracle_gapfill_locf`` /
``oracle_gapfill_linear`` in ``tests/oracle.py``.

Scale note: windows are partitioned by (source, day) — parallel WITHIN
a source (a long-retention source is not one straggler task); the
boundary carry travels through a day-summary table that is ~|days x
sources| rows, broadcast back.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# tier_grain accepts named tiers + '<N>s' labels, so gap-fill composes
# with rollup.time_bucket grids (gapfill(g, '900s') == 15-min resample;
# alignment only needs bucket_starts congruent mod step)
from gents_spark.operators.rollup import (  # noqa: F401 (re-exports)
    TIER_SECONDS,
    TIER_UNITS,
    tier_grain,
)


_FILL_COLS = ["cnt", "sum_tok", "min_tok", "max_tok", "p50_tok", "p95_tok", "p99_tok"]
#: the subset where "empty bucket == 0" is true (zero-fill default)
_ADDITIVE_COLS = ["cnt", "sum_tok"]


def gapfill(
    tiers: DataFrame,
    tier: str,
    mode: str = "locf",
    fill_cols: list[str] | None = None,
    gchunk_col: str | None = None,
) -> DataFrame:
    """Fill missing buckets; adds ``filled`` boolean.

    ``mode='locf'``: last observation carried forward.
    ``mode='linear'``: straight-line interpolation between flanking known
    buckets (falls back to LOCF at the trailing edge; leading-edge rows
    before the first observation stay null in both modes only if the
    spine starts before data — it does not, spine is min..max).
    ``mode='zero'``: generated buckets carry 0 — the CORRECT fill for
    absence-means-zero count/sum metrics (carrying yesterday's event
    count over a dead hour via LOCF invents traffic; TimescaleDB users
    reach for ``coalesce(..., 0)`` around ``time_bucket_gapfill`` for
    exactly this).  Fill columns keep their input types.  Zero only
    makes sense for ADDITIVE columns — min/max/percentiles of an empty
    bucket are undefined, not 0 — so when ``fill_cols`` is defaulted,
    zero mode fills only ``cnt``/``sum_tok`` and the other default
    stats stay NULL on generated rows; pass ``fill_cols`` explicitly to
    widen (on your own semantics).

    ``gchunk_col``: an existing day-grain column to use as the window
    chunk instead of recomputing ``date_trunc('day', bucket_start)``.
    Same values, but reusing the ATTRIBUTE lets Catalyst see that an
    input already hash-partitioned on ``(source, gchunk_col)`` satisfies
    the window's clustering — the lead/gap-generation window then needs
    only a sort, no exchange.  The column is consumed, not emitted.
    """
    if mode not in ("locf", "linear", "zero"):
        raise ValueError(f"unknown gapfill mode: {mode}")
    if fill_cols is None and mode == "zero":
        fill_cols = [c for c in _ADDITIVE_COLS if c in tiers.columns]
    fill_cols = fill_cols or [c for c in _FILL_COLS if c in tiers.columns]
    unit, step = tier_grain(tier)

    keep_cols = [
        c for c in tiers.columns if c not in ("tier", "bucket_end", gchunk_col)
    ]
    gchunk = (
        F.col(gchunk_col)
        if gchunk_col
        else F.date_trunc("day", F.col("bucket_start"))
    )
    t = (
        tiers.select(*keep_cols, gchunk.alias("_gchunk"))
        .withColumn("_idx", F.unix_timestamp("bucket_start"))
    )
    w = Window.partitionBy("source", "_gchunk").orderBy("bucket_start")
    t = t.withColumn("_nidx", F.lead("_idx").over(w))
    if mode == "linear":
        # LOCF generates gap rows from the anchor's own values; the
        # next-row value columns are only read by the linear branch
        for c in fill_cols:
            t = t.withColumn(f"_n_{c}", F.lead(c).over(w))

    # chunk-boundary carry: first known row of the FOLLOWING days.
    # LOCF only needs the next known INDEX (to bound gap_n); the next
    # known VALUES are read only by the linear interpolation.
    carry_vals = fill_cols if mode == "linear" else []
    summ = t.groupBy("source", "_gchunk").agg(
        F.min("_idx").alias("_fidx"),
        *[F.min_by(c, "_idx").alias(f"_f_{c}") for c in carry_vals],
    )
    w_next = (
        Window.partitionBy("source")
        .orderBy("_gchunk")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    carry = summ.select(
        "source",
        "_gchunk",
        F.first("_fidx").over(w_next).alias("_cidx"),
        *[
            F.first(f"_f_{c}").over(w_next).alias(f"_c_{c}")
            for c in carry_vals
        ],
    )
    t = t.join(F.broadcast(carry), ["source", "_gchunk"], "left")
    eff_nidx = F.coalesce(F.col("_nidx"), F.col("_cidx"))
    gap_n = F.when(
        eff_nidx.isNotNull(),
        ((eff_nidx - F.col("_idx")) / F.lit(step)).cast("long") - 1,
    ).otherwise(F.lit(0))

    # k=0 is the input row itself, k>=1 the generated buckets; the clamp
    # keeps rows less than one step before their successor (gap_n < 0)
    # to their k=0 row
    out = t.withColumn(
        "_k", F.explode(F.sequence(F.lit(0), F.greatest(gap_n, F.lit(0))))
    )
    orig = F.col("_k") == 0
    if mode == "locf":
        fill = [F.col(c) for c in fill_cols]
    elif mode == "zero":
        fill = [
            F.when(orig, F.col(c)).otherwise(
                F.lit(0).cast(tiers.schema[c].dataType)
            )
            for c in fill_cols
        ]
    else:
        # frac over unix secs, double interpolation -> known rows also
        # become double (tests/oracle.py oracle_gapfill_linear mirrors
        # this arithmetic order exactly)
        frac = (F.col("_k") * F.lit(step)) / (eff_nidx - F.col("_idx"))
        fill = [
            F.when(orig, F.col(c).cast("double")).otherwise(
                F.col(c).cast("double")
                + (
                    F.coalesce(F.col(f"_n_{c}"), F.col(f"_c_{c}")).cast(
                        "double"
                    )
                    - F.col(c).cast("double")
                )
                * frac
            )
            for c in fill_cols
        ]
    extra = [
        c for c in keep_cols
        if c not in ("source", "bucket_start", *fill_cols)
    ]
    out = out.select(
        "source",
        F.when(orig, F.col("bucket_start"))
        .otherwise((F.col("_idx") + F.col("_k") * F.lit(step)).cast("timestamp"))
        .alias("bucket_start"),
        (~orig).alias("filled"),
        *[f.alias(c) for f, c in zip(fill, fill_cols)],
        # non-filled passthrough columns (e.g. payload) are null on
        # generated rows
        *[F.when(orig, F.col(c)).alias(c) for c in extra],
    )

    end = (
        F.timestamp_add(unit.upper(), F.lit(1), F.col("bucket_start"))
        if unit
        else F.timestamp_add("SECOND", F.lit(step), F.col("bucket_start"))
    )
    return out.withColumn("tier", F.lit(tier)).withColumn(
        "bucket_end", end
    )


def gap_report(
    tier: DataFrame,
    tier_name: str = "1h",
    key: str = "source",
    ts: str = "bucket_start",
) -> DataFrame:
    """Per-key gap census over a tier — the PLANNING half of gap-fill:
    before generating LOCF/linear rows (``gapfill``), report how much
    would be generated and where the damage is (a source with one
    3-hour hole needs reconciliation; one missing every 7th bucket is a
    cadence mismatch — compare FIXTURES.md ``gaps`` scenario).

    Per key, over the bucket span [min, max]:

    - ``n_present`` observed buckets, ``n_expected`` the dense count
      ``(max - min)/step + 1``, ``n_missing`` their difference;
    - ``n_gaps`` maximal runs of missing buckets (pairs of neighbours
      more than one step apart), ``max_gap_buckets`` the longest run;
    - ``coverage`` = n_present/n_expected (double, one division).

    Everything except ``coverage`` is exact integer arithmetic on
    epoch seconds, so the DuckDB twin hash-matches trivially.

    Scale shape: one lag window + one grouped aggregation on ``key`` —
    no spine is materialized (the report costs O(present rows), not
    O(expected rows), exactly why it should run BEFORE a naive
    spine-join gap-fill of a 99%-sparse source).
    """
    _, step = tier_grain(tier_name)
    w = Window.partitionBy(key).orderBy(ts)
    e = F.unix_timestamp(ts)
    prev = F.lag(e).over(w)
    gap_n = F.when(
        prev.isNotNull(), ((e - prev) / F.lit(step)).cast("long") - 1
    ).otherwise(F.lit(0))
    d = tier.select(key, F.col(ts)).withColumn("_gap_n", gap_n)
    g = d.groupBy(key).agg(
        F.count("*").alias("n_present"),
        (
            (F.max(e) - F.min(e)) / F.lit(step) + 1
        ).cast("long").alias("n_expected"),
        F.min(ts).alias("first_bucket"),
        F.max(ts).alias("last_bucket"),
        F.sum(F.when(F.col("_gap_n") > 0, 1).otherwise(0))
        .cast("long").alias("n_gaps"),
        F.max("_gap_n").alias("max_gap_buckets"),
    )
    return g.select(
        key, "first_bucket", "last_bucket", "n_present", "n_expected",
        (F.col("n_expected") - F.col("n_present")).alias("n_missing"),
        "n_gaps", "max_gap_buckets",
        F.round(
            F.col("n_present").cast("double")
            / F.col("n_expected").cast("double"),
            6,
        ).alias("coverage"),
    )
