"""Rolling-window anomaly scoring over metric streams.

GenTS has no anomaly path (its QC is structural — variable/shape
conformance, ``gents/hfcollection.py:744-766``); a timeseries engine
serving a training pipeline needs a VALUE-level screen: flag points that
sit far outside their own trailing distribution (bad shards, unit
flips, duplicated feeds) before they poison downstream rollups.

``rolling_zscore`` computes, per key, each point's z-score against the
preceding ``window`` points (the point itself excluded — a test point
never contaminates its own baseline).  Shape: ONE shuffle on the key,
then two frame-bounded window sums — no self-join, no UDF.

Exactness: the mean/variance are computed from integer fixed-point
values (``scale`` decimal places), so the rolling sums are EXACT
bigints; the final mean/std/z conversion is a handful of double ops on
identical integers in any engine — which is what lets the DuckDB oracle
hash-match a statistic as touchy as a rolling stddev.  Variance uses
the sample form ``(n*Σx² − (Σx)²) / (n*(n−1))`` — one (exact) huge
numerator, one double division.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def rolling_zscore(
    points: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    window: int = 24,
    min_points: int = 8,
    scale: int = 2,
    threshold: float | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Add ``n_prev``, ``mean_prev``, ``std_prev``, ``zscore`` (and
    filter to ``|z| >= threshold`` when given).

    The frame is ``ROWS BETWEEN window PRECEDING AND 1 PRECEDING``;
    rows with fewer than ``min_points`` predecessors or zero variance
    get NULL z.  ``scale``: decimal places of the input that make the
    fixed-point cast lossless (2 for cent-valued metrics).

    ``tiebreak``: a unique column appended to the window ORDER BY —
    without it, duplicate (key, ts) rows make the ROWS frame contents
    engine/order-dependent (round-3 ADVICE), so cross-engine
    comparisons need a deterministic total order.
    """
    mult = 10 ** scale
    cents = F.round(F.col(value) * mult).cast("bigint")
    order = [ts] if tiebreak is None else [ts, tiebreak]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(-window, -1)
    )
    d = (
        points.withColumn("_c", cents)
        .withColumn("_n", F.count("_c").over(w))
        .withColumn("_s", F.sum("_c").over(w))
        .withColumn("_s2", F.sum(F.col("_c") * F.col("_c")).over(w))
    )
    n, s, s2 = F.col("_n"), F.col("_s"), F.col("_s2")
    # exact bigint numerator; doubles only at the final division/sqrt.
    # when-guards: ANSI mode (Spark 4 default) raises on n=0 divisors
    # for rows with an empty trailing frame
    var_num = (n * s2 - s * s).cast("double")
    var = F.when(n > 1, var_num / (n * (n - 1)).cast("double"))
    std = F.sqrt(var)
    mean = F.when(n > 0, s.cast("double") / n.cast("double"))
    z = F.when(
        (n >= min_points) & (var_num > 0),
        (cents.cast("double") - mean) / std,
    )
    out = (
        d.withColumn("n_prev", n)
        .withColumn("mean_prev", F.round(mean / mult, 6))
        .withColumn("std_prev", F.round(std / mult, 6))
        .withColumn("zscore", F.round(z, 6))
        .drop("_c", "_n", "_s", "_s2")
    )
    if threshold is not None:
        out = out.filter(F.abs(F.col("zscore")) >= threshold)
    return out


def mad_outliers(
    points: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    threshold: float | None = 3.5,
    consistency: float = 0.6745,
) -> DataFrame:
    """Robust per-key outlier screen via median/MAD (the Hampel
    identifier; Leys et al. 2013's recommended replacement for the
    mean/std z-score): ``robust_z = consistency * (v - med) / MAD``
    with ``MAD = median(|v - med|)``.  Mean/std both move with the very
    outliers they're meant to flag (masking); the 50% breakdown point
    of median/MAD keeps the baseline pinned even when a feed is
    heavily polluted — the screen to run on a suspect shard *before*
    trusting ``rolling_zscore``'s trailing-window stats.

    Shape: one groupBy(key) collects the per-key sorted value array;
    the median AND the MAD are then both computed map-side from that
    single array (deviation array re-sorted in-expression — no second
    shuffle, no self-join), and the |keys|-row stats table joins back
    to the stream.  The per-key array is the same exact-percentile
    trade documented in rollup.py (HOT_BUCKET_LIMIT): a key holding
    10^7+ points should be pre-bucketed or screened with the sketch
    path instead.

    ``_med`` is bound as a materialized column BEFORE the deviation
    ``transform`` so the lambda sees a column reference, not an
    expression re-evaluated per element (the HOF-CSE trap,
    functions/codec_udfs.py).  Keys with MAD == 0 (constant series)
    yield NULL robust_z — a threshold filter drops them rather than
    dividing by zero.  Output: (key, ts, value, med, mad, robust_z),
    stats rounded to 6 dp, the filter applied on the UNROUNDED score.
    """
    from gents_spark.operators.rollup import sorted_percentile

    sv = F.sort_array(F.collect_list(F.col(value).cast("double")))
    stats = (
        points.groupBy(key)
        .agg(sv.alias("_sv"))
        .withColumn("_med", sorted_percentile(F.col("_sv"), 0.5))
    )
    dev = F.sort_array(
        F.transform(F.col("_sv"), lambda x: F.abs(x - F.col("_med")))
    )
    stats = stats.withColumn("_mad", sorted_percentile(dev, 0.5)).select(
        key, "_med", "_mad"
    )
    z = (
        F.lit(consistency)
        * (F.col(value).cast("double") - F.col("_med"))
        / F.col("_mad")
    )
    out = (
        points.join(stats, key)
        .withColumn(
            "robust_z",
            F.when(F.col("_mad") > 0, z).otherwise(F.lit(None)),
        )
    )
    if threshold is not None:
        out = out.filter(F.abs(F.col("robust_z")) > threshold)
    return out.select(
        key,
        ts,
        value,
        F.round("_med", 6).alias("med"),
        F.round("_mad", 6).alias("mad"),
        F.round("robust_z", 6).alias("robust_z"),
    )


def ewma_smooth(
    series: DataFrame,
    key: str = "source",
    order: str = "bucket_start",
    value: str = "v",
    alpha: float = 0.25,
    window: int = 24,
) -> DataFrame:
    """Exponentially weighted moving average over the trailing
    ``window`` points per key — the classic tier-timeseries smoother
    (RRDtool/Graphite EWMA consolidation; GenTS has no smoothing path,
    its aggregation is plain mean, ``gents/timeseries.py``).

    Adds ``n_in_window`` (frame size, <= window) and ``ewma``: the
    fold ``acc = x*alpha + acc*(1-alpha)`` over the frame in event-time
    order, seeded with the frame's OLDEST point.  Bounding the frame
    (rather than folding from the series start) keeps the state
    O(window) per row and makes the result oracle-expressible without
    numerically explosive ``(1-alpha)^t`` closed forms.

    Determinism: callers should feed a ``value`` derived from exact
    integer aggregates (e.g. cents-sum / count) — the fold itself is
    plain double mul/add in a FIXED left-to-right order (collect_list
    over a ROWS frame preserves ORDER BY order), so with
    exactly-representable alpha (0.25) the result is bit-identical
    across engines.

    Scale shape: ONE shuffle on ``key``, one frame-bounded window, an
    O(window) JVM codegen fold per row — no self-join, no UDF; series
    length per key is unbounded, state is not.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha={alpha}: expected (0, 1]")
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    vals = F.collect_list(value).over(w)
    d = series.withColumn("_vals", vals)
    fold = F.aggregate(
        F.slice(F.col("_vals"), 2, window),
        F.element_at(F.col("_vals"), 1).cast("double"),
        lambda acc, x: x * F.lit(alpha) + acc * F.lit(1.0 - alpha),
    )
    return (
        d.withColumn("n_in_window", F.size("_vals").cast("long"))
        .withColumn("ewma", fold)
        .drop("_vals")
    )


def holt_smooth(
    series: DataFrame,
    key: str = "source",
    order: str = "bucket_start",
    value: str = "v",
    alpha: float = 0.5,
    beta: float = 0.25,
    window: int = 24,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over the
    trailing ``window`` points per key — the trend-aware upgrade of
    ``ewma_smooth``: a plain EWMA lags a ramping series forever, Holt's
    second state tracks the ramp and the one-step forecast
    ``level + trend`` stays on it (Holt 1957; RRDtool's HWPREDICT is
    the same recurrence plus a seasonal term).

    Per row adds ``n_in_window``, ``holt_level``, ``holt_trend``: the
    left-to-right fold over the ordered frame

        l' = x*alpha + (l + b)*(1 - alpha)
        b' = (l'' - l)*beta + b*(1 - beta)

    seeded with (oldest point, 0.0).  ``l''`` is the l' EXPRESSION
    repeated inline, not the bound value — both engines then compute
    ``b'`` from the identical double, which is what makes the fold
    bit-reproducible (see the oracle note below).

    Determinism: same contract as ``ewma_smooth`` — feed a ``value``
    derived from exact integer aggregates, pick exactly-representable
    alpha/beta (0.5, 0.25), and the fold is pure double mul/add in a
    fixed order, bit-identical across engines.  The DuckDB twin CANNOT
    use ``list_reduce`` with a struct accumulator: DuckDB 1.0 evaluates
    the first fold step with simultaneous field semantics but later
    steps leak in-place field updates (the output struct vector aliases
    the accumulator), so a two-state fold diverges from any pure
    semantics.  The twin instead unrolls the fold into ``window - 1``
    chained ``AS MATERIALIZED`` CTE steps (materialization also stops
    exponential alias-substitution blowup); see
    ``driver_queries._holt_oracle_sql``.

    Scale shape: identical to ``ewma_smooth`` — ONE shuffle on ``key``,
    one frame-bounded window, an O(window) JVM codegen fold per row; no
    self-join, no UDF, state bounded regardless of series length.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha={alpha}: expected (0, 1]")
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"beta={beta}: expected (0, 1]")
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    a, oma = F.lit(alpha), F.lit(1.0 - alpha)
    bt, omb = F.lit(beta), F.lit(1.0 - beta)

    def _step(acc, x):
        lnew = x * a + (acc["l"] + acc["b"]) * oma
        # the subtraction re-derives lnew from the SAME inputs so both
        # engines subtract the identical double (see docstring)
        bnew = ((x * a + (acc["l"] + acc["b"]) * oma) - acc["l"]) * bt \
            + acc["b"] * omb
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    d = series.withColumn("_vals", F.collect_list(value).over(w))
    seed = F.struct(
        F.element_at(F.col("_vals"), 1).cast("double").alias("l"),
        F.lit(0.0).alias("b"),
    )
    fold = F.aggregate(F.slice(F.col("_vals"), 2, window), seed, _step)
    return (
        d.withColumn("n_in_window", F.size("_vals").cast("long"))
        .withColumn("holt_level", fold["l"])
        .withColumn("holt_trend", fold["b"])
        .drop("_vals")
    )


def holt_winters(
    series: DataFrame,
    key: str = "source",
    order_idx: str = "t",
    value: str = "v",
    period: int = 24,
    window: int = 168,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
) -> DataFrame:
    """Additive Holt–Winters (triple exponential: level + trend +
    seasonality, Winters 1960) folded ONCE per key over the trailing
    ``window`` buckets — the seasonal completion of the smoother family
    (``ewma_smooth`` level-only -> ``holt_smooth`` +trend -> this
    +period-``period`` seasonality), emitting the end-of-series state
    and the next full season of forecasts per key.

    Recurrence per step i over x (additive form), seeded with
    ``(l, b, s) = (x_0, 0, zeros(period))``:

        l' = alpha*(x - s[i mod p]) + (1-alpha)*(l + b)
        b' = beta*(l' - l) + (1-beta)*b
        s'[i mod p] = gamma*(x - l') + (1-gamma)*s[i mod p]

    Forecast h steps out: ``l + h*b + s[(i+h-1) mod p]``.

    Input contract matches ``ols_trend``/``theil_sen_slope``: integer
    ``order_idx``, numeric ``value`` (feed exact cents-derived doubles
    for reproducibility), distinct index per key.  With
    exactly-representable alpha/beta/gamma the fold is pure double
    mul/add in a fixed order — the pytest pins it BIT-equal to a pure
    Python fold (no SQL oracle: a 3-state + p-slot accumulator is past
    what the materialized-CTE unroll recipe can express sanely).

    Scale shape: the theil_sen class — a per-key rank window bounds
    state to ``window`` rows (one shuffle shared with the groupBy),
    then ONE O(window * period) codegen fold per KEY (not per row);
    output is one row per key.  Output: (key, n_buckets, level, trend,
    season array<double>, forecast array<double> of ``period`` steps).
    """
    for name, x in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < x <= 1.0:
            raise ValueError(f"{name}={x}: expected (0, 1]")
    if period < 2 or window < period:
        raise ValueError(
            f"period={period}, window={window}: need period >= 2 and "
            "window >= period"
        )
    wr = Window.partitionBy(key).orderBy(F.col(order_idx).cast("long").desc())
    trail = (
        series.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= window)
    )
    g = trail.groupBy(key).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_idx).cast("long").alias("t"),
                    F.col(value).cast("double").alias("v"),
                )
            )
        ).alias("_pts")
    )
    vals = F.transform(F.col("_pts"), lambda p: p["v"])
    g = g.withColumn("_vals", vals)
    a, oma = F.lit(float(alpha)), F.lit(1.0 - alpha)
    bt, omb = F.lit(float(beta)), F.lit(1.0 - beta)
    gm, omg = F.lit(float(gamma)), F.lit(1.0 - gamma)
    m = period

    def _step(acc, x):
        si = F.element_at(acc["s"], (acc["i"] % m) + 1)
        lnew = (x - si) * a + (acc["l"] + acc["b"]) * oma
        # repeat the l' EXPRESSION inline (the holt_smooth recipe) so
        # b'/s' subtract the identical double
        bnew = (((x - si) * a + (acc["l"] + acc["b"]) * oma) - acc["l"]) \
            * bt + acc["b"] * omb
        snew = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.when(
                j == acc["i"] % m,
                (x - ((x - si) * a + (acc["l"] + acc["b"]) * oma)) * gm
                + si * omg,
            ).otherwise(F.element_at(acc["s"], j + 1)),
        )
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            snew.alias("s"),
            (acc["i"] + 1).alias("i"),
        )

    seed = F.struct(
        F.element_at(F.col("_vals"), 1).alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), m).alias("s"),
        F.lit(0).alias("i"),
    )
    fold = F.aggregate(
        F.slice(F.col("_vals"), 2, window), seed, _step
    )
    g = g.withColumn("_st", fold)
    st = F.col("_st")
    forecast = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda h: st["l"]
        + h.cast("double") * st["b"]
        + F.element_at(st["s"], ((st["i"] + h - 1) % m) + 1),
    )
    return g.select(
        key,
        F.size("_vals").cast("long").alias("n_buckets"),
        st["l"].alias("level"),
        st["b"].alias("trend"),
        st["s"].alias("season"),
        forecast.alias("forecast"),
    )


def cusum_drift(
    series: DataFrame,
    key: str = "source",
    order: str = "bucket_start",
    value: str = "s",
    scale_div: float = 100.0,
) -> DataFrame:
    """One-sided positive/negative CUSUM drift screen over an exact
    integer ``value`` column (e.g. hourly cents-sums), per key in
    ``order`` — the classic changepoint statistic (Page 1954), the
    standard drift alarm for training-data feeds (a source whose volume
    or value level shifts shows a ramp the rolling z-score misses).

    Exactness: the textbook recursion ``pos_t = max(0, pos_{t-1} + d_t)``
    is a sequential fold, but it has a closed form over running
    aggregates — with ``S_t = cumsum(d)`` (d = n*v_t - sum_v, the
    deviation from the key mean scaled by n to stay integer):

        pos_t = S_t - min(0, running_min(S))
        neg_t = max(0, running_max(S)) - S_t

    Every term is a BIGINT window aggregate (ROWS UNBOUNDED PRECEDING),
    so the statistic is exact and engine-independent; doubles appear
    only in the final display division by ``n * scale_div``.

    Scale shape: one shuffle on ``key``; two frame-cumulative window
    passes over the already-aggregated series (hourly rows — bounded
    per key), no fold, no UDF, no self-join.

    Overflow bound: the scaled deviation needs ``n * max|value| < 2^63``
    (a 10-year hourly series, n~9e4, leaves ~1e14 headroom per value —
    ample for cents-sums; ANSI mode raises loudly rather than wrapping
    if a caller exceeds it; coarsen ``value``'s fixed-point scale to
    regain headroom).
    """
    kw = Window.partitionBy(key)
    ow = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.count(value).over(kw)
    tot = F.sum(value).over(kw)
    d = n * F.col(value) - tot
    d_col = F.col("_d")
    s = F.sum(d_col).over(ow)
    out = (
        series.withColumn("_d", d)
        .withColumn("_S", s)
        .withColumn(
            "_minS", F.least(F.lit(0).cast("long"), F.min("_S").over(ow))
        )
        .withColumn(
            "_maxS", F.greatest(F.lit(0).cast("long"), F.max("_S").over(ow))
        )
        .withColumn("_n", F.count(value).over(kw))
    )
    div = (F.col("_n") * F.lit(float(scale_div))).cast("double")
    return (
        out.withColumn(
            "cusum_pos",
            F.round((F.col("_S") - F.col("_minS")).cast("double") / div, 6),
        )
        .withColumn(
            "cusum_neg",
            F.round((F.col("_maxS") - F.col("_S")).cast("double") / div, 6),
        )
        .drop("_d", "_S", "_minS", "_maxS", "_n")
    )


def autocorr(
    series: DataFrame,
    key: str = "source",
    ts: str = "bucket_start",
    value: str = "s",
    lag: int = 1,
    step_s: int = 3600,
    min_pairs: int = 8,
) -> DataFrame:
    """Per-key lag-``lag`` autocorrelation over a regular bucket grid —
    the persistence screen that separates a trending/sticky feed
    (r -> 1), white noise (r -> 0) and an oscillating/flapping feed
    (r < 0) before the drift alarms (``cusum_drift``/``ols_trend``)
    are tuned on it.

    Pairs are STRICT grid neighbours: (row at t, row at t - lag*step_s)
    — a lag over rows would silently pair across data gaps and bias r
    toward whatever the gap pattern is, so the lagged row is taken only
    when its bucket is exactly ``lag*step_s`` older.  Keys with fewer
    than ``min_pairs`` valid pairs (or zero variance on either side)
    yield NULL ``acf``.

    Exactness: ``value`` must be an exact integer column (cents-sums);
    the five Pearson terms (Sx, Sy, Sxx, Syy, Sxy) are sums of
    DECIMAL(38,0) products — overflow-safe at 10^12-sequence scale
    where a bigint Σx² would wrap — and every term is order-independent.
    Doubles appear only in the final num/sqrt(den) expression, written
    in one fixed shape (DuckDB twin: HUGEINT sums, same final shape),
    so the statistic hash-matches bit-for-bit.

    Scale shape: one window (the lag) partitioned by key + one grouped
    aggregation — the same shuffle class as any per-source rollup; no
    join, no UDF, no collect.
    """
    if lag < 1:
        raise ValueError(f"lag={lag}: expected >= 1")
    w = Window.partitionBy(key).orderBy(ts)
    x = F.lag(F.col(value).cast("decimal(38,0)"), lag).over(w)
    xt = F.lag(F.col(ts), lag).over(w)
    y = F.col(value).cast("decimal(38,0)")
    pairs = (
        series.withColumn("_x", x)
        .withColumn("_xt", xt)
        .filter(
            F.col("_xt").isNotNull()
            & (
                F.unix_timestamp(ts) - F.unix_timestamp("_xt")
                == F.lit(lag * step_s)
            )
        )
    )
    g = pairs.groupBy(key).agg(
        F.count("*").alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(F.col("_x") * y).alias("_sxy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    acf = F.when(
        (F.col("n_pairs") >= min_pairs) & (den > 0),
        (n * sxy - sx * sy) / den,
    )
    return g.select(
        key,
        F.col("n_pairs"),
        F.round(acf, 6).alias("acf"),
    )


def burstiness(
    points: DataFrame,
    key: str = "source",
    ts: str = "ts",
    sub_s: int = 60,
    bucket_s: int = 3600,
) -> DataFrame:
    """Fano factor (variance-to-mean of sub-bucket arrival counts) per
    (key, bucket) — the arrival-PATTERN screen: a Poisson-like feed has
    F ~ 1, a metronome-regular feed F -> 0, a bursty feed (batch dumps,
    retry storms) F >> 1, all at the SAME hourly volume, which is why
    the count-based screens can't see it.

    With ``m = bucket_s/sub_s`` sub-buckets (EMPTY ones included — a
    burst is bursty precisely because the other minutes are silent) and
    c_i the per-sub-bucket counts, the sample Fano factor

        F = Var(c)/Mean(c) = (m*Σc² - (Σc)²) / ((m-1)*Σc)

    — numerator and denominator are EXACT bigints from one sub-bucket
    count pass, so the single double division is hash-stable.

    Scale shape: two grouped aggregations (raw -> sub-bucket counts ->
    bucket), both map-side combinable; no window, no join, no spine of
    empty sub-buckets is materialized (the m-Σ algebra accounts for
    them for free).
    """
    if bucket_s % sub_s != 0:
        raise ValueError(f"bucket_s={bucket_s} not a multiple of {sub_s}")
    m = bucket_s // sub_s
    if m < 2:
        raise ValueError("need at least 2 sub-buckets")
    e = F.unix_timestamp(ts)
    sub = (e - (e % F.lit(sub_s))).alias("_sub")
    bkt = F.timestamp_seconds(
        e - (e % F.lit(bucket_s))
    ).alias("bucket_start")
    per_sub = points.groupBy(F.col(key), bkt, sub).agg(
        F.count("*").alias("_c")
    )
    g = per_sub.groupBy(key, "bucket_start").agg(
        F.sum("_c").alias("n_events"),
        F.count("*").cast("long").alias("n_active_subs"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    fano = (
        (F.lit(m) * F.col("_s2") - F.col("n_events") * F.col("n_events"))
        .cast("double")
        / (F.lit(m - 1) * F.col("n_events")).cast("double")
    )
    return g.select(
        key, "bucket_start", "n_events", "n_active_subs",
        F.round(fano, 6).alias("fano"),
    )


def histogram_drift(
    points: DataFrame,
    key: str = "source",
    ts: str = "ts",
    value: str = "v",
    bin_width: int = 2500,
    min_rows: int = 1,
) -> DataFrame:
    """Day-over-day distribution drift per key: total-variation
    distance between consecutive days' binned value histograms — the
    screen that catches a SHAPE change (unit flip, bimodal split,
    truncation) that leaves the mean untouched and so slips past
    ``cusum_drift``/``ols_trend``.

    Why TVD and not PSI/χ²: those sum float terms per bin, and a
    float Σ is addition-order-dependent — not reproducible across
    engines.  TVD over integer counts factors as

        tvd(d, d-1) = Σ_bins |c_d*n_prev - c_prev*n_d| / (2*n_d*n_prev)

    whose numerator is a sum of EXACT integers (DECIMAL(38,0) products,
    order-independent), leaving ONE double division at the end —
    hash-stable like every screen in this module.  tvd ∈ [0, 1]: 0 =
    identical shape, 1 = disjoint supports.

    ``value`` must be an exact integer column (cents); bins are
    ``floor(value / bin_width)`` — FLOOR, not truncation, so negative
    measures (deltas, refunds) bin consistently with DuckDB's ``//``
    and bin 0 is single-width like every other bin.  The double
    division is exact while ``|value| < 2^53``.

    Scale shape: one groupBy to (key, day, bin) counts — the only pass
    over raw rows — then the ``_tvd_from_counts`` core on that tiny
    aggregated table (|keys × days × bins|): day alignment is a
    map-side fan-out of each count into its own and the following day,
    never a window over raw data, and nothing is persisted.
    """
    if bin_width < 1:
        raise ValueError(f"bin_width={bin_width}: expected >= 1")
    day = F.date_trunc("day", F.col(ts)).alias("day")
    b = F.floor(
        F.col(value).cast("double") / F.lit(float(bin_width))
    ).cast("bigint").alias("bin")
    counts = points.groupBy(F.col(key), day, b).agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    return _tvd_from_counts(counts, key, min_rows)


def categorical_drift(
    points: DataFrame,
    key: str = "source",
    ts: str = "ts",
    cat: str = "term",
    min_rows: int = 1,
) -> DataFrame:
    """``histogram_drift`` for CATEGORICAL values (tokens, event names,
    schema fingerprints): day-over-day total-variation distance between
    consecutive days' category histograms per key.  Same exact-integer
    TVD factoring and plan shape as ``histogram_drift`` (shared core
    ``_tvd_from_counts``) — the category string is the bin, so there is
    no numeric binning step and no 2^53 width constraint (the 60-bit
    ``word_hash`` cannot safely ride the float-division binning path).

    The flagship use is VOCABULARY drift on a training corpus: feed
    (source, day, token) rows and tvd=0 means yesterday's token
    distribution, tvd→1 means the source started speaking a different
    language (scrape gone wrong, encoding flip, spam flood).
    """
    counts = points.groupBy(
        F.col(key),
        F.date_trunc("day", F.col(ts)).alias("day"),
        F.col(cat).alias("bin"),
    ).agg(F.count("*").cast("decimal(38,0)").alias("c"))
    return _tvd_from_counts(counts, key, min_rows)


def _tvd_from_counts(counts: DataFrame, key: str, min_rows: int) -> DataFrame:
    """Shared exact-TVD core over a (key, day, bin, c DECIMAL(38,0))
    count table.

    Shape (r06 rewrite): each count row fans out MAP-SIDE into its own
    day and the following day (one explode of a 2-struct array — no
    self-union, so ``counts`` has exactly one consumer and needs no
    persist), one aggregation aligns bins per (key, day), a window
    over the same keys attaches the day totals (no extra exchange for
    the final per-day aggregation, which groups on the window's
    partition keys), and the both-days-present rule falls out of the
    totals themselves: a day absent from ``counts`` contributes c = 0,
    and every real bin row carries c >= 1, so presence == total >= 1.
    The previous shape persisted ``counts`` for four consumers and ran
    two aggregations plus three joins of it (5 exchanges); this is 3
    exchanges, no joins, same exact decimal sums."""
    zero = F.lit(0).cast("decimal(38,0)")
    both = F.explode(
        F.array(
            F.struct(
                F.col("day").alias("_d"),
                F.col("c").alias("_c"),
                zero.alias("_cp"),
            ),
            F.struct(
                (F.col("day") + F.expr("INTERVAL 1 DAY")).alias("_d"),
                zero.alias("_c"),
                F.col("c").alias("_cp"),
            ),
        )
    )
    fanned = counts.select(F.col(key), F.col("bin"), both.alias("_b")).select(
        key,
        F.col("_b._d").alias("day"),
        "bin",
        F.col("_b._c").alias("_c"),
        F.col("_b._cp").alias("_cp"),
    )
    aligned = fanned.groupBy(key, "day", "bin").agg(
        F.sum("_c").alias("c"), F.sum("_cp").alias("cp")
    )
    w = Window.partitionBy(key, "day")
    aligned = (
        aligned.withColumn("n", F.sum("c").over(w))
        .withColumn("np", F.sum("cp").over(w))
        # presence == total >= 1 (every bin row is a count >= 1), so
        # the old inner joins' both-days-present rule is the same as
        # requiring both totals >= max(min_rows, 1)
        .filter(
            (F.col("n") >= max(min_rows, 1))
            & (F.col("np") >= max(min_rows, 1))
        )
    )
    g = aligned.groupBy(key, "day").agg(
        F.max("n").alias("n_cur"),
        F.max("np").alias("n_prev"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum(
            F.abs(F.col("c") * F.col("np") - F.col("cp") * F.col("n"))
        ).alias("_num"),
    )
    return g.select(
        key,
        "day",
        F.col("n_cur").cast("long").alias("n_cur"),
        F.col("n_prev").cast("long").alias("n_prev"),
        "n_bins",
        F.round(
            F.col("_num").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_cur").cast("double")
                * F.col("n_prev").cast("double")
            ),
            6,
        ).alias("tvd"),
    )


#: Benford first-digit probabilities log10(1 + 1/d) — module-level so
#: the DuckDB oracle can inject the IDENTICAL double literals
BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_screen(
    df: DataFrame,
    key: str = "source",
    value: str = "value",
    scale: int = 2,
) -> DataFrame:
    """First-significant-digit census per key vs Benford's law — the
    classic fabricated-data / unit-flip screen (Benford 1938; Nigrini's
    forensic-accounting usage): organically-generated heavy-tailed
    magnitudes put ~30.1% of first digits at 1, while synthetic fills,
    truncated feeds and double-scaled units visibly distort the curve.

    Digit extraction is EXACT — no log10/floor float path: the value is
    fixed-pointed to an integer (``scale`` decimal places, same contract
    as rolling_zscore) and the first character of its decimal string is
    the first significant digit; integer-to-string is stable in every
    engine.  Non-positive values carry no Benford expectation and are
    excluded.

    Output per (key, digit) present in the data: ``cnt``, ``total``,
    ``obs_frac`` (rounded 6dp), ``benford_frac`` (the log10 constant),
    ``dev`` = obs - expected (rounded 6dp, computed from the UNROUNDED
    observation and the shared constant).  Digits a key never produces
    emit no row — their deviation is the constant itself, visible as
    the missing row.

    Scale shape: one partial+final count aggregation on (key, digit),
    then a second exchange on key alone for the total window — but that
    second shuffle moves at most 9 rows per key (the aggregated digit
    census), never the raw data; no join, no UDF.
    """
    mult = 10 ** scale
    c = F.round(F.col(value) * mult).cast("bigint")
    digits = df.filter(c > 0).select(
        key, F.substring(c.cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy(key, "digit").agg(F.count("*").alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy(key))
    bp = F.when(F.col("digit") == 1, F.lit(BENFORD_P[1]))
    for d in range(2, 10):
        bp = bp.when(F.col("digit") == d, F.lit(BENFORD_P[d]))
    obs = F.col("cnt").cast("double") / F.col("total").cast("double")
    return (
        counts.withColumn("total", total)
        .withColumn("benford_frac", F.round(bp, 6))
        .select(
            key,
            "digit",
            "cnt",
            "total",
            F.round(obs, 6).alias("obs_frac"),
            "benford_frac",
            F.round(obs - bp, 6).alias("dev"),
        )
    )


def flatline_runs(
    series: DataFrame,
    key: str = "source",
    order_idx: str = "t",
    value: str = "s",
    min_run: int = 3,
) -> DataFrame:
    """Stuck-signal detector per key: maximal runs of consecutive
    buckets carrying the IDENTICAL value on a contiguous grid — the
    classic dead-sensor / frozen-feed signature (a metric that keeps
    reporting, but reports the same number every interval, is usually
    a wedged collector, not a quiet system).

    Input contract matches ``ols_trend``: integer ``order_idx`` (e.g.
    absolute epoch-hour) and an exact integer ``value``.  A run BREAKS
    on a value change OR a grid gap (``t != prev_t + 1``) — a sensor
    that stops reporting is a *gap* (``gap_report``'s job), not a
    flatline; only uninterrupted repetition counts.

    Output: (key, t_start, t_end, n_buckets, v) for runs of length >=
    ``min_run`` — all exact integers, trivially hash-stable.

    Scale shape: the merge_intervals gaps-and-islands class — ONE
    shuffle on ``key``; the lag flag, the island cumsum and the final
    groupBy all share the per-key partitioning.
    """
    if min_run < 2:
        raise ValueError(f"min_run={min_run}: expected >= 2")
    t = F.col(order_idx).cast("long")
    v = F.col(value).cast("long")
    w = Window.partitionBy(key).orderBy(t)
    prev_t = F.lag(t).over(w)
    prev_v = F.lag(v).over(w)
    flagged = series.withColumn(
        "_ni",
        # a NULL value (contract violation — the input is an exact
        # integer metric) BREAKS the run rather than silently continuing
        # it: v != prev_v is SQL-NULL around a NULL and would otherwise
        # fall through to otherwise(0), fusing [5, NULL, 5] into one run
        F.when(
            prev_t.isNull()
            | v.isNull()
            | prev_v.isNull()
            | (t != prev_t + 1)
            | (v != prev_v),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "_isl",
        F.sum("_ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(key, "_isl")
        .agg(
            F.min(t).alias("t_start"),
            F.max(t).alias("t_end"),
            F.count("*").alias("n_buckets"),
            F.min(v).alias("v"),
        )
        .filter(F.col("n_buckets") >= min_run)
        .drop("_isl")
    )


def level_shift(
    series: DataFrame,
    key: str = "source",
    order: str = "bucket_start",
    value: str = "s",
    window: int = 12,
    scale_div: float = 100.0,
) -> DataFrame:
    """Step detector per key: at every bucket, the difference between
    the mean of the NEXT ``window`` buckets (current included) and the
    mean of the PREVIOUS ``window`` — the statistic that localizes a
    LEVEL SHIFT (deploy, config flip, fleet resize) to its bucket,
    where ``cusum_drift`` only raises that drift exists somewhere and
    ``ewma_smooth`` deliberately smears the step over its half-life.

    Both frame sums are exact bigint window aggregates; the two
    frame-mean divisions and their difference are the only double ops
    (fixed shape).  Rows whose either frame is shorter than ``window``
    get NULL shift (edges can't support the full contrast).  The peak
    |shift| row per key IS the changepoint estimate under a
    single-step model.

    Scale shape: ONE shuffle on ``key``, two frame-bounded window
    aggregates per row — the ``rolling_zscore`` plan class; no join,
    no fold, no UDF.
    """
    if window < 1:
        raise ValueError(f"window={window}: expected >= 1")
    v = F.col(value).cast("bigint")
    fwd = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.currentRow, window - 1)
    )
    bwd = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(-window, -1)
    )
    d = (
        series.withColumn("_fs", F.sum(v).over(fwd))
        .withColumn("_fn", F.count(v).over(fwd))
        .withColumn("_bs", F.sum(v).over(bwd))
        .withColumn("_bn", F.count(v).over(bwd))
    )
    div = F.lit(float(scale_div))
    shift = F.when(
        (F.col("_fn") == window) & (F.col("_bn") == window),
        (
            F.col("_fs").cast("double") / F.col("_fn").cast("double")
            - F.col("_bs").cast("double") / F.col("_bn").cast("double")
        )
        / div,
    )
    return (
        d.withColumn("shift", F.round(shift, 6))
        .drop("_fs", "_fn", "_bs", "_bn")
    )


def ols_trend(
    series: DataFrame,
    key: str = "source",
    order_idx: str = "t",
    value: str = "s",
    scale_div: float = 100.0,
) -> DataFrame:
    """Per-key least-squares trend slope + intercept over an exact
    integer ``value`` column indexed by integer ``order_idx`` — the
    drift-RATE companion to ``cusum_drift``'s drift alarm (is this
    source's level moving, and how fast per bucket?).

    Exactness: the normal-equation terms (n, Σt, Σv, Σtv, Σt²) are one
    grouped aggregation of bigints, and

        slope     = (n*Σtv - Σt*Σv) / (n*Σt² - (Σt)²)
        intercept = (Σv - slope*Σt) / n

    keeps every numerator/denominator an exact bigint; doubles appear
    only in the two final divisions (identical expression shape in the
    DuckDB twin).  Zero-variance keys (a single bucket) yield NULL
    slope rather than a division error under ANSI.

    Scale shape: ONE partial+final aggregation — the same shuffle class
    as any rollup; no window, no join, no fold.
    """
    t = F.col(order_idx).cast("long")
    v = F.col(value).cast("long")
    g = series.groupBy(key).agg(
        F.count("*").alias("_n"),
        F.sum(t).alias("_st"),
        F.sum(v).alias("_sv"),
        F.sum(t * v).alias("_stv"),
        F.sum(t * t).alias("_stt"),
    )
    n, st, sv, stv, stt = (
        F.col("_n"), F.col("_st"), F.col("_sv"), F.col("_stv"), F.col("_stt")
    )
    den = n * stt - st * st
    slope = F.when(
        den != 0, (n * stv - st * sv).cast("double") / den.cast("double")
    )
    intercept = F.when(
        den != 0,
        (sv.cast("double") - slope * st.cast("double")) / n.cast("double"),
    )
    return g.select(
        key,
        n.alias("n_buckets"),
        F.round(slope / F.lit(float(scale_div)), 6).alias("slope"),
        F.round(intercept / F.lit(float(scale_div)), 6).alias("intercept"),
    )


def theil_sen_slope(
    series: DataFrame,
    key: str = "source",
    order_idx: str = "t",
    value: str = "s",
    max_points: int = 168,
    scale_div: float = 100.0,
) -> DataFrame:
    """Per-key Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes ``(v_j - v_i)/(t_j - t_i)`` over the trailing ``max_points``
    buckets (Theil 1950; Sen 1968).  The ~29%-breakdown companion to
    ``ols_trend``: one bad bucket (a backfill burst, a unit flip) drags
    an OLS slope arbitrarily far, while the slope median doesn't move
    until a third of the window is polluted.

    Input contract matches ``ols_trend``: integer ``order_idx`` (e.g.
    absolute epoch-hour) and an exact integer ``value`` (cents-sums) —
    every pairwise slope is then a bigint-difference ratio, identical
    doubles in any engine, and the median comes from
    ``sorted_percentile`` (== DuckDB ``quantile_cont``).

    Scale shape: a per-key ``row_number`` bounds state to the trailing
    ``max_points`` rows FIRST (the rank window and the groupBy share
    the key partitioning — one shuffle), then the C(n,2) slope array
    (168 points -> 14,028 doubles, a few hundred KB) is generated,
    sorted and median-extracted entirely map-side.  The O(n²) pair set
    is why ``max_points`` is mandatory — Theil–Sen over an unbounded
    history is quadratic no matter the engine.

    Output: (key, n_buckets, n_pairs, slope) — slope in value-units
    (after ``scale_div``) per order_idx step; NULL for single-bucket
    keys (no pair to take a median of).

    ``order_idx`` must be DISTINCT per key (one bucket per index — the
    contract every bucketed producer upstream satisfies).  A violation
    degrades gracefully rather than silently skewing the median:
    equal-index pairs are excluded from the slope set (mirroring the
    oracle's strict ``t_i < t_j``), n_pairs counts only the surviving
    pairs — but the trailing-``max_points`` cutoff ties on the
    duplicate index, so WHICH duplicate survives is not defined.
    """
    if max_points < 2:
        raise ValueError(f"max_points={max_points}: expected >= 2")
    from gents_spark.operators.rollup import sorted_percentile

    wr = Window.partitionBy(key).orderBy(F.col(order_idx).cast("long").desc())
    trail = (
        series.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= max_points)
    )
    g = trail.groupBy(key).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_idx).cast("long").alias("t"),
                    F.col(value).cast("long").alias("v"),
                )
            )
        ).alias("_pts")
    )
    n = F.size("_pts")
    pts = F.col("_pts")
    slopes = F.flatten(
        F.transform(
            F.sequence(F.lit(2), n),
            lambda j: F.transform(
                F.sequence(F.lit(1), j - F.lit(1)),
                # equal-index pairs (a contract violation) yield NULL,
                # not an IEEE Infinity that would sort to the tail and
                # skew the median
                lambda i: F.when(
                    F.element_at(pts, j)["t"] != F.element_at(pts, i)["t"],
                    (
                        F.element_at(pts, j)["v"] - F.element_at(pts, i)["v"]
                    ).cast("double")
                    / (
                        F.element_at(pts, j)["t"] - F.element_at(pts, i)["t"]
                    ).cast("double"),
                ),
            ),
        )
    )
    slopes = F.filter(slopes, lambda x: x.isNotNull())
    # materialize the O(n^2) slope array ONCE as a column — n_pairs and
    # the median would otherwise each embed an independent copy of the
    # flatten/transform/filter tree (HOFs are CodegenFallback and the
    # copies sit in separate CaseWhen branches, so no CSE rescues it).
    # CaseWhen evaluates only the matched branch — the array (whose
    # sequence(2, n) would run BACKWARD for n == 1 and index out of
    # bounds under ANSI) is never built for single-bucket keys.
    g = g.withColumn(
        "_slopes", F.when(n >= 2, F.sort_array(slopes))
    )
    med = sorted_percentile(F.col("_slopes"), 0.5)
    return g.select(
        key,
        n.cast("long").alias("n_buckets"),
        # surviving (strictly-increasing-index) pairs == C(n,2) under
        # the distinctness contract; fewer when it is violated
        F.coalesce(F.size("_slopes"), F.lit(0)).cast("long").alias(
            "n_pairs"
        ),
        F.round(med / F.lit(float(scale_div)), 6).alias("slope"),
    )


def seasonal_baseline(
    series: DataFrame,
    key: str = "source",
    ts: str = "bucket_start",
    value: str = "s",
    scale_div: float = 100.0,
) -> DataFrame:
    """Hour-of-day seasonal profile + residual per key — the additive
    decomposition half the drift screens assume away: a feed with a
    strong daily cycle trips level-based alarms (cusum/zscore) every
    morning unless the expected-by-hour baseline is removed first.

    ``expected`` is the key's exact mean of ``value`` over all rows
    sharing the bucket's hour-of-day (integer sum / count — one double
    division), ``residual = value - expected``.  Both are window
    aggregates over PARTITION BY (key, hod): one shuffle, no join, no
    second pass over raw data (the input is already the hourly tier).
    """
    hod = F.hour(F.col(ts)).alias("hod")
    w = Window.partitionBy(key, "hod")
    div = F.lit(float(scale_div))
    expected = (
        F.sum(value).over(w).cast("double")
        / F.count(value).over(w).cast("double")
    )
    return (
        series.withColumn("hod", hod)
        .withColumn("_exp", expected)
        .withColumn("expected", F.round(F.col("_exp") / div, 6))
        .withColumn(
            "residual",
            F.round(
                (F.col(value).cast("double") - F.col("_exp")) / div, 6
            ),
        )
        .drop("_exp")
    )


def dominant_period(
    series: DataFrame,
    candidate_periods: tuple[int, ...] = (6, 12, 24, 168),
    key: str = "source",
    ts: str = "bucket_start",
    value: str = "s",
    grain_s: int = 3600,
) -> DataFrame:
    """Season-length detector: spectral power of each key's series at a
    small set of CANDIDATE periods (in buckets), argmax = the dominant
    cycle — the input ``seasonal_baseline`` assumes you already know
    (24 for daily, 168 for weekly...).  A Goertzel-style single-bin DFT
    per candidate instead of a full FFT: at 10^12 scale you never want
    the whole spectrum, just 'is it daily or weekly?'.

    power(p) = C² + S² of the MEAN-CENTERED series at frequency 1/p,
    computed without a centering pass: C = Σv·cosθ − (Σv/n)·Σcosθ
    (same for S), so ONE groupBy collects all six sums.  Plan shape:
    map-side explode of |candidates| thin rows per input row, one
    partially-aggregated shuffle on (key, period), then a struct-max
    argmax over |candidates| rows per key — no window, no second scan.

    Float sums make power values order-dependent in the last ulps, so
    this operator is pytest-pinned (vs numpy) rather than hash-oracled;
    the ARGMAX is stable far beyond ulp noise for any real cycle.

    Output: (key, period, power, n_buckets) — the winning candidate.
    """
    if (
        len(candidate_periods) < 1
        or min(candidate_periods) < 2
        or len(set(candidate_periods)) != len(candidate_periods)
    ):
        # duplicates would double a candidate's six sums and quadruple
        # its power, biasing the argmax toward it
        raise ValueError(f"bad candidate_periods: {candidate_periods}")
    two_pi = 6.283185307179586
    p = F.col("_p")
    idx = (F.unix_timestamp(F.col(ts).cast("timestamp"))
           / F.lit(grain_s)).cast("long")
    theta = (
        F.lit(two_pi)
        * F.pmod(F.col("_i"), p).cast("double")
        / p.cast("double")
    )
    v = F.col(value).cast("double")
    # null values would desync the six sums (count/cos/sin include the
    # row, the v-weighted sums skip it) and corrupt the centering
    expanded = series.filter(F.col(value).isNotNull()).select(
        F.col(key),
        v.alias("_v"),
        idx.alias("_i"),
        F.explode(
            F.array(*[F.lit(int(c)) for c in candidate_periods])
        ).alias("_p"),
    ).select(
        key, "_v", "_p",
        F.cos(theta).alias("_c"),
        F.sin(theta).alias("_s"),
    )
    g = expanded.groupBy(key, "_p").agg(
        F.count("*").alias("n"),
        F.sum("_v").alias("sv"),
        F.sum(F.col("_v") * F.col("_c")).alias("svc"),
        F.sum(F.col("_v") * F.col("_s")).alias("svs"),
        F.sum("_c").alias("sc"),
        F.sum("_s").alias("ss"),
    )
    mu = F.col("sv") / F.col("n")
    cc = F.col("svc") - mu * F.col("sc")
    ss = F.col("svs") - mu * F.col("ss")
    scored = g.select(
        key,
        F.col("_p").alias("period"),
        (cc * cc + ss * ss).alias("power"),
        F.col("n").alias("n_buckets"),
    )
    best = scored.groupBy(key).agg(
        F.max(
            F.struct("power", F.col("period").cast("long").alias("period"),
                     "n_buckets")
        ).alias("_b")
    )
    return best.select(
        key,
        F.col("_b.period").alias("period"),
        F.col("_b.power").alias("power"),
        F.col("_b.n_buckets").alias("n_buckets"),
    )


def max_drawdown(
    series: DataFrame,
    key: str = "source",
    order: str = "bucket_start",
    value: str = "s",
) -> DataFrame:
    """Per-key maximum drawdown of the running cumulative sum of an
    exact integer ``value`` column — the classic "largest peak-to-trough
    drop" statistic, here reading a source's cumulative token/volume
    delivery curve: a feed that stalls or starts shedding volume shows
    a growing drawdown long before its total goes negative.  (GenTS has
    no value-level screens; this extends the drift pack — see
    ``cusum_drift`` — with the bounded-loss view.)

    Definition (all exact bigints)::

        cum_t  = sum(value) over rows <= t        (per key, in order)
        peak_t = max(cum) over rows <= t
        dd_t   = peak_t - cum_t                   (>= 0)
        max_drawdown = max_t dd_t

    Returns ONE row per key: ``n_buckets``, ``total`` (final cum),
    ``max_drawdown``, ``trough_bucket`` (the EARLIEST bucket achieving
    the max drawdown — deterministic tie-break), ``peak_cum`` and
    ``trough_cum`` at that bucket.

    Exactness: every statistic is an integer window aggregate; there
    are no divisions at all, so the DuckDB twin hash-matches bit-for-bit.
    The argmax is a single ``max(struct(dd, -t_us, ...))`` — lexicographic
    struct ordering picks the largest drawdown and, among ties, the
    smallest timestamp (largest negated epoch).

    Scale shape: one shuffle on ``key``, two frame-cumulative window
    passes over the (already aggregated, bounded per key) series, then
    a partial-agg groupBy — no fold, no UDF, no self-join.
    """
    ow = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value).cast("long")
    d = (
        series.select(key, order, v.alias("_v"))
        .withColumn("_cum", F.sum("_v").over(ow))
        .withColumn("_peak", F.max("_cum").over(ow))
        .withColumn("_dd", F.col("_peak") - F.col("_cum"))
        .withColumn(
            "_negt", -F.unix_micros(F.col(order).cast("timestamp"))
        )
    )
    best = F.max(
        F.struct(
            F.col("_dd").alias("dd"),
            F.col("_negt").alias("nt"),
            F.col("_peak").alias("pk"),
            F.col("_cum").alias("cm"),
        )
    ).alias("_b")
    out = d.groupBy(key).agg(
        F.count("*").alias("n_buckets"),
        F.sum("_v").alias("total"),
        best,
    )
    return out.select(
        key,
        "n_buckets",
        "total",
        F.col("_b.dd").alias("max_drawdown"),
        F.timestamp_micros(-F.col("_b.nt")).alias("trough_bucket"),
        F.col("_b.pk").alias("peak_cum"),
        F.col("_b.cm").alias("trough_cum"),
    )


def winsorized_stats(
    points: DataFrame,
    key: str = "user_id",
    bucket: str = "day",
    value: str = "value",
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Winsorized mean per (key, bucket): clamp values at the exact
    ``lo_p``/``hi_p`` percentiles, then average — the standard robust
    location estimate metric pipelines publish when a feed's tails are
    untrusted (Tukey 1962; Dixon & Yost 1973).  Where ``mad_outliers``
    FLAGS tail points, this REPORTS the statistic with the tails'
    influence bounded; raw_mean is emitted alongside so the gap between
    the two is itself the outlier-pull diagnostic.

    Shape: ONE groupBy gathers the per-(key, bucket) sorted value
    array (the documented exact-percentile trade — rollup.py
    HOT_BUCKET_LIMIT; pre-bucket or sketch a 10^7-point bucket).  Both
    cut points come from ``sorted_percentile`` (NOTE r05 ADVICE: its
    interpolation shape — (hi-pos)*vlo + (pos-lo)*vhi — can differ
    from ``quantile_cont``'s vlo + (pos-lo)*(vhi-vlo) by one ulp; the
    6 dp rounding absorbs it on every observed bucket, but the two
    are equal-to-rounding, not bitwise); both means are
    LEFT-TO-RIGHT ``F.aggregate``
    folds over the already-sorted array, so the DuckDB twin's ordered
    ``list_reduce`` replays every double op in the same order.  The
    cut points are bound as materialized columns BEFORE the clamp
    lambda (the HOF-CSE trap: an inline expression would re-derive the
    percentile per element).

    Output: (key, bucket, n, p_lo, p_hi, n_clamped_lo, n_clamped_hi,
    raw_mean, winsorized_mean), floats rounded to 6 dp.
    """
    if not (0.0 <= lo_p <= hi_p <= 1.0):
        raise ValueError(f"need 0 <= lo_p <= hi_p <= 1, got {lo_p}, {hi_p}")
    from gents_spark.operators.rollup import sorted_percentile

    sv = F.sort_array(F.collect_list(F.col(value).cast("double")))
    g = (
        points.groupBy(key, bucket)
        .agg(sv.alias("_sv"), F.count("*").alias("n"))
        .withColumn("_lo", sorted_percentile(F.col("_sv"), lo_p))
        .withColumn("_hi", sorted_percentile(F.col("_sv"), hi_p))
    )

    def _fold(arr, f):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + f(x))

    clamp = lambda x: (  # noqa: E731
        F.when(x < F.col("_lo"), F.col("_lo"))
        .when(x > F.col("_hi"), F.col("_hi"))
        .otherwise(x)
    )
    raw_mean = _fold(F.col("_sv"), lambda x: x) / F.col("n").cast("double")
    win_mean = _fold(F.col("_sv"), clamp) / F.col("n").cast("double")
    return g.select(
        key,
        bucket,
        "n",
        F.round("_lo", 6).alias("p_lo"),
        F.round("_hi", 6).alias("p_hi"),
        F.size(
            F.filter(F.col("_sv"), lambda x: x < F.col("_lo"))
        ).alias("n_clamped_lo"),
        F.size(
            F.filter(F.col("_sv"), lambda x: x > F.col("_hi"))
        ).alias("n_clamped_hi"),
        F.round(raw_mean, 6).alias("raw_mean"),
        F.round(win_mean, 6).alias("winsorized_mean"),
    )


def seasonal_naive_error(
    series: DataFrame,
    key: str = "source",
    ts: str = "bucket_start",
    value: str = "s",
    season_lag: int = 24,
    step_s: int = 3600,
    min_pairs: int = 8,
) -> DataFrame:
    """Per-key forecastability census: the mean absolute error of the
    naive forecast (last bucket) vs the SEASONAL naive forecast (same
    bucket one season ago), plus their ratio — the MASE denominator
    pair (Hyndman & Koehler 2006).  ``mase_seasonal < 1`` means the
    daily pattern predicts the feed better than persistence does
    (schedule-driven load); ``>> 1`` means no usable seasonality —
    the triage that decides whether ``seasonal_baseline``'s
    decomposition is even applicable to a source.

    Pairs are TIME-keyed, not row-keyed: each bucket pairs with the
    bucket exactly ``lag*step_s`` older whenever THAT bucket exists —
    a row-lag would additionally demand every intermediate bucket
    present (one hole would erase a whole season of pairs), which is
    the wrong contract for "same bucket one season ago".  Keys with
    fewer than ``min_pairs`` valid pairs on either lag — or a zero
    persistence error (constant feed) — yield NULL ``mase_seasonal``.
    ``series`` must be bucket-unique per key (any rollup output is).

    Exactness: ``value`` must be an exact integer column (cents-sums);
    absolute errors are integer differences summed as DECIMAL(38,0)
    (overflow-safe, order-independent), and the two MAEs and the ratio
    are one fixed-shape double expression each — the ratio cross-
    multiplied from the exact sums (``(sae_s*n_1)/(sae_1*n_s)``), not
    from the rounded MAEs.  DuckDB twin: HUGEINT sums, same shapes.

    Scale shape: two equi self-joins on (key, bucket) over the
    ALREADY-AGGREGATED series (|keys| x |buckets| rows — tiny relative
    to raw), then one grouped aggregation; no window sort over the
    full series, no UDF.  Spark does not reuse an upstream
    aggregation's exchange across a self-join's sides, so callers
    deriving ``series`` from a raw scan should persist it first (the
    ``_hourly_counts`` rule; ``q_seasonal_naive_1h`` does).

    Output: (key, n_pairs_1, mae_naive, n_pairs_season, mae_seasonal,
    mase_seasonal), floats rounded to 6 dp.
    """
    if season_lag < 2:
        raise ValueError(f"season_lag={season_lag}: expected >= 2")
    v = F.col(value).cast("decimal(38,0)")

    def _shifted(lag: int, out: str) -> DataFrame:
        return series.select(
            F.col(key).alias(key),
            (
                F.col(ts)
                + F.expr(f"INTERVAL {lag * step_s} SECONDS")
            ).alias(ts),
            v.alias(out),
        )

    joined = (
        series.select(key, ts, v.alias("_v"))
        .join(_shifted(1, "_v1"), [key, ts], "left")
        .join(_shifted(season_lag, "_vs"), [key, ts], "left")
    )
    pairs = joined.select(
        key,
        F.when(
            F.col("_v1").isNotNull(), F.abs(F.col("_v") - F.col("_v1"))
        ).alias("_e1"),
        F.when(
            F.col("_vs").isNotNull(), F.abs(F.col("_v") - F.col("_vs"))
        ).alias("_es"),
    )
    g = pairs.groupBy(key).agg(
        F.count("_e1").alias("n_pairs_1"),
        F.sum("_e1").alias("_sae1"),
        F.count("_es").alias("n_pairs_season"),
        F.sum("_es").alias("_saes"),
    )
    n1 = F.col("n_pairs_1")
    ns = F.col("n_pairs_season")
    mae1 = F.when(
        n1 > 0, F.col("_sae1").cast("double") / n1.cast("double")
    )
    maes = F.when(
        ns > 0, F.col("_saes").cast("double") / ns.cast("double")
    )
    mase = F.when(
        (n1 >= min_pairs)
        & (ns >= min_pairs)
        & (F.col("_sae1") > 0),
        (F.col("_saes") * n1.cast("decimal(38,0)")).cast("double")
        / (F.col("_sae1") * ns.cast("decimal(38,0)")).cast("double"),
    )
    return g.select(
        key,
        "n_pairs_1",
        F.round(mae1, 6).alias("mae_naive"),
        "n_pairs_season",
        F.round(maes, 6).alias("mae_seasonal"),
        F.round(mase, 6).alias("mase_seasonal"),
    )
