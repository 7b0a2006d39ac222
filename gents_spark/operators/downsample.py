"""Visual-fidelity downsampling: M4 and LTTB.

GenTS's tiered output (coarser slices re-generated from finer data,
``gents/timeseries.py:392-430``) answers "store less, keep the shape".
The two published answers for *plot-shaped* reduction are implemented
here on DataFrames:

- **M4** (Jugel et al., VLDB 2014): per pixel-column time bucket keep
  the first, last, min and max points — the exact set needed for a
  pixel-perfect line rendering.  Two chained HASH aggregations on
  (series, bucket) — extremes first, then the paired coordinates via
  conditional aggregates against the broadcast extremes (min_by/max_by
  with STRUCT ordering keys are not hash-aggregable, so the one-pass
  form sort-aggregated the whole input; r06).  Fully SQL-expressible,
  scales like any groupBy.

- **LTTB** (Steinarsson 2013, "largest triangle three buckets"): picks
  per bucket the point maximizing the triangle area with the previously
  SELECTED point and the next bucket's centroid.  The selection is a
  sequential chain, so it has no direct relational form; it runs as a
  vectorized NumPy pass per series via ``applyInPandas`` — parallel
  across series, O(n) within one.  (For a FIXED small ``n_out`` the
  chain unrolls into n_out-2 CTE steps — that is how the driver-gate
  DuckDB oracle checks it bitwise; see
  ``driver_queries._lttb_oracle_sql``.)  A single giant series would use
  two-level LTTB (chunk-partial then final over ~n_out*chunks points),
  noted below, not implemented until a caller needs it.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType


def m4(
    points: DataFrame,
    series: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    n_buckets: int = 64,
) -> DataFrame:
    """M4 aggregation: (series, bucket) -> first/last/min/max points.

    Buckets split the GLOBAL [min ts, max ts] span into ``n_buckets``
    equal-width cells (the pixel columns).  The span comes from a
    broadcast 1-row bounds aggregate — a metadata-scale subplan, not a
    driver collect, so the whole thing stays one lazy DataFrame.

    Tie rules (pinned so the SQL oracle matches bit-for-bit):
    t_min/t_max take the EARLIEST ts among equal values; v_first/v_last
    take the SMALLEST value among equal timestamps.

    Physical shape (r06): the one-pass min_by/max_by(x, struct(...))
    formulation kept the SAME tie rules but struct ordering keys are
    not hash-aggregable, so Catalyst planned a SortAggregate — a full
    sort of the input on (series, bucket) (measured 3.5s of the 3.5s
    query at sf1.0).  Instead: pass 1 hash-aggregates the per-bucket
    EXTREMES (min/max ts and value — all atomic buffers), pass 2
    re-scans the input, broadcast-joins the tiny extremes table and
    hash-aggregates the paired coordinates as conditional min/max
    (rows at ts == t_first etc.), which encodes the identical tie
    rules: v_first = min(v | ts = min ts), v_last = max(v | ts = max
    ts), t_min = min(ts | v = min v), t_max = min(ts | v = max v).
    Two hash aggs + one broadcast replace the global sort; both
    passes prune to the 3 needed columns.

    A ``ts`` column that is neither a timestamp nor a date (e.g. a
    string) is cast to timestamp once up front, so the bounds and the
    t_* outputs are times, not strings compared lexically.
    """
    if not isinstance(
        points.schema[ts].dataType, (TimestampType, TimestampNTZType, DateType)
    ):
        points = points.withColumn(ts, F.col(ts).cast("timestamp"))
    us = F.unix_micros(F.col(ts).cast("timestamp"))  # NTZ-safe
    # min/max over the RAW ts column (unix_micros applied after): a
    # plain-column min/max is eligible for parquet aggregate pushdown
    # (row-group statistics, no data read), where min(f(ts)) is not —
    # unix_micros∘cast is monotonic, so the values are identical (r06)
    bounds = points.agg(
        F.min(ts).alias("_rt0"), F.max(ts).alias("_rt1")
    ).select(
        F.unix_micros(F.col("_rt0").cast("timestamp")).alias("_t0"),
        F.unix_micros(F.col("_rt1").cast("timestamp")).alias("_t1"),
    )
    b = points.crossJoin(F.broadcast(bounds))
    # span+1 so the max point lands in bucket n_buckets-1, not n_buckets
    bucket = F.floor(
        (us - F.col("_t0")) * n_buckets / (F.col("_t1") - F.col("_t0") + 1)
    ).cast("bigint")
    v, t = F.col(value), F.col(ts)
    keyed = b.withColumn("bucket", bucket).select(
        F.col(series), F.col("bucket"), t.alias("_ts"), v.alias("_v")
    )
    ext = keyed.groupBy(series, "bucket").agg(
        F.min("_ts").alias("_tmin"),
        F.max("_ts").alias("_tmax"),
        F.min("_v").alias("_vmin"),
        F.max("_v").alias("_vmax"),
        F.count("*").alias("n_points"),
    )
    ts_, v_ = F.col("_ts"), F.col("_v")
    paired = (
        keyed.join(F.broadcast(ext), [series, "bucket"])
        .groupBy(series, "bucket")
        .agg(
            F.min(F.when(ts_ == F.col("_tmin"), v_)).alias("v_first"),
            F.max(F.when(ts_ == F.col("_tmax"), v_)).alias("v_last"),
            F.min(F.when(v_ == F.col("_vmin"), ts_)).alias("t_min"),
            F.min(F.when(v_ == F.col("_vmax"), ts_)).alias("t_max"),
            F.first("_tmin").alias("t_first"),
            F.first("_tmax").alias("t_last"),
            F.first("_vmin").alias("v_min"),
            F.first("_vmax").alias("v_max"),
            F.first("n_points").alias("n_points"),
        )
    )
    return paired.select(
        series, "bucket", "t_first", "v_first", "t_last", "v_last",
        "t_min", "v_min", "t_max", "v_max", "n_points",
    )


def _lttb_series(ts_us, vals, n_out):
    """NumPy LTTB over one sorted series; returns selected row indices."""
    import numpy as np

    n = len(ts_us)
    if n <= n_out:
        return np.arange(n)
    # bucket edges over the interior points (first/last always kept)
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    sel = np.empty(n_out, dtype=np.int64)
    sel[0] = 0
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        nlo, nhi = hi, (n - 1 if i == n_out - 3 else edges[i + 2])
        # centroid of the NEXT bucket (the "third point").  The sum is
        # cumsum[-1] — a guaranteed LEFT-TO-RIGHT float fold — rather
        # than .mean()'s pairwise summation, so the SQL oracle can
        # reproduce it bitwise with an ordered list_reduce (the
        # driver-gate hash compares doubles exactly; pairwise partial
        # sums diverge in ulp for buckets >= 8 elements).
        if nhi > nlo:
            k = nhi - nlo
            cx = np.cumsum(ts_us[nlo:nhi])[-1] / k
            cy = np.cumsum(vals[nlo:nhi])[-1] / k
        else:
            cx, cy = ts_us[n - 1], vals[n - 1]
        bx, by = ts_us[lo:hi], vals[lo:hi]
        area = np.abs(
            (ts_us[a] - cx) * (by - vals[a]) - (ts_us[a] - bx) * (cy - vals[a])
        )
        a = lo + int(np.argmax(area))
        sel[i + 1] = a
    sel[n_out - 1] = n - 1
    return sel


def lttb(
    points: DataFrame,
    series: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    n_out: int = 64,
    chunk_s: int | None = None,
) -> DataFrame:
    """LTTB downsample to <= ``n_out`` points per series.

    ``applyInPandas`` groups by series — Arrow-batched, vectorized
    NumPy inside, no per-row Python.  Output rows are a SUBSET of the
    input rows (LTTB selects, never synthesizes), first and last points
    always kept — properties pinned by tests/test_sessions_downsample.py.

    ``chunk_s``: the giant-series scale path — TWO-LEVEL LTTB.  Level 1
    runs per (series, chunk_s-wide time chunk), so a series with
    billions of points fans out over many tasks instead of one; level 2
    re-selects ``n_out`` from the <= n_out * n_chunks level-1 survivors
    (one small task per series).  Endpoints survive both levels (a
    global endpoint is its chunk's endpoint).  The two-level result is
    an approximation of single-level LTTB — standard for streaming/
    partitioned LTTB — with the same visual-dominance behavior.
    """
    import numpy as np

    out_schema = points.select(series, ts, value).schema

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        t_us = pdf[ts].astype("int64").to_numpy(dtype=np.float64)
        v = pdf[value].to_numpy(dtype=np.float64)
        idx = _lttb_series(t_us, v, n_out)
        return pdf.iloc[idx][[series, ts, value]]

    base = points.select(series, ts, value)
    if chunk_s is not None:
        chunk = F.floor(
            F.unix_micros(F.col(ts).cast("timestamp"))
            / (chunk_s * 1_000_000)
        ).alias("_chunk")

        def one_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            return one(pdf.drop(columns=["_chunk"]))

        base = (
            base.select(series, ts, value, chunk)
            .groupBy(series, "_chunk")
            .applyInPandas(one_chunk, schema=out_schema)
        )
    return base.groupBy(series).applyInPandas(one, schema=out_schema)


def sax_words(
    hourly: DataFrame,
    breakpoints: tuple[int, ...] = (2500, 5000, 7500),
    key: str = "source",
    day: str = "day",
    idx: str = "hour",
    s: str = "s",
    n: str = "n",
) -> DataFrame:
    """SAX symbolization (Lin et al. 2003, "A Symbolic Representation
    of Time Series"): each key's day becomes a WORD — one symbol per
    hour, the symbol chosen by where the hour's mean sits between the
    breakpoints — turning shape search over raw series into string
    operations (motif mining, grep-able anomaly patterns, dedup of
    recurring daily shapes).  The PAA step of the published method is
    the engine's own hourly tier (mean = s/n per bucket).

    Exactness discipline: the mean is never materialized as a float —
    symbol rank = SUM of exact integer comparisons ``s >= b*n`` (one
    per breakpoint, monotone thresholds), so a mean landing exactly on
    a breakpoint has one deterministic side in every engine.
    ``breakpoints`` are fixed literals in mean-value units (cents); a
    production deployment calibrates them from percentiles (documented
    choice — Lin's Gaussian breakpoints assume z-normalized input).

    Input: (key, day, idx, s=sum-of-cents, n=count) aggregated rows —
    i.e. any tier table.  Output: (key, day, word, n_hours).  Scale
    shape: one groupBy over ALREADY-AGGREGATED hourly rows; the word
    build is a sorted-array transform inside the aggregate — bounded
    by 24 symbols per group, never raw rows.
    """
    if any(a >= b for a, b in zip(breakpoints, breakpoints[1:])):
        # STRICTLY ascending: a duplicate breakpoint would silently
        # make one symbol unreachable (rank skips it)
        raise ValueError(
            f"breakpoints not strictly ascending: {breakpoints}"
        )
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    if len(breakpoints) + 1 > len(alphabet):
        raise ValueError("too many breakpoints")
    rank = sum(
        (F.col(s) >= F.lit(int(b)) * F.col(n)).cast("int")
        for b in breakpoints
    )
    # substring with a COLUMN start: substr(literal alphabet, rank+1, 1)
    sym = F.expr(
        f"substr('{alphabet[: len(breakpoints) + 1]}', _rank + 1, 1)"
    )
    ranked = hourly.select(
        F.col(key).alias(key),
        F.col(day).alias(day),
        F.col(idx).alias("_idx"),
        rank.alias("_rank"),
    ).withColumn("_sym", sym)
    return ranked.groupBy(key, day).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_sym"))),
                lambda x: x["_sym"],
            ),
            "",
        ).alias("word"),
        F.count("*").alias("n_hours"),
    )
