"""Pandas oracle: independent reimplementation of rollup / gap-fill.

The analog of GenTS's element-wise source-vs-output equality checks
(``gents/tests/test_workflow.py:39-60``): the oracle recomputes every
tier point in pandas/NumPy with the same definitions (calendar-aligned
tumbling buckets, exact linear-interpolation percentiles) and the tests
assert EXACT equality against the Spark engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

UNIT_FREQ = {"1m": "min", "1h": "h", "1d": "D"}


def exact_percentile(values, p: float) -> float:
    """Exact linear-interpolation percentile, Spark/Hive formula.

    pos = p*(n-1); result = (ceil(pos)-pos)*v[lo] + (pos-floor(pos))*v[hi]
    — the weighted form Spark's Percentile expression evaluates.  (NumPy's
    np.percentile lerp is an ULP-different formula, so the oracle
    reimplements the definition rather than calling np.percentile.)
    """
    v = np.sort(np.asarray(values, dtype=float))
    pos = p * (len(v) - 1)
    lo = int(np.floor(pos))
    hi = int(np.ceil(pos))
    if lo == hi:
        return float(v[lo])
    return float((hi - pos) * v[lo] + (pos - lo) * v[hi])


def oracle_rollup(pdf: pd.DataFrame, tier: str, value_col: str = "n_tok") -> pd.DataFrame:
    """Expected tier table from raw rows (event_time, source, value)."""
    freq = UNIT_FREQ[tier]
    g = pdf.assign(bucket_start=pdf["event_time"].dt.floor(freq)).groupby(
        ["source", "bucket_start"], as_index=False
    )[value_col]
    out = g.agg(
        cnt="count",
        sum_tok="sum",
        min_tok="min",
        max_tok="max",
        p50_tok=lambda s: exact_percentile(s, 0.5),
        p95_tok=lambda s: exact_percentile(s, 0.95),
        p99_tok=lambda s: exact_percentile(s, 0.99),
    )
    return out.sort_values(["source", "bucket_start"]).reset_index(drop=True)


def oracle_gapfill_locf(tiers: pd.DataFrame, tier: str, cols: list[str]) -> pd.DataFrame:
    """Expected LOCF-filled table from a (possibly gappy) tier table."""
    freq = UNIT_FREQ[tier]
    frames = []
    for src, g in tiers.groupby("source"):
        g = g.set_index("bucket_start").sort_index()
        spine = pd.date_range(g.index.min(), g.index.max(), freq=freq)
        r = g.reindex(spine)
        r["filled"] = r["cnt"].isna()
        r[cols] = r[cols].ffill()
        r["source"] = src
        frames.append(r.rename_axis("bucket_start").reset_index())
    return (
        pd.concat(frames)
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )


def oracle_gapfill_linear(tiers: pd.DataFrame, tier: str, cols: list[str]) -> pd.DataFrame:
    """Expected linear-filled table from a (possibly gappy) tier table.

    Each missing bucket ``ts`` between known buckets ``t`` < ``ts`` <
    ``t_next`` (values ``v``, ``v_next``) gets
    ``v + (v_next - v) * ((ts - t) / (t_next - t))`` in float64, with
    times in epoch seconds — the engine's arithmetic order
    (``ts - t == k * step``), so equality is exact.  Known rows keep
    their values, cast to float64.
    """
    freq = UNIT_FREQ[tier]
    frames = []
    for src, g in tiers.groupby("source"):
        g = g.set_index("bucket_start").sort_index()
        spine = pd.date_range(g.index.min(), g.index.max(), freq=freq)
        r = g.reindex(spine)
        r["filled"] = r["cnt"].isna()
        secs = pd.Series(
            (spine - pd.Timestamp(0)) // pd.Timedelta(seconds=1), index=spine
        )
        known_secs = secs.where(~r["filled"])
        t_prev = known_secs.ffill()
        t_next = known_secs.bfill()
        frac = (secs - t_prev) / (t_next - t_prev)
        for c in cols:
            known = r[c].astype("float64")
            v, v_next = known.ffill(), known.bfill()
            r[c] = known.where(~r["filled"], v + (v_next - v) * frac)
        r["source"] = src
        frames.append(r.rename_axis("bucket_start").reset_index())
    return (
        pd.concat(frames)
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
