"""Retention expiry: drop raw/fine tiers past their retention window (M2).

GenTS has no retention (outputs live forever); north_rule requires tiered
expiry — the classic downsampling contract: finer tiers are only kept for
a bounded trailing window, coarser tiers longer.  "Generate before you
delete": a tier chunk may only be expired once every coarser tier
covering it is committed in the manifest (GenTS's integrity mindset,
``gents/timeseries.py:136-142``).

On Iceberg this is ``DELETE FROM tiers WHERE tier=... AND bucket_end <
cutoff`` + ``expire_snapshots``; on the parquet sandbox layout
(tier=X/chunk=YYYY-MM-DD) it is partition-directory removal — pure
metadata, no data rewrite, which is the property that matters at 100 TB.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

from pyspark.sql import SparkSession

from gents_spark.plans.manifest import (
    DONE,
    EXPIRED,
    chunk_start,
    latest_rows,
    read_manifest,
    shift_chunk,
)

#: default retention horizon per tier (days of bucket age)
DEFAULT_RETENTION_DAYS = {"raw": 7, "1m": 30, "1h": 365, "1d": 36500}


def _grain_step(tier: str) -> int:
    """Bucket width in seconds; 'raw' sorts below every real grain."""
    if tier == "raw":
        return 0
    from gents_spark.operators.rollup import tier_grain

    return tier_grain(tier)[1]


def _split_by_grain(
    done: set[tuple[str, str]], tier: str
) -> tuple[list[str], list[str]]:
    """(coarser, finer) committed tiers relative to ``tier``, by GRAIN
    WIDTH — consumed by both retention gates.  Generalizes the old fixed
    raw->1m->1h->1d chain to custom ``<N>s`` grains.

    Cover semantics (enforced in ``expirable_chunks``): a chunk may
    expire once ANY committed coarser tier covers it.  Deliberate
    tradeoff vs the old nearest-coarser chain: a PARTIAL intermediate
    tier cannot block expiry a complete coarser cover justifies — the
    price is that an intermediate tier's missing chunk can no longer be
    backfilled from the expired finer data (only from whatever finer
    tiers survive).  The COARSEST committed tier has no cover; it
    expires per-chunk wherever a FINER committed chunk can rebuild it,
    so a single-tier deployment (or a top-tier chunk whose finer copies
    were themselves already expired) never deletes the last copy."""
    step = _grain_step(tier)
    present = sorted({t for t, _ in done})
    return (
        [t for t in present if _grain_step(t) > step],
        [t for t in present if _grain_step(t) < step],
    )


def expirable_chunks(
    spark: SparkSession,
    manifest_dir: str,
    tier: str,
    cutoff_date: str,
) -> list[str]:
    """Chunks fully older than cutoff whose coarser tier is committed.

    A chunk is expirable only when its entire covered range lies strictly
    before the cutoff: lexicographic ``chunk < cutoff`` over-deletes for
    coarse grains ('2026-01' < '2026-01-15' would expire the whole month,
    including buckets after the 15th).  The chunk's grain is recovered
    from its key length (10=day, 7=month, 4=year) and its exclusive end
    date compared to the cutoff instead.  Reads the manifest on the
    driver: no Spark job.
    """
    # latest-status rule: a chunk invalidated by reconciliation (stale)
    # is NOT done — neither expirable itself nor valid coarser cover
    done = {
        u
        for u, r in latest_rows(read_manifest(manifest_dir)).items()
        if r["status"] == DONE
    }
    cutoff = datetime.strptime(cutoff_date, "%Y-%m-%d").date()
    coarser, finer = _split_by_grain(done, tier)
    if coarser:
        gate_tiers = coarser  # 'generate before you delete'
    elif finer:
        # coarsest committed tier: expirable per-chunk wherever a finer
        # committed chunk can REBUILD it (expired finer chunks carry
        # status='expired' and no longer count)
        gate_tiers = finer
    else:
        # single-tier deployment: the only copy of the data never
        # expires ('generate before you delete' has nowhere to point)
        return []
    covered = {c for t, c in done if t in gate_tiers}
    return sorted(
        c
        for t, c in done
        if t == tier
        and c in covered
        and chunk_start(shift_chunk(c, 1)).date() <= cutoff
    )


def expire(
    spark: SparkSession,
    tiers_dir: str,
    manifest_dir: str,
    tier: str,
    cutoff_date: str,
) -> list[str]:
    """Remove expired chunk partitions; returns removed chunk keys.

    Every removal lands as a ``status='expired'`` manifest row, so the
    latest-status view stops counting the chunk as a resume skip, a
    coarser cover, or top-tier rebuild evidence — without it, a later
    ``--retention`` on the coarsest tier would see the long-gone finer
    chunks as 'done' and delete the LAST copy of that range."""
    datetime.strptime(cutoff_date, "%Y-%m-%d")  # validate
    removed = []
    for chunk in expirable_chunks(spark, manifest_dir, tier, cutoff_date):
        path = os.path.join(tiers_dir, f"tier={tier}", f"chunk={chunk}")
        if os.path.isdir(path):
            shutil.rmtree(path)
            removed.append(chunk)
    if removed:
        import time

        from gents_spark import __version__
        from gents_spark.plans.manifest import _append_manifest_rows

        now = time.time()
        _append_manifest_rows(
            manifest_dir,
            [
                (f"expire-{int(now)}", tier, c, EXPIRED, 0, None, None,
                 now, f"expire {tier}<{cutoff_date}", __version__)
                for c in removed
            ],
        )
    return removed
