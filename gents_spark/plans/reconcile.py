"""Late-data reconciliation: detect + invalidate stale committed chunks.

The streaming path drops rows that arrive after the watermark
(streaming/rollup_stream.py), and a batch tier store built before a late
file landed is silently stale — in both cases the fix is the same ACTING
path GenTS uses for incomplete outputs (delete-and-rewrite,
``gents/timeseries.py:136-142``): detect the affected units and
invalidate their manifest entries, so the next resumed build rewrites
them.

Detection needs no stored raw data: every committed chunk's manifest row
carries a source fingerprint — ``sum_cnt`` (source rows aggregated into
the chunk) and ``sum_tok`` (their value sum), computed over non-filled
tier rows at write time (plans/manifest.py).  Reconciliation recounts
the CURRENT source per (source, chunk) (one map-side-combined
aggregation over the prepared raw rows, ``source_chunk_stats``) and
compares its per-chunk sums with the manifest, read on the driver:

- fingerprint mismatch  -> late/changed data: append a ``stale`` row per
  affected (tier, chunk); the latest-status rule (manifest.latest_rows)
  then excludes it from the resume skip-set;
- chunk missing from the manifest -> new data: already handled by the
  planned-chunks anti-join, reported here for visibility;
- chunk missing from the source -> shrunk data (deleted input files):
  reported, never auto-deleted.

A changed chunk can also change its neighbours: gap-fill fills from
each real row of a source to its next one, across chunk boundaries, so
a unit's filled rows can carry (locf) or interpolate from (linear) a
real row in another chunk, interpolate toward one (linear), or exist
only because one does.  ``fill_dependent_units`` marks those units too,
from the same per-(source, chunk) first and last event times.

The same statistics, collected by ``collect_sources`` together with
the stale units' written sums, plan every build (``TierPipeline.run``):
the resume recomputes from raw only the sources ``repair_sources``
names from them and copies every other source's rows of the stale units
from the written files.

``TierPipeline.reconcile`` wires this to the pipeline's own ``prepare``
(same validation/filters as the build) so detection sees exactly the
rows a rebuild would.
"""

from __future__ import annotations

import json
import os
import time
from bisect import bisect_left

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from gents_spark.operators.rollup import tier_grain
from gents_spark.plans.manifest import (
    CHUNK_FORMATS,
    DONE,
    STALE,
    _append_manifest_rows,
    chunk_start,
    latest_rows,
    read_manifest,
    shift_chunk,
)


def source_chunk_stats(
    raw: DataFrame, chunk_grain: str = "day", ts_col: str = "event_time"
) -> DataFrame:
    """(source, chunk, src_rows, src_sum, first_s, last_s) from the
    prepared raw rows: per source and chunk, the quantities the writer
    stamps into the manifest per chunk (row count, n_tok sum) and the
    unix seconds of the first and last event.  Keyed on ``date_trunc``
    and formatted after the aggregation, so the string format runs once
    per group, not once per row."""
    ts = F.col(ts_col)
    return (
        raw.groupBy("source", F.date_trunc(chunk_grain, ts).alias("_c"))
        .agg(
            F.count("*").alias("src_rows"),
            F.sum(F.col("n_tok").cast("long")).alias("src_sum"),
            F.unix_seconds(F.min(ts)).alias("first_s"),
            F.unix_seconds(F.max(ts)).alias("last_s"),
        )
        .select(
            "source",
            F.date_format("_c", CHUNK_FORMATS[chunk_grain]).alias("chunk"),
            "src_rows",
            "src_sum",
            "first_s",
            "last_s",
        )
    )


def nests(tier: str) -> bool:
    """Whether ``tier``'s buckets nest in a chunk: a grid that divides a
    day (1m, 1h, 1d, ``<N>s`` dividing 86400) never crosses a day, month
    or year boundary; ``1w`` does."""
    return 86400 % tier_grain(tier)[1] == 0


class SourceChunks:
    """Collected ``source_chunk_stats`` rows, on the driver.

    ``written``: (tier, chunk) -> {source: (rows, n_tok sum)} of the
    non-filled written rows of the units ``collect_sources`` read."""

    def __init__(self, rows, written=None) -> None:
        self.stats = {
            (r["source"], r["chunk"]): (
                r["src_rows"], r["src_sum"], r["first_s"], r["last_s"]
            )
            for r in rows
        }
        self.chunks: dict[str, list[str]] = {}
        for s, c in sorted(self.stats):
            self.chunks.setdefault(s, []).append(c)
        self.written = written or {}

    def span(self) -> list[str]:
        """Every chunk from the first that holds rows to the last: the
        build's chunk plan ([] without rows)."""
        chunks = sorted({c for _, c in self.stats})
        out = chunks[:1]
        while out and out[-1] < chunks[-1]:
            out.append(shift_chunk(out[-1], 1))
        return out

    def bucket_bound(self, tier: str) -> int:
        """The most rows one (source, bucket) of ``tier`` can hold: the
        largest (source, chunk) row count when the tier nests in a
        chunk, else the largest source's row count."""
        if nests(tier):
            return max((v[0] for v in self.stats.values()), default=0)
        return max((sum(self.stats[s, c][0] for c in cs)
                    for s, cs in self.chunks.items()), default=0)

    def fingerprints(self) -> dict[str, tuple[int, int | None]]:
        """chunk -> (rows, n_tok sum) over every source."""
        out: dict[str, tuple[int, int | None]] = {}
        for (_, c), (n, v, _, _) in self.stats.items():
            rows, total = out.get(c, (0, None))
            out[c] = (rows + n, total if v is None else (total or 0) + v)
        return out

    def crossing_fills(
        self, tier: str, chunk: str
    ) -> dict[str, tuple[list[str], list[str]]]:
        """source -> (before, after) for each source whose rows of the
        unit (``tier``, ``chunk``) hold gap-filled buckets that a real
        row outside the chunk starts or ends.  ``before`` lists the
        source's chunks before this one when a fill runs in across the
        chunk's start, ``after`` its chunks after this one when a fill
        runs out across its end; each is empty otherwise.

        Gap-fill fills from each real row of a source to its next one,
        so such a fill exists exactly when the source has rows beyond
        that boundary and its first (last) bucket in the chunk is not
        the chunk's first (last), or when it has no rows in the chunk
        but rows on both sides.  ``tier`` must nest in a chunk."""
        w = tier_grain(tier)[1]
        lo = int(chunk_start(chunk).timestamp())
        hi = int(chunk_start(shift_chunk(chunk, 1)).timestamp())
        out = {}
        for s, chunks in self.chunks.items():
            i = bisect_left(chunks, chunk)
            mine = self.stats.get((s, chunk))
            before, after = chunks[:i], chunks[i + (mine is not None):]
            if mine is None:
                head = tail = bool(before and after)
            else:
                head = bool(before) and mine[2] // w * w > lo
                tail = bool(after) and mine[3] // w * w < hi - w
            if head or tail:
                out[s] = (before if head else [], after if tail else [])
        return out


def detect_stale_chunks(
    spark: SparkSession,
    raw: DataFrame,
    manifest_dir: str,
    chunk_grain: str = "day",
    sources: SourceChunks | None = None,
) -> dict:
    """Compare the current source against committed manifest fingerprints.

    ``sources``: the collected ``source_chunk_stats`` of ``raw``, when
    the caller already has them (else one aggregation over ``raw``).

    Returns
    ``{"stale": [(tier, chunk), ...], "new": [chunk, ...],
       "orphaned": [(tier, chunk), ...]}``.
    """
    committed = {
        u: (r["sum_cnt"], r["sum_tok"])
        for u, r in latest_rows(read_manifest(manifest_dir)).items()
        if r["status"] == DONE
    }
    if sources is None:
        sources = collect_sources(spark, raw, chunk_grain)
    src = sources.fingerprints()
    return {
        "stale": sorted(
            u for u, fp in committed.items() if u[1] in src and fp != src[u[1]]
        ),
        "new": sorted(set(src) - {c for _, c in committed}),
        "orphaned": sorted(u for u in committed if u[1] not in src),
    }


def fill_dependent_units(
    sources: SourceChunks,
    latest: dict[tuple[str, str], dict],
    report: dict,
    mode: str,
) -> list[tuple[str, str]]:
    """Done units outside ``report["stale"]`` whose gap-filled rows a
    stale or new chunk's rows start, end or shape (``crossing_fills``).

    A fill that runs into a unit across its start carries (locf) or
    interpolates from (linear) the source's last real row before it,
    and one that runs out across its end interpolates toward (linear)
    the source's next real row: the unit depends on the NEAREST chunk
    holding rows on that side.  Whether such a fill exists at all
    depends on ANY chunk on that side holding rows, which is all a
    zero fill, and a locf fill's end, depend on.  Rows removed from a
    source's ends are not followed."""
    stale = set(report["stale"])
    new = set(report["new"])

    def moved(t: str, chunks: list[str]) -> bool:
        return all((t, c) in stale or c in new for c in chunks)

    out = []
    for (t, d), r in latest.items():
        if r["status"] != DONE or (t, d) in stale:
            continue
        if not nests(t):
            if any(moved(t, [shift_chunk(d, k)]) for k in (-1, 1)):
                out.append((t, d))
            continue
        for before, after in sources.crossing_fills(t, d).values():
            if (
                before
                and moved(t, before[-1:] if mode != "zero" else before)
            ) or (
                after and moved(t, after[:1] if mode == "linear" else after)
            ):
                out.append((t, d))
                break
    return sorted(out)


def read_units(
    spark: SparkSession, tiers_dir: str, units, schema=None
) -> DataFrame | None:
    """The written rows of ``units`` (``tier``/``chunk`` as strings), or
    None when none of them has files.  ``schema`` (without ``chunk``)
    reads them with another frame's column types; by default they are
    read with the schema the writer recorded in a file footer, read on
    the driver (Spark's own inference would start a job)."""
    paths = sorted(
        p
        for p in (
            os.path.join(tiers_dir, f"tier={t}", f"chunk={c}")
            for t, c in units
        )
        if os.path.isdir(p)
    )
    if not paths:
        return None
    if schema is None:
        first = next(os.path.join(p, n) for p in paths
                     for n in sorted(os.listdir(p)) if n.endswith(".parquet"))
        meta = pq.read_schema(first).metadata
        schema = StructType.fromJson(json.loads(
            meta[b"org.apache.spark.sql.parquet.row.metadata"]
        ))
    reader = spark.read.option("basePath", tiers_dir).schema(
        StructType([*schema.fields, StructField("chunk", StringType())])
    )
    return reader.parquet(*paths).withColumn(
        "tier", F.col("tier").cast("string")
    ).withColumn("chunk", F.col("chunk").cast("string"))


def collect_sources(
    spark: SparkSession,
    raw: DataFrame,
    chunk_grain: str = "day",
    tiers_dir: str | None = None,
    units=(),
) -> SourceChunks:
    """``source_chunk_stats`` of ``raw`` on the driver, and with
    ``units`` the non-filled (sum cnt, sum sum_tok) per (tier, source,
    chunk) of those units' written files (``SourceChunks.written``):
    one Spark job."""
    both = source_chunk_stats(raw, chunk_grain).withColumn(
        "tier", F.lit(None).cast("string")
    )
    written = read_units(spark, tiers_dir, units) if units else None
    if written is not None:
        real = ~F.col("filled")
        both = both.unionByName(
            written.groupBy("tier", "source", "chunk").agg(
                F.sum(F.when(real, F.col("cnt"))).cast("long").alias(
                    "src_rows"
                ),
                F.sum(F.when(real, F.col("sum_tok"))).cast("long").alias(
                    "src_sum"
                ),
            ),
            allowMissingColumns=True,
        )
    rows = both.collect()
    by_unit: dict[tuple[str, str], dict[str, tuple[int, int]]] = {}
    for r in rows:
        if r["tier"] is not None:
            by_unit.setdefault((r["tier"], r["chunk"]), {})[r["source"]] = (
                r["src_rows"] or 0, r["src_sum"] or 0
            )
    return SourceChunks((r for r in rows if r["tier"] is None), by_unit)


def repair_sources(
    sources: SourceChunks, units: list[tuple[str, str]]
) -> list[str] | None:
    """The sources a repair of the stale ``units`` must recompute from
    raw, or None when that is every source of ``sources``.

    Decided per unit, from the unit's own files (``sources.written``,
    read by ``collect_sources``): a source whose raw fingerprint (rows,
    n_tok sum) in the unit's chunk differs from the non-filled (sum cnt,
    sum sum_tok) of its written rows there changed (a source missing on
    either side counts as changed).  A source with a fill across the
    unit's boundary (``crossing_fills``) is taken too: its fill depends
    on rows outside the unit, which an interrupted earlier repair may
    already have rewritten.  Every tier of ``units`` must nest in a
    chunk."""
    now: dict[str, dict[str, tuple[int, int]]] = {}
    for (s, c), (n, v, _, _) in sources.stats.items():
        now.setdefault(c, {})[s] = (n, v or 0)
    changed: set[str] = set()
    for t, c in units:
        was, fresh = sources.written.get((t, c), {}), now.get(c, {})
        changed |= {s for s in was.keys() | fresh.keys()
                    if was.get(s) != fresh.get(s)}
        changed |= sources.crossing_fills(t, c).keys()
    return None if changed >= sources.chunks.keys() else sorted(changed)


def invalidate_chunks(
    manifest_dir: str,
    units: list[tuple[str, str]],
    run_id: str,
    command: str | None = None,
) -> int:
    """Append a ``stale`` manifest row per (tier, chunk) — the acting
    invalidation: the latest-status rule drops them from the resume
    skip-set, so the next build rewrites them (dynamic partition
    overwrite replaces the chunk dir atomically)."""
    if not units:
        return 0
    from gents_spark import __version__

    now = time.time()
    rows = [
        (run_id, t, c, STALE, None, None, None, now, command, __version__)
        for t, c in units
    ]
    _append_manifest_rows(manifest_dir, rows)
    return len(rows)
