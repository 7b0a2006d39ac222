"""End-to-end tier pipeline: ingest -> raw agg -> gap-fill -> payloads ->
checkpointed writes -> cascade -> retention (SURVEY.md §3.4 lifecycle).

The GenTS lifecycle (``gents/cli.py:121-206``: discover -> filter -> slice
-> plan orders -> parallel execute with integrity-skip) becomes a sequence
of DataFrame jobs with a manifest checkpoint between tiers.
"""

from __future__ import annotations

import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gents_spark.operators.gapfill import gapfill
from gents_spark.operators.rollup import TIER_ORDER, rollup
from gents_spark.operators.skew import hot_sources, salted_rollup
from gents_spark.plans.manifest import write_tiers_combined
from gents_spark.timeparse import (
    split_modal_fingerprint,
    split_valid,
    with_event_time,
)


class TierPipeline:
    """Configured run over one sequences table.

    Parameters mirror the GenTS fluent surface (include/exclude sources ~
    ``HFCollection.include/exclude``, hfcollection.py:784-835; tier list ~
    slice config; resume ~ integrity skip).
    """

    def __init__(
        self,
        spark: SparkSession,
        step_s: int = 10,
        tiers: list[str] | None = None,
        gapfill_mode: str | None = "locf",
        include_sources: list[str] | None = None,
        exclude_sources: list[str] | None = None,
        salt_threshold_frac: float = 0.25,
        n_salt: int = 16,
        payloads: str | None = "coarse",
        validate: bool = True,
        use_salting: bool = False,
        chunk_grain: str = "day",
        compression: str = "snappy",
        percentile_mode: str = "exact",
        modal_quarantine: bool = False,
        store_sketches: bool = False,
        store_distinct: bool = False,
    ):
        if payloads not in (None, "coarse", "all"):
            raise ValueError("payloads must be None, 'coarse', or 'all'")
        self.spark = spark
        self.step_s = step_s
        self.tiers = tiers or TIER_ORDER
        self.gapfill_mode = gapfill_mode
        self.include_sources = include_sources
        self.exclude_sources = exclude_sources
        self.salt_threshold_frac = salt_threshold_frac
        self.n_salt = n_salt
        self.payloads = payloads
        self.validate = validate
        self.use_salting = use_salting
        self.chunk_grain = chunk_grain
        self.compression = compression
        self.percentile_mode = percentile_mode
        self.modal_quarantine = modal_quarantine
        self.store_sketches = store_sketches
        self.store_distinct = store_distinct

    def prepare(self, sequences: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Validate + filter + derive event_time. Returns (raw, quarantined).

        ``validate=False`` skips the per-row ``n_tok == size(tokens)``
        check: that predicate forces every downstream scan to decode the
        full ``tokens`` arrays (the widest column by far), turning a
        3-column pruned read into a whole-table read.  The GenTS model is
        the same — validity is checked once at metadata pull
        (``hfcollection.py:744-766``), not on every access; run a
        validated-ingest job once, then build tiers with validate=False.
        """
        if self.validate:
            valid, bad = split_valid(sequences)
        else:
            valid = sequences
            bad = sequences.limit(0)
        if self.modal_quarantine:
            # F7 as an engine op: drop structural-fingerprint outliers
            # per source when a strict-majority fingerprint exists
            # (GenTS filter_by_variables, hfcollection.py:349-355)
            valid, fp_out = split_modal_fingerprint(valid)
            bad = bad.unionByName(fp_out)
        if self.include_sources:
            valid = valid.filter(F.col("source").isin(self.include_sources))
        if self.exclude_sources:
            valid = valid.filter(~F.col("source").isin(self.exclude_sources))
        # doc_id is kept only when something consumes it: the salted
        # path (it seeds the deterministic salt, computed map-side
        # before any shuffle) and the distinct-doc sketch column.
        # Otherwise it is pruned — it is the widest narrow column and
        # every byte rides the build's one big exchange.
        cols = ["source", "event_time", "n_tok"]
        if self.use_salting or self.store_distinct:
            cols = ["doc_id", *cols]
        raw = with_event_time(valid, step_s=self.step_s).select(*cols)
        return raw, bad

    def reconcile(
        self,
        sequences: DataFrame,
        out_dir: str,
        run_id: str | None = None,
        command: str | None = None,
    ) -> dict:
        """Automatic late-data reconciliation (round-2 VERDICT #5).

        Recounts the CURRENT source per chunk (same prepare() path as a
        build), compares against each committed chunk's manifest
        fingerprint, and appends ``stale`` rows for every (tier, chunk)
        whose source changed — post-watermark stream drops, late files,
        backfills.  A following ``run(..., resume=True)`` then rewrites
        exactly the invalidated chunks (GenTS's delete-and-rewrite of
        incomplete outputs, ``gents/timeseries.py:136-142``, as an
        acting path).  Returns the detection report plus
        ``n_invalidated``.
        """
        import uuid as _uuid

        from gents_spark.plans.reconcile import (
            detect_stale_chunks,
            invalidate_chunks,
        )

        run_id = run_id or ("reconcile-" + _uuid.uuid4().hex[:8])
        manifest_dir = os.path.join(out_dir, "manifest")
        raw, _bad = self.prepare(sequences)
        report = detect_stale_chunks(
            self.spark, raw, manifest_dir, chunk_grain=self.chunk_grain
        )
        report["n_invalidated"] = invalidate_chunks(
            manifest_dir, report["stale"], run_id, command=command
        )
        return report

    def _planned_chunks(self, raw: DataFrame) -> list[str]:
        """All checkpoint chunks the raw time range touches."""
        from datetime import timedelta

        from gents_spark.plans.manifest import CHUNK_FORMATS

        lo, hi = raw.agg(
            F.min("event_time"), F.max("event_time")
        ).collect()[0]
        if lo is None:
            # Empty prepared input (all rows quarantined or filtered out):
            # nothing to plan.
            return []
        fmt = {"day": "%Y-%m-%d", "month": "%Y-%m", "year": "%Y"}[
            self.chunk_grain
        ]
        assert CHUNK_FORMATS[self.chunk_grain]  # grains stay in sync
        out = []
        cur = lo
        while cur.strftime(fmt) <= hi.strftime(fmt):
            out.append(cur.strftime(fmt))
            if self.chunk_grain == "day":
                cur = cur + timedelta(days=1)
            elif self.chunk_grain == "month":
                cur = (cur.replace(day=1) + timedelta(days=32)).replace(day=1)
            else:
                cur = cur.replace(year=cur.year + 1, month=1, day=1)
        return out

    def run(
        self,
        sequences: DataFrame,
        out_dir: str,
        resume: bool = True,
        run_id: str | None = None,
        fail_after_chunks: int | None = None,
        command: str | None = None,
    ) -> dict:
        """Full raw->1m->1h->1d build, checkpointed at (tier, chunk) grain.

        Physical shape (the round-2 scaling finding — BENCH/BASELINE.md —
        was that ~25 serial Spark jobs per run, not job SHAPE, capped the
        N->4N efficiency at 0.62):

        - raw is hash-partitioned on ``(source, _gchunk)`` where
          ``_gchunk = date_trunc(<chunk grain>, event_time)`` — the big
          exchange of the build, planned once per tier (each persisted
          tier base carries its own raw scan + exchange; see the comment
          at the repartition);
        - every tier aggregation groups by ``(source, _gchunk, bucket)``
          and every gap-fill window partitions by ``(source, _gchunk)``
          — supersets of the partitioning keys, so Catalyst's
          clustering rule makes them ZERO-exchange (sorts only);
        - payloads compose from the in-memory finer-tier base (persisted)
          instead of a parquet read-back of the written tier — same rows
          (the written tier minus its gap-filled rows IS the base) —
          and join AFTER gap-fill so the payload aggregation has exactly
          one consumer (gap-fill reads its input twice; see the join
          comment below).  That join's exchange is coarse-tier-sized;
        - all tiers are written in ONE dynamic-partition-overwrite job
          (``write_tiers_combined``) with NO pre-write shuffle (the
          chunk-grain co-partitioning keeps files per chunk dir bounded
          by the source count), plus one stats job over the written
          columns and one driver-side manifest append.

        Remaining exchanges: the per-tier raw repartitions, per-gapfill
        day-summary carries (tiny, |sources x chunks| rows), and the
        coarse-tier payload joins (coarse-tier row counts).  Skew note:
        the chunk-grain co-partition spreads a hot source over its
        chunks; a pathological single (source, chunk) hotspot is what
        ``use_salting`` remains for.

        Returns metrics: per-tier written/skipped chunk counts + row counts.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        tiers_dir = os.path.join(out_dir, "tiers")
        manifest_dir = os.path.join(out_dir, "manifest")
        raw0, bad = self.prepare(sequences)
        n_shuffle = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        # Co-partition grain == chunk grain: every tier row then lives in
        # a partition that maps to exactly one output chunk dir, so the
        # final write needs NO repartition (files per (tier, chunk) stay
        # bounded by the source count) — the chunk grain is both the
        # commit granularity AND the parallelism spread, TimescaleDB-
        # chunk style.  A hot (source, chunk) partition is the
        # use_salting escape hatch.  Explicit partition count: AQE would
        # otherwise coalesce this exchange to the advisory size, capping
        # every downstream tier agg / window at a handful of tasks.
        grain_unit = {"day": "day", "month": "month", "year": "year"}[
            self.chunk_grain
        ]
        # NOT persisted.  The tier aggs do NOT share one exchange: a
        # traced perfbench pipeline build (seed 5) plans 4 input scans,
        # 9 exchanges and 0 ReusedExchange, because each persisted tier
        # base below is its own cached plan with its own raw scan and
        # repartition exchange — raw is read and shuffled once per tier.
        # Caching raw would hold a second copy of the raw rows in
        # executor memory, and at N=1-executor heap sizes that eviction
        # pressure cost more than the re-shuffles (measured: 19.2M rows,
        # 12g executor — cached-raw variant ran 25% slower end-to-end).
        raw = raw0.withColumn(
            "_gchunk", F.date_trunc(grain_unit, F.col("event_time"))
        ).repartition(n_shuffle, "source", "_gchunk")
        bases: list[DataFrame] = []
        try:
            metrics: dict = {"run_id": run_id, "tiers": {}}
            if self.validate or self.modal_quarantine:
                n_bad = bad.count()
                metrics["quarantined_rows"] = n_bad
                if n_bad:
                    # quarantined rows are data, not log lines: they land
                    # in their own table for later inspection/repair
                    # (GenTS returns the outlier set, hfcollection.py:358)
                    bad.write.mode("overwrite").parquet(
                        os.path.join(out_dir, "quarantine")
                    )
            # Salting note: the tier groupBy keys on (source, bucket) — a
            # HIGH-cardinality key even when one source is hot, because a
            # hot source's rows spread over its many buckets (rows per
            # key are time-bounded).  So the default single aggregation
            # is already skew-safe here, and the exact-percentile pass
            # cannot be salted regardless (needs all of a bucket's values
            # together).  use_salting=True switches the additive stats to
            # the two-phase salted plan (operators/skew.py) — the right
            # tool when buckets are coarse relative to the data (e.g. a
            # 1d-only build over a few hot sources).
            hot = (
                hot_sources(raw, self.salt_threshold_frac)
                if self.use_salting
                else []
            )
            # chunk plan from the raw time range — ONE job, shared by
            # every tier; lets an all-done resume skip tier computation.
            # Runs on the PRE-repartition rows (scan + agg, no shuffle),
            # so the co-partition exchange + cache build happen inside
            # the big write job instead of a serial planning barrier.
            planned_chunks = self._planned_chunks(raw0)
            if not planned_chunks:
                for tier in self.tiers:
                    metrics["tiers"][tier] = {
                        "written": 0,
                        "skipped": 0,
                        "rows_written": 0,
                        "rows": 0,
                        "seconds": 0.0,
                    }
                return metrics
            finals: dict[str, DataFrame] = {}
            prev_base: tuple[DataFrame, str | None] | None = None
            for tier in self.tiers:
                if hot:
                    # salted path: legacy join shape (extreme single-key
                    # skew defense); not gchunk-aligned
                    gck = None
                    additive = salted_rollup(raw, tier, n_salt=self.n_salt)
                    pct = rollup(
                        raw, tier, percentile_mode=self.percentile_mode
                    ).select(
                        "source", "bucket_start", "p50_tok", "p95_tok", "p99_tok"
                    )
                    base = additive.join(pct, ["source", "bucket_start"])
                else:
                    gck = "_gchunk"
                    base = rollup(
                        raw, tier, percentile_mode=self.percentile_mode,
                        gchunk_col=gck,
                    )
                tier_df = base
                # sketch columns join AFTER gap-fill (same reason as the
                # payload join below: gap-fill reads its input twice,
                # and each read would re-run the sketch aggregation over
                # raw); generated buckets get NULL sketches either way
                side_joins: list[DataFrame] = []
                if self.store_sketches and gck:
                    # mergeable percentile sketch column on every tier
                    # row (operators/sketches.py): after retention
                    # expires raw, coarser percentiles recompose by
                    # merging stored finer-tier sketches
                    from gents_spark.operators.sketches import (
                        value_histogram,
                    )

                    side_joins.append(
                        value_histogram(raw, tier, gchunk_col=gck).select(
                            "source", "bucket_start", "vh"
                        )
                    )
                if self.store_distinct and gck:
                    # mergeable HLL distinct-doc sketch per tier row:
                    # distinct counts survive raw expiry and union
                    # losslessly upward (register-wise max)
                    from gents_spark.operators.sketches import (
                        distinct_sketch,
                    )

                    side_joins.append(
                        distinct_sketch(
                            raw, tier, key_col="doc_id",
                            ts_col="event_time", gchunk_col=gck,
                        ).select("source", "bucket_start", "dv_sketch")
                    )
                pay = None
                if self.payloads and (
                    prev_base is not None or self.payloads == "all"
                ):
                    # Gorilla/DoD payload: the finer value stream encoded
                    # per coarser bucket — raw n_tok stream for the finest
                    # tier (payloads='all' only: one pandas-UDF row per
                    # bucket is wasteful at minute grain), the finer
                    # tier's sum_tok stream above it.  The finer BASE
                    # (pre-gap-fill aggregate, persisted) holds exactly
                    # the written tier's non-filled rows, so composing
                    # from it equals the old parquet read-back — without
                    # the write barrier between tiers.
                    from gents_spark.functions.codec_udfs import attach_payload

                    if prev_base is None:
                        pay = attach_payload(
                            raw, tier, value_col="n_tok", ts_col="event_time",
                            gchunk_col=gck,
                        )
                    else:
                        finer_df, pay_gck = prev_base
                        pay = attach_payload(
                            finer_df, tier, gchunk_col=pay_gck
                        )
                if self.gapfill_mode:
                    tier_df = gapfill(
                        tier_df, tier, mode=self.gapfill_mode, gchunk_col=gck
                    )
                else:
                    tier_df = tier_df.withColumn("filled", F.lit(False))
                    if gck:
                        tier_df = tier_df.drop(gck)
                for sj in side_joins:
                    tier_df = tier_df.join(
                        sj, ["source", "bucket_start"], "left"
                    )
                if pay is not None:
                    # Joined AFTER gap-fill, on (source, bucket_start):
                    # gap-fill reads its input twice (the window pass
                    # and the chunk-boundary carry), and with the join
                    # inside, each read re-ran the payload aggregation
                    # + pandas-UDF encode.  Post-gap-fill the payload
                    # agg has exactly ONE consumer; generated buckets
                    # have no finer rows, so they get NULL payloads from
                    # the left join exactly as gap-fill gives its other
                    # passthrough columns.  The exchange this adds is
                    # coarse-tier-sized (payloads are never built for
                    # the finest tier unless payloads='all').
                    tier_df = tier_df.join(
                        pay.select("source", "bucket_start", "payload"),
                        ["source", "bucket_start"],
                        "left",
                    )
                finals[tier] = tier_df
                # every base is read at least twice inside the single
                # write job (gap-fill's window pass + chunk-boundary
                # carry; plus the next tier's payload agg) — persist so
                # the aggregation runs once per tier
                base = base.persist()
                bases.append(base)
                prev_base = (base, gck)
            t0 = time.time()
            m = write_tiers_combined(
                self.spark,
                finals,
                tiers_dir,
                manifest_dir,
                run_id,
                resume=resume,
                fail_after_chunks=fail_after_chunks,
                chunk_grain=self.chunk_grain,
                planned_chunks=planned_chunks,
                command=command,
                compression=self.compression,
                repartition_output=bool(hot),
            )
            phases = m.pop("phases", {})
            phases["total"] = round(time.time() - t0, 3)
            metrics["phases"] = phases
            for tier in self.tiers:
                mt = m[tier]
                mt["rows"] = mt["rows_written"]
                # tiers share one write job; per-tier wall isn't separable
                mt["seconds"] = 0.0
                metrics["tiers"][tier] = mt
            return metrics
        finally:
            for b in bases:
                b.unpersist()
