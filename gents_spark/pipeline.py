"""End-to-end tier pipeline: ingest -> raw agg -> gap-fill -> payloads ->
checkpointed writes -> cascade -> retention (SURVEY.md §3.4 lifecycle).

The GenTS lifecycle (``gents/cli.py:121-206``: discover -> filter -> slice
-> plan orders -> parallel execute with integrity-skip) becomes one
multi-tier DataFrame plan, written in one job and checkpointed per
(tier, chunk) unit in the manifest.
"""

from __future__ import annotations

import functools
import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, StructField, StructType

from gents_spark.operators import rollup as rollup_ops
from gents_spark.operators.gapfill import gapfill
from gents_spark.operators.rollup import TIER_ORDER, bucket_col, per_tier, rollup
from gents_spark.plans import manifest
from gents_spark.plans.manifest import write_tiers_combined
from gents_spark.plans.reconcile import (
    collect_sources,
    nests,
    read_units,
    repair_sources,
)
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
        payloads: str | None = "coarse",
        validate: bool = True,
        chunk_grain: str = "day",
        compression: str = "snappy",
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
        self.payloads = payloads
        self.validate = validate
        self.chunk_grain = chunk_grain
        self.compression = compression
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
        # doc_id is kept only for the distinct-doc sketch column.
        # Otherwise it is pruned — it is the widest narrow column and
        # every byte rides the build's one big exchange.
        cols = ["source", "event_time", "n_tok"]
        if self.store_distinct:
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
        backfills.  Under gap-fill it also marks the done units whose
        filled rows a changed chunk's rows start, end or shape across a
        chunk boundary (``reconcile.fill_dependent_units``), from the
        same one per-(source, chunk) aggregation over raw.  A following
        ``run(..., resume=True)`` then rewrites the marked units,
        recomputing only the sources that need it (GenTS's delete-and-rewrite
        of incomplete outputs, ``gents/timeseries.py:136-142``, as an
        acting path).  Returns the detection report plus
        ``n_invalidated``.
        """
        import uuid as _uuid

        from gents_spark.plans.reconcile import (
            detect_stale_chunks,
            fill_dependent_units,
            invalidate_chunks,
        )

        run_id = run_id or ("reconcile-" + _uuid.uuid4().hex[:8])
        manifest_dir = os.path.join(out_dir, "manifest")
        raw, _bad = self.prepare(sequences)
        sources = collect_sources(self.spark, raw, self.chunk_grain)
        report = detect_stale_chunks(
            self.spark, raw, manifest_dir, chunk_grain=self.chunk_grain,
            sources=sources,
        )
        if self.gapfill_mode and (report["stale"] or report["new"]):
            latest = manifest.latest_rows(manifest.read_manifest(manifest_dir))
            report["stale"] = sorted(
                report["stale"]
                + fill_dependent_units(
                    sources, latest, report, self.gapfill_mode
                )
            )
        report["n_invalidated"] = invalidate_chunks(
            manifest_dir, report["stale"], run_id, command=command
        )
        return report

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

        Physical shape: ONE plan builds every tier (the round-2 scaling
        finding — BENCH/BASELINE.md — was that serial Spark jobs, not job
        SHAPE, capped the N->4N efficiency at 0.62; a per-tier plan also
        re-read and re-shuffled raw once per tier):

        - raw is hash-partitioned on ``(source, _gchunk)`` where
          ``_gchunk = date_trunc(<chunk grain>, event_time)`` — the one
          big exchange of the build, planned once for all tiers;
        - each raw row is inlined into one ``(tier, bucket_start)`` row
          per tier, and ONE aggregate keyed ``(source, _gchunk, tier,
          bucket_start)`` computes every tier's stats and exact
          percentiles (``rollup(raw, tiers)``); it is persisted once;
        - ONE gap-fill pass windows by ``(source, _gchunk, tier)`` with a
          CASE-over-tier step, and ONE grouped Arrow pass per ``(source,
          _gchunk)`` encodes every payload (``_with_payloads``), so the
          gap-fill runs once.  All of them group or partition by
          supersets of the partitioning keys, so Catalyst's clustering
          rule makes them ZERO-exchange (sorts only), and the sketch
          joins are co-partitioned on ``(source, _gchunk, ...)`` too.
          (The initial plan still shows exchanges over the cached base:
          its partitioning is known only once the cache is built, and
          adaptive execution drops them then);
        - all tiers are written in ONE dynamic-partition-overwrite job
          (``write_tiers_combined``) with NO pre-write shuffle (the
          chunk-grain co-partitioning keeps files per chunk dir bounded
          by the source count), plus one stats job over the written
          columns and one driver-side manifest append.

        The manifest is read once, on the driver, then ONE Spark job
        collects the per-(source, chunk) statistics of the prepared
        input (``reconcile.collect_sources``; it also sums the written
        rows of any stale units).  Everything the build decides comes
        from them: the chunk plan (every chunk from the first holding
        rows to the last; an all-done resume returns there), the
        percentile path per tier (exact unless a bucket exceeds
        ``HOT_BUCKET_LIMIT`` rows: a tier that nests in a chunk is
        bounded by its largest (source, chunk), any other by its
        largest source, and only a tier over that bound is probed), and
        a repair's sources.  A repair — a resume whose every pending
        unit ``reconcile`` marked stale — recomputes from raw only the
        sources that need it (``reconcile.repair_sources``): in some
        pending unit, the source's raw fingerprint no longer matches
        that unit's written rows, or a gap-fill of the source crosses
        the unit's boundary.  Each is recomputed over all of its raw
        rows and unioned with the other sources' rows of those units
        read back from the written files, into the same one write.  The
        decision is per unit, so a repair interrupted part-way resumes
        the same way.  Any other pending unit (never written, demoted by
        a streaming increment, left by a crash), a pending tier whose
        buckets cross chunks (``1w``) or a repair that every source
        needs makes the build whole.

        The 4 exchanges of a traced cold build (``perfbench`` pipeline,
        3 tiers, month chunks) are the raw repartition, the gap-fill
        chunk-boundary carry (tiny, |sources x chunks x tiers| rows),
        the planning statistics' aggregate and the stats aggregate over
        the written files.  Skew: the chunk-grain co-partition spreads a
        hot source over its chunks, and within a chunk the tier
        aggregate keys on (source, bucket), whose rows per key are
        time-bounded; a tier with a hot bucket takes the approximate
        percentile sketch, and adaptive execution splits skewed join
        partitions.

        Returns metrics: per-tier written/skipped chunk counts + row
        counts, plus ``sources_recomputed`` on a repair.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        tiers_dir = os.path.join(out_dir, "tiers")
        manifest_dir = os.path.join(out_dir, "manifest")
        raw0, bad = self.prepare(sequences)
        tiers = list(self.tiers)
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
        # ONE planning job on the PRE-repartition rows, so the
        # co-partition exchange + cache build happen inside the big
        # write job; an all-done resume returns before any tier
        # DataFrame is built.
        latest = (
            manifest.latest_rows(manifest.read_manifest(manifest_dir))
            if resume
            else {}
        )
        stale = [
            u for u, r in latest.items()
            if r["status"] == manifest.STALE and u[0] in tiers and nests(u[0])
        ]
        sources = collect_sources(
            self.spark, raw0, self.chunk_grain, tiers_dir, stale
        )
        planned_chunks = sources.span()
        planned = [(t, c) for t in tiers for c in planned_chunks]
        done = manifest.completed_units(latest)
        if done.issuperset(planned):
            for tier in tiers:
                metrics["tiers"][tier] = {
                    "written": 0,
                    "skipped": len(planned_chunks),
                    "rows_written": 0,
                    "rows": 0,
                    "seconds": 0.0,
                }
            return metrics
        # A repair — every pending unit was marked stale by reconcile —
        # recomputes only the sources that need it, each over ALL of its
        # raw rows (gap-fill carries stay exact), and copies every other
        # source's rows of those units from the written files.  Any
        # other pending unit (never written, demoted by a streaming
        # increment, left by a crash) needs every source, and so does a
        # tier whose buckets cross chunks: the build is whole.
        pending = [u for u in planned if u not in done]
        changed = None
        if set(pending) <= set(stale):
            changed = repair_sources(sources, pending)
            if changed is not None:
                metrics["sources_recomputed"] = len(changed)
        # what percentile_mode='auto' decides over the whole prepared
        # input, probing only the tiers the statistics leave unbounded
        limit = rollup_ops.HOT_BUCKET_LIMIT
        modes = {t: "exact" for t in tiers} | rollup_ops.percentile_modes(
            raw0, [t for t in tiers if sources.bucket_bound(t) > limit],
            "auto", limit,
        )
        n_shuffle = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        # Co-partition grain == chunk grain: every tier row then lives in
        # a partition that maps to exactly one output chunk dir, so the
        # final write needs NO repartition (files per (tier, chunk) stay
        # bounded by the source count) — the chunk grain is both the
        # commit granularity AND the parallelism spread, TimescaleDB-
        # chunk style: a hot source spreads over its chunks.  Explicit
        # partition count: AQE would otherwise coalesce this exchange to
        # the advisory size, capping the tier aggregate / windows at a
        # handful of tasks.
        # NOT persisted: raw is read and shuffled once, by the one
        # persisted base below (sketch columns and payloads='all' read
        # it again).  Caching raw would hold a second copy of the raw
        # rows in executor memory, and at N=1-executor heap sizes that
        # eviction pressure cost more than re-reads (measured: 19.2M
        # rows, 12g executor — cached-raw variant ran 25% slower).
        if changed is not None:
            raw0 = raw0.filter(F.col("source").isin(changed))
        raw = raw0.withColumn(
            "_gchunk", F.date_trunc(self.chunk_grain, F.col("event_time"))
        ).repartition(n_shuffle, "source", "_gchunk")
        # The tier aggregate runs on raw's partitioning (no exchange):
        # one (source, chunk) is one task, and its per-key state is one
        # time-bounded bucket.  Read by gap-fill's window pass AND its
        # chunk-boundary carry — persist so the aggregation runs once.
        base = rollup(
            raw, tiers, percentile_mode=modes, gchunk_col="_gchunk"
        ).persist()
        try:
            tier_df = (
                gapfill(
                    base, tiers, mode=self.gapfill_mode, gchunk_col="_gchunk"
                )
                if self.gapfill_mode
                else base.withColumn("filled", F.lit(False))
            )
            # Sketch columns join and payloads encode AFTER gap-fill:
            # gap-fill reads its input twice, and each read would re-run
            # them.  Generated buckets have no raw rows, so they get NULL
            # from the left joins exactly as gap-fill gives its other
            # passthrough columns.  Keyed on (source, _gchunk, ...) both
            # sides keep raw's partitioning: no exchange.  The payload
            # pass comes last: its output has new attributes, so a join
            # after it would shuffle.
            keyed = ["source", "_gchunk"]
            if len(tiers) > 1:
                keyed.append("tier")
            side = []
            if self.store_sketches:
                # mergeable percentile sketch column on every tier
                # row (operators/sketches.py): after retention
                # expires raw, coarser percentiles recompose by
                # merging stored finer-tier sketches
                from gents_spark.operators.sketches import value_histogram

                side.append(
                    (value_histogram(raw, tiers, gchunk_col="_gchunk"), "vh")
                )
            if self.store_distinct:
                # mergeable HLL distinct-doc sketch per tier row:
                # distinct counts survive raw expiry and union
                # losslessly upward (register-wise max)
                from gents_spark.operators.sketches import distinct_sketch

                side.append((distinct_sketch(
                    raw, tiers, key_col="doc_id", ts_col="event_time",
                    gchunk_col="_gchunk",
                ), "dv_sketch"))
            for sj, col in side:
                cols = tier_df.columns
                tier_df = tier_df.join(
                    sj.select(*keyed, "bucket_start", col),
                    [*keyed, "bucket_start"], "left",
                ).select(*cols, col)
            tier_df = self._with_payloads(tier_df, raw).drop("_gchunk")
            if changed is not None:
                kept = read_units(
                    self.spark, tiers_dir, pending, tier_df.schema
                )
                if kept is not None:
                    tier_df = tier_df.unionByName(
                        kept.filter(~F.col("source").isin(changed)).select(
                            *tier_df.columns
                        )
                    )
            t0 = time.time()
            m = write_tiers_combined(
                self.spark,
                tier_df,
                tiers_dir,
                manifest_dir,
                run_id,
                planned,
                done=done,
                fail_after_chunks=fail_after_chunks,
                chunk_grain=self.chunk_grain,
                command=command,
                compression=self.compression,
            )
            phases = m.pop("phases", {})
            phases["total"] = round(time.time() - t0, 3)
            metrics["phases"] = phases
            for tier in tiers:
                mt = m[tier]
                mt["rows"] = mt["rows_written"]
                # tiers share one write job; per-tier wall isn't separable
                mt["seconds"] = 0.0
                metrics["tiers"][tier] = mt
            return metrics
        finally:
            base.unpersist()

    def _with_payloads(
        self,
        tier_df: DataFrame,
        raw: DataFrame,
    ) -> DataFrame:
        """Gorilla/DoD ``payload`` column: each coarse tier row encodes
        its finer neighbour's ``sum_tok`` stream; with payloads='all'
        the finest tier encodes the raw ``n_tok`` stream (off by
        default: one encoded row per minute bucket is wasteful).

        The non-filled rows of the gap-filled tiers are exactly the
        written finer tier's real rows, so composing from them equals a
        parquet read-back of the written tier.  The JVM marks each one
        with the parent tier (``_pt``, its index) and parent bucket
        (``_pb``) it feeds, a CASE over ``tier``; then ONE grouped Arrow
        pass per (source, chunk) encodes every stream and matches it to
        its row (``codec_udfs.encode_payloads``).  A parent row and its
        feeders come from the same raw rows, so they share ``_gchunk``
        and one group holds them all.  The grouping keys are raw's
        partitioning keys: no exchange, no join, and the gap-filled rows
        are read once.  ``payloads='all'`` cogroups the same function
        with raw's (source, chunk) groups."""
        tiers = list(self.tiers)
        if not self.payloads or (self.payloads == "coarse" and len(tiers) < 2):
            return tier_df
        from gents_spark.functions.codec_udfs import encode_payloads

        parent = dict(zip(tiers, tiers[1:]))
        feeds = ~F.col("filled") & F.col("tier").isin(list(parent))

        def fed(fn) -> F.Column:
            # fn(parent tier) on a feeding row, NULL on every other
            if not parent:
                return F.lit(None)
            return F.when(feeds, per_tier(list(parent), lambda t: fn(parent[t])))

        rows = tier_df.select(
            "*",
            fed(lambda p: F.lit(tiers.index(p))).cast("int").alias("_pt"),
            fed(lambda p: bucket_col("bucket_start", p))
            .cast("timestamp").alias("_pb"),
        )
        schema = StructType(
            [*tier_df.schema.fields, StructField("payload", BinaryType())]
        )
        keyed = ["source", "_gchunk"]
        # bound by keyword: Spark passes the grouping key to a function
        # whose argument count says it takes one
        fn = functools.partial(encode_payloads, tiers=tiers)
        if self.payloads == "coarse":
            return rows.groupBy(*keyed).applyInArrow(
                functools.partial(fn, raw=None), schema
            )
        raw = raw.select(
            *keyed,
            bucket_col("event_time", tiers[0]).alias("_pb"),
            "event_time",
            "n_tok",
        )
        return (
            rows.groupBy(*keyed)
            .cogroup(raw.groupBy(*keyed))
            .applyInArrow(fn, schema)
        )
