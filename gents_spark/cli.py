"""CLI entry point — the spark-submit surface (SURVEY.md §7.1 M7).

Mirrors GenTS's CLI semantics (``gents/cli.py:5-118``): input location,
include/exclude source filters, tier selection (the slice-size analog),
dry-run, overwrite-vs-resume — re-expressed for spark-submit:

  spark-submit --py-files gents_spark.zip -m gents_spark.cli \\
      --input /data/sequences --output /data/tiers_out \\
      --tiers 1m 1h 1d --gapfill locf --step-s 10 --resume

GenTS's ``gents_command`` provenance attribute (``cli.py:197``) becomes
the run_id + argv row in the lineage manifest.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from gents_spark import __version__
from gents_spark.configs import PROFILES, resolve_profile
from gents_spark.operators.rollup import grid_index
from gents_spark.pipeline import TierPipeline
from gents_spark.session import get_spark

COMPRESSIONS = ["snappy", "zstd", "gzip", "lz4", "none"]


def parse_arguments(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="gents-spark",
        description="PySpark time-series rollup + retention engine",
    )
    p.add_argument("--version", action="version",
                   version=f"gents-spark {__version__}")
    p.add_argument("--input", required=True, help="sequences table path (parquet)")
    p.add_argument("--output", required=True, help="output dir (tiers + manifest)")
    p.add_argument("--tiers", nargs="+", default=None, metavar="TIER",
                   help="tiers to build: 1m/1h/1d or any '<N>s' custom "
                        "grain, e.g. 900s (default: profile's, else all)")
    p.add_argument("--gapfill", choices=["locf", "linear", "zero", "none"],
                   default=None,
                   help="gap-fill mode: locf / linear / zero (for "
                        "absence-means-zero count metrics) / none "
                        "(default: profile's, else locf)")
    p.add_argument("--step-s", type=int, default=10,
                   help="seconds per doc_id sequence step (event-time derivation)")
    p.add_argument("--include-sources", nargs="*", default=None)
    p.add_argument("--exclude-sources", nargs="*", default=None)
    p.add_argument("--profile", "-m", choices=sorted(PROFILES), default=None,
                   help="named preset (GenTS --model analog): source filters "
                        "+ compression + chunk grain defaults")
    p.add_argument("--append-filters", action="store_true",
                   help="extend the profile's include/exclude lists with the "
                        "explicit ones instead of replacing them "
                        "(GenTS --append)")
    p.add_argument("--resume", action="store_true",
                   help="skip chunks already committed in the manifest")
    p.add_argument("--overwrite", action="store_true",
                   help="ignore the manifest and rebuild everything")
    p.add_argument("--dryrun", action="store_true",
                   help="plan only: print chunk counts, write nothing")
    p.add_argument("--chunk-grain", choices=["day", "month", "year"],
                   default=None,
                   help="checkpoint/partition grain (GenTS --slice analog; "
                        "default: profile's, else day)")
    p.add_argument("--compression", choices=COMPRESSIONS, default=None,
                   help="parquet codec for tier outputs (GenTS "
                        "apply_compression analog; default: profile's, "
                        "else snappy)")
    p.add_argument("--modal-quarantine", action="store_true",
                   help="per source, quarantine rows whose structural "
                        "fingerprint differs from the strict-majority one "
                        "(GenTS filter_by_variables)")
    p.add_argument("--store-distinct", action="store_true",
                   help="store mergeable HLL distinct-doc sketch column "
                        "on tier rows (keeps doc_id through the build)")
    p.add_argument("--store-sketches", action="store_true",
                   help="store a mergeable value-histogram sketch column "
                        "on every tier row: coarser-tier percentiles stay "
                        "recomputable after retention expires raw data")
    p.add_argument("--reconcile", action="store_true",
                   help="late-data reconciliation: compare the current "
                        "source against each committed chunk's manifest "
                        "fingerprint, invalidate changed chunks, then "
                        "rebuild them (implies --resume)")
    p.add_argument("--retention", nargs="*", default=None,
                   metavar="TIER=YYYY-MM-DD",
                   help="after the run, expire committed chunks of TIER "
                        "strictly older than the cutoff date, gated on a "
                        "committed coarser-tier cover (repeatable: "
                        "--retention 1m=2026-03-01 1h=2025-01-01)")
    p.add_argument("--expire-snapshots-h", type=float, default=None,
                   metavar="HOURS",
                   help="after the run, compact manifest history older "
                        "than HOURS hours (Iceberg expire_snapshots "
                        "analog; keeps each chunk's latest row, so "
                        "resume and current membership are unaffected)")
    p.add_argument("--stream", action="store_true",
                   help="streaming catch-up instead of a batch build: "
                        "run the watermarked continuous aggregate over "
                        "the input directory (availableNow) and append "
                        "finalized windows into the same tiers/+manifest "
                        "layout as status='increment' rows (additive "
                        "stats only; percentiles stay batch).  Streams "
                        "every tier in --tiers; without --tiers, only "
                        "the finest profile tier")
    p.add_argument("--watermark", default="10 minutes",
                   help="--stream late-data watermark (default: "
                        "'10 minutes')")
    p.add_argument("--export-tier", metavar="TIER", default=None,
                   help="after the build, export this tier as per-source "
                        "time-sorted timeseries files (the GenTS "
                        "reformatted-artifact analog); needs --export-dir")
    p.add_argument("--export-dir", default=None,
                   help="destination directory for --export-tier")
    p.add_argument("--export-format",
                   choices=["parquet", "csv", "json", "orc"],
                   default="parquet")
    p.add_argument("--gap-report", metavar="TIER", default=None,
                   help="after the build, print a per-source gap census "
                        "of the given tier (n_missing/n_gaps/max run/"
                        "coverage) — the planning view of what gap-fill "
                        "would generate")
    p.add_argument("--flatline-report", metavar="TIER", default=None,
                   help="after the build, print per-source runs of >= "
                        "--flatline-min-run consecutive buckets with an "
                        "IDENTICAL row count in the given tier — the "
                        "stuck-feed screen (a collector that keeps "
                        "reporting the same number is wedged, not quiet)")
    p.add_argument("--flatline-min-run", type=int, default=3,
                   help="minimum run length for --flatline-report")
    p.add_argument("--screen-report", metavar="TIER", default=None,
                   help="after the build, print the COMPOSED feed-health "
                        "report of the given tier: flatline runs, gaps "
                        "and level shifts over the per-source row counts "
                        "in one alarm table (--flatline-min-run and "
                        "--screen-shift-threshold parameterize it)")
    p.add_argument("--screen-shift-threshold", type=float, default=2.0,
                   help="minimum |forward - backward| 12-bucket frame-"
                        "mean contrast (rows per bucket) for a "
                        "level_shift alarm in --screen-report")
    p.add_argument("-v", "--verbose", action="count", default=0,
                   help="-v: spark WARN + run progress; -vv: spark INFO "
                        "(GenTS -v analog)")
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_arguments(argv)
    if args.export_tier and not args.export_dir:
        # fail BEFORE the build, not after minutes of tier writes
        raise SystemExit("--export-tier needs --export-dir")
    from gents_spark.operators.rollup import tier_grain

    # every tier label the run will touch fails BEFORE the build
    # ('raw' is a valid RETENTION target — retention._grain_step — but
    # not a buildable/reportable tier).  Retention specs validate in
    # FULL (format + cutoff date), not just the label — a malformed
    # cutoff must not surface only after an hours-long build.
    from datetime import datetime as _dt

    for spec in args.retention or []:
        tier_l, _, cutoff = spec.partition("=")
        if not cutoff:
            raise SystemExit(
                f"--retention expects TIER=YYYY-MM-DD, got {spec!r}"
            )
        try:
            _dt.strptime(cutoff, "%Y-%m-%d")
        except ValueError as e:
            raise SystemExit(
                f"--retention {spec!r}: bad cutoff date ({e})"
            ) from e
    for t in (args.tiers or []) + [
        x
        for x in (args.gap_report, args.export_tier,
                  args.flatline_report, args.screen_report)
        if x
    ] + [
        spec.partition("=")[0]
        for spec in (args.retention or [])
        if spec.partition("=")[0] != "raw"
    ]:
        try:
            tier_grain(t)  # named tier or '<N>s' custom grain
        except ValueError as e:
            raise SystemExit(str(e)) from e
    if args.flatline_min_run < 2:
        # fail BEFORE the (possibly hours-long) build, like the tier
        # labels above — flatline_runs would raise only at report time
        raise SystemExit(
            f"--flatline-min-run {args.flatline_min_run}: expected >= 2"
        )
    if args.screen_shift_threshold <= 0:
        raise SystemExit(
            f"--screen-shift-threshold {args.screen_shift_threshold}: "
            "expected > 0"
        )
    prof = resolve_profile(
        args.profile, args.include_sources, args.exclude_sources,
        append_filters=args.append_filters,
    )
    spark = get_spark(master=args.master, app_name="gents-spark-cli")
    spark.sparkContext.setLogLevel(
        "INFO" if args.verbose >= 2 else "WARN" if args.verbose == 1 else "ERROR"
    )
    from gents_spark.sources import open_sequences

    seqs = open_sequences(spark, args.input)
    compression = args.compression or prof.compression
    pipe = TierPipeline(
        spark,
        step_s=args.step_s,
        tiers=list(args.tiers) if args.tiers else list(prof.tiers),
        gapfill_mode=(
            None
            if (args.gapfill or prof.gapfill) == "none"
            else (args.gapfill or prof.gapfill)
        ),
        include_sources=prof.include_sources,
        exclude_sources=prof.exclude_sources,
        chunk_grain=args.chunk_grain or prof.chunk_grain,
        compression="uncompressed" if compression == "none" else compression,
        modal_quarantine=args.modal_quarantine,
        store_sketches=args.store_sketches,
        store_distinct=args.store_distinct,
    )
    if args.verbose:
        print(json.dumps({
            "profile": args.profile, "tiers": pipe.tiers,
            "chunk_grain": pipe.chunk_grain, "compression": pipe.compression,
            "include_sources": pipe.include_sources,
            "exclude_sources": pipe.exclude_sources,
        }), file=sys.stderr)
    if args.dryrun:
        from gents_spark.plans.reconcile import collect_sources

        raw, bad = pipe.prepare(seqs)
        # the run's own planning statistics; every tier plans the same
        # chunks
        sources = collect_sources(spark, raw, pipe.chunk_grain)
        n_chunks = len(sources.span())
        plan = {
            "valid_rows": sum(v[0] for v in sources.stats.values()),
            "quarantined_rows": bad.count(),
            "sources": len(sources.chunks),
            "chunks_per_tier": {t: n_chunks for t in pipe.tiers},
        }
        print(json.dumps({"dryrun": plan}))
        return 0
    if args.stream:
        import os

        from gents_spark.plans.manifest import INCREMENT, read_manifest
        from gents_spark.streaming.rollup_stream import stream_tier_ingest

        # every requested tier streams (sequentially, each through its
        # own checkpoint) — same tier resolution as the batch path
        # explicit --tiers streams every listed tier (one input pass
        # each); the DEFAULT streams only the finest profile tier —
        # silently fanning a standing `--stream` catch-up out to 1h/1d
        # would rescan the input per tier and demote every done coarse
        # chunk (the batch build remains the cheap way to coarser tiers)
        stream_tiers = (
            list(args.tiers) if args.tiers else [prof.tiers[0]]
        )
        report = {}
        for tier in stream_tiers:
            q = stream_tier_ingest(
                spark, args.input, args.output,
                os.path.join(args.output, "_stream_checkpoint", tier),
                tier=tier, step_s=args.step_s, watermark=args.watermark,
            )
            q.awaitTermination()
            inc = [
                r["n_rows"] or 0
                for r in read_manifest(
                    os.path.join(args.output, "manifest")
                ).to_pylist()
                if r["status"] == INCREMENT and r["tier"] == tier
            ]
            report[tier] = {
                "increment_chunks": len(inc),
                "increment_rows": sum(inc),
            }
        print(json.dumps({"stream": report}))
        return 0
    run_id = f"cli-{int(time.time())}"
    # provenance: the full launching command rides into every manifest row
    # (GenTS `gents_command`, cli.py:197, timeseries.py:900-913)
    command = "gents-spark " + " ".join(argv if argv is not None else sys.argv[1:])
    out: dict = {}
    if args.reconcile:
        out["reconcile"] = pipe.reconcile(
            seqs, args.output, run_id=run_id, command=command
        )
    resume = (args.resume or args.reconcile) and not args.overwrite
    metrics = pipe.run(
        seqs, args.output, resume=resume, run_id=run_id, command=command,
    )
    out.update(metrics)
    if args.retention:
        import os

        from gents_spark.operators.retention import expire

        ret: dict[str, list[str]] = {}
        for spec in args.retention:
            # every spec was validated before the build
            tier, _, cutoff = spec.partition("=")
            ret[tier] = expire(
                spark,
                os.path.join(args.output, "tiers"),
                os.path.join(args.output, "manifest"),
                tier,
                cutoff,
            )
        out["retention_expired"] = ret
    if args.gap_report:
        import os

        import pyspark.sql.functions as F

        from gents_spark.operators.gapfill import gap_report
        from gents_spark.plans.manifest import read_tier

        tier_df = read_tier(
            spark, os.path.join(args.output, "tiers"), args.gap_report
        )
        census = (
            gap_report(tier_df, tier_name=args.gap_report)
            .withColumn(
                "first_bucket",
                F.date_format("first_bucket", "yyyy-MM-dd HH:mm:ss"),
            )
            .withColumn(
                "last_bucket",
                F.date_format("last_bucket", "yyyy-MM-dd HH:mm:ss"),
            )
            .collect()
        )
        out["gap_report"] = {
            args.gap_report: [
                r.asDict() for r in sorted(census, key=lambda r: r["source"])
            ]
        }
    if args.flatline_report:
        import os

        import pyspark.sql.functions as F

        from gents_spark.operators.anomaly import flatline_runs
        from gents_spark.operators.rollup import tier_grain
        from gents_spark.plans.manifest import read_tier

        _, step_s = tier_grain(args.flatline_report)
        tier_df = read_tier(
            spark, os.path.join(args.output, "tiers"), args.flatline_report
        )
        if "filled" in tier_df.columns:
            # gap-filled rows (LOCF copies cnt, zero writes 0) must not
            # count: a sensor that stops reporting is a GAP
            # (--gap-report's job), and an unfiltered LOCF run would
            # alarm on exactly that
            tier_df = tier_df.filter(~F.coalesce("filled", F.lit(False)))
        tier_df = tier_df.select(
            "source",
            # floor-division grid index — `div` truncates toward zero
            # and would shift pre-1970 buckets off the DuckDB-`//` grid
            grid_index("bucket_start", step_s).alias("t"),
            F.col("cnt").alias("s"),
        )
        runs = (
            flatline_runs(
                tier_df, key="source", order_idx="t", value="s",
                min_run=args.flatline_min_run,
            )
            .select(
                "source",
                F.date_format(
                    F.timestamp_seconds(F.col("t_start") * step_s),
                    "yyyy-MM-dd HH:mm:ss",
                ).alias("run_start"),
                F.date_format(
                    F.timestamp_seconds(F.col("t_end") * step_s),
                    "yyyy-MM-dd HH:mm:ss",
                ).alias("run_end"),
                "n_buckets",
                F.col("v").alias("cnt"),
            )
            .collect()
        )
        out["flatline_report"] = {
            args.flatline_report: [
                r.asDict()
                for r in sorted(
                    runs, key=lambda r: (r["source"], r["run_start"])
                )
            ]
        }
    if args.screen_report:
        import os

        import pyspark.sql.functions as F

        from gents_spark.operators.rollup import tier_grain
        from gents_spark.operators.screens import screen_report
        from gents_spark.plans.manifest import read_tier

        _, step_s = tier_grain(args.screen_report)
        tier_df = read_tier(
            spark, os.path.join(args.output, "tiers"), args.screen_report
        )
        if "filled" in tier_df.columns:
            # same exclusion as --flatline-report: gap-filled rows are
            # the GAP alarms' subject, not flatline/shift evidence
            tier_df = tier_df.filter(~F.coalesce("filled", F.lit(False)))
        alarms = (
            screen_report(
                tier_df.select(
                    "source", "bucket_start", F.col("cnt").alias("s")
                ),
                key="source",
                ts="bucket_start",
                value="s",
                step_s=step_s,
                min_run=args.flatline_min_run,
                shift_threshold=args.screen_shift_threshold,
                scale_div=1.0,
            )
            .select(
                F.col("key").alias("source"),
                "alarm_type",
                F.date_format("t_start", "yyyy-MM-dd HH:mm:ss")
                .alias("t_start"),
                F.date_format("t_end", "yyyy-MM-dd HH:mm:ss")
                .alias("t_end"),
                "n_buckets",
                F.col("v").alias("cnt"),
                "score",
            )
            .collect()
        )
        out["screen_report"] = {
            args.screen_report: [
                r.asDict()
                for r in sorted(
                    alarms,
                    key=lambda r: (
                        r["source"], r["alarm_type"], r["t_start"]
                    ),
                )
            ]
        }
    if args.export_tier:
        import os

        from gents_spark.plans.manifest import export_timeseries

        out["export"] = export_timeseries(
            spark,
            os.path.join(args.output, "tiers"),
            args.export_tier,
            args.export_dir,
            fmt=args.export_format,
        )
    if args.expire_snapshots_h is not None:
        import os

        from gents_spark.plans.manifest import expire_snapshots

        out["expire_snapshots"] = expire_snapshots(
            spark,
            os.path.join(args.output, "manifest"),
            older_than_ts=time.time() - args.expire_snapshots_h * 3600,
        )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
