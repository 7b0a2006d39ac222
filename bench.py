"""Benchmark: headline queries + full tier pipeline at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-stage sec...}, "sf": ..., "points_per_sec": ...,
   "seqs_per_sec": ..., "cpus": ...}

Stages:
- pipeline: synthesize a FIXTURES.md-style sequences table (deterministic,
  cached in the tmpfs work area), run the full raw->1m->1h->1d build with
  gap-fill + checkpointed writes; report rolled-up points/sec and
  sequences/sec — the BASELINE.json headline metric.
- query stages: representative SURVEY.md §2 operators over the sf dir,
  materialized via the noop sink (full execution, no driver collect).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gents_spark.driver_queries import QUERIES  # noqa: E402
from gents_spark.pipeline import TierPipeline  # noqa: E402
from gents_spark.session import get_spark  # noqa: E402
from gents_spark.synth import synth_sequences  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: per-query repetitions, run as INTERLEAVED round-robin passes with
#: best-of reported per query (round-3 VERDICT: single-shot per-query
#: timings picked up ~2x host-steal artifacts on several queries; with
#: interleaving a steal burst degrades one PASS, not one query's only
#: sample)
QUERY_REPEATS = int(os.environ.get("BENCH_QUERY_REPEATS", "2"))
#: timed-pipeline repetitions; best-of-N reported.  Default 3: this VM's
#: host shows heavy intermittent CPU steal (identical runs vary 3x), so
#: a single timed run mostly measures the host's mood
REPEATS = int(os.environ.get("BENCH_PIPELINE_REPEATS", "3"))
#: benchmark work area: tmpfs if available — tier outputs/shuffle files
#: on the virtio disk pick up host IO stalls (measured: a 6s tier write
#: intermittently takes 55s+), which is noise, not engine throughput
WORK = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

#: bench sequences table: `long`+`skewed` fixture scaled (FIXTURES.md §Sizing).
#: Sized so per-core compute dominates fixed job overheads — the regime
#: where the N-vs-4N scaling measurement is meaningful.
N_SOURCES = 8
SEQS_PER_SOURCE = int(os.environ.get("BENCH_SEQS_PER_SOURCE", "600000"))
HOT_FRAC = 0.3
STEP_S = 60
#: month-grain checkpoints: the synthetic span covers years of minutes,
#: so day-grain would mean thousands of partition commits (driver-side
#: file ops) — the knob GenTS exposes as slice width.
CHUNK_GRAIN = "month"

BENCH_QUERIES = [
    "rollup_1m",
    "rollup_1h",
    "gapfill_locf_1h",
    "pricing_summary",
    "revenue_by_segment",
    "topk_orders_per_segment",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "token_count",
    "ann_cosine_topk",
    "asof_enrich",
    "twa_1h",
    "sketch_merge_1h",
    "multimodal_decode",
    "sessionize_events",
    "m4_downsample",
    "rolling_zscore",
    "contamination_ngram",
    # round-4 additions
    "rollup_1h_midpoint",
    "repetition_stats",
    "pii_scrub",
    # round-5 additions: map-side IVF assignment, chunked packing, EWMA
    "ann_ivf_topk",
    "pack_documents_chunked",
    "ewma_1h",
    "holt_1h",
    "cusum_1h",
    "trend_slope",
    "seasonal_1h",
    "autocorr_1h",
    "gap_report_1h",
    "histogram_drift_1d",
    "rank_shift_1h",
    "burstiness_1h",
    "level_shift_1h",
    "lead_lag_1h",
    "percentile_drift_1d",
    "pack_stats",
    # round-5 vocabulary-timeseries pack
    "vocab_drift_1d",
    "token_entropy",
    # round-5 grid surface: offset buckets, hopping windows, resampling
    "bucket_15m_offset",
    "sliding_1h_30m",
    "resample_15m_locf",
    "sax_1d",
    # round-5 span-level dedup census (Lee et al. 2021)
    "duplicate_spans",
    # round-5 gaps-and-islands interval merge (one shuffle)
    "merge_intervals_4h",
    # round-5 overlap-coefficient near-dup (shares the jaccard core)
    "dedup_containment",
    # round-5 median/MAD robust outlier screen
    "mad_outliers",
    # round-5 Theil-Sen robust trend (bounded pairwise-slope median)
    "theil_sen_168h",
    # round-5 stuck-feed flatline census (all-integer islands)
    "flatline_1h",
    # round-5 Benford first-digit forensic screen
    "benford_values",
    # round-5 composed curation verdict (quality AND dedup AND sample)
    "curate_corpus",
    # round-5 off-grid interpolated as-of join (union + two windows)
    "asof_interpolate",
    # round-5 funnel time-to-convert percentiles
    "funnel_latency",
    # round-5 OHLC bars (map-side struct min/max open/close)
    "ohlc_1h",
    # round-5 max drawdown of the cumulative volume curve
    "drawdown_1h",
    # round-5 daily volume-concentration (Gini) census
    "volume_gini_1d",
    # round-5 Markov transition census (user flow map)
    "user_flow",
    # round-5 corpus bigram collocation lift (phrase mining)
    "collocations",
    # round-5 composed flatline/gap/level-shift alarm report
    "screen_report_1h",
    # round-5 Spearman rank correlation (exact double-rank transform)
    "spearman_1h",
    # round-5 weekly named tier + monthly calendar rollup
    "rollup_1w",
    "rollup_1mo",
    # round-5 declarative expectations screen (one agg pass)
    "expectations",
    # round-5 sliding-window training chunks (map-side fan-out)
    "chunk_documents",
    # late-r05 vocabulary-shape screens + robust daily mean
    "token_coverage",
    "zipf_fit",
    "winsorized_1d",
    "seasonal_naive_1h",
    "embedding_drift_1d",
    "freshness",
    "user_growth_1d",
    "gap_percentiles",
    "length_histogram",
    "record_highs_1h",
]


def bench_input_path() -> str:
    return (
        f"{WORK}/gents_bench_input_{N_SOURCES}x{SEQS_PER_SOURCE}_h{HOT_FRAC}.parquet"
    )


def ensure_input(spark) -> str:
    path = bench_input_path()
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        df = synth_sequences(
            spark,
            n_sources=N_SOURCES,
            seqs_per_source=SEQS_PER_SOURCE,
            n_tok_lo=8,
            n_tok_hi=32,
            hot_source_frac=HOT_FRAC,
            num_partitions=64,
        )
        df.write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    from perfbench.run import host_sizing

    # sized like perfbench: half the usable cores as task threads (or
    # $SPARK_GRAFT_CPUS), a driver heap of a quarter of RAM
    sizing = host_sizing()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or sizing["gc_threads"])
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="gents_spark-bench",
        shuffle_partitions=max(2 * cpus, 16),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": sizing["driver_memory"],
            "spark.local.dir": f"{WORK}/gents_bench_spark_local",
            # fair N-core measurement: GC threads default to ALL machine
            # cores regardless of local[N], which silently donates extra
            # cores to small-N runs and corrupts the scaling comparison
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads={max(1, cpus // 4)}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    in_path = ensure_input(spark)
    seqs = spark.read.parquet(in_path)
    n_seqs = seqs.count()

    # untimed warm-up: JVM/codegen/Arrow paths (first-run overhead would
    # otherwise dominate and mask the parallelism signal).  Deterministic
    # hash sample, not limit() — a LIMIT re-evaluates differently between
    # the chunk-planning job and the write job
    import pyspark.sql.functions as F

    warm_dir = f"{WORK}/gents_bench_warm_{cpus}"
    shutil.rmtree(warm_dir, ignore_errors=True)
    warm = seqs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(512)) == 0)
    TierPipeline(spark, step_s=STEP_S, gapfill_mode="locf", validate=False, chunk_grain=CHUNK_GRAIN).run(
        warm, warm_dir, resume=False, run_id="warm"
    )

    # validate=False: the synthetic input is validated at generation; the
    # per-row tokens check would force whole-table scans (see prepare()).
    pipe = TierPipeline(
        spark, step_s=STEP_S, gapfill_mode="locf", validate=False,
        chunk_grain=CHUNK_GRAIN,
    )
    t_pipe = None
    for rep in range(max(REPEATS, 1)):
        out_dir = f"{WORK}/gents_bench_out_{cpus}"
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.time()
        metrics = pipe.run(seqs, out_dir, resume=False, run_id=f"bench{cpus}-{rep}")
        t = time.time() - t0
        t_pipe = t if t_pipe is None else min(t_pipe, t)
    timings["pipeline_raw_to_1d"] = round(t_pipe, 3)
    points = sum(m["rows"] for m in metrics["tiers"].values())

    # ingest stage: validate + Gorilla/DoD-encode every tokens array
    # (the "sequences/sec ingested" half of the BASELINE metric).  Runs
    # in Arrow-batched pandas UDFs across separate Python worker
    # processes — the execution shape of real multi-executor clusters.
    import pyspark.sql.functions as F

    from gents_spark.functions.codec_udfs import encode_tokens
    from gents_spark.timeparse import split_valid

    ingest_slice = seqs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0)
    valid, _bad = split_valid(ingest_slice)
    ingest_df = valid.select("doc_id", "source", "n_tok",
                             encode_tokens("tokens").alias("tokens_payload"))
    n_ingest = ingest_slice.count()
    t_ingest = None
    for _rep in range(max(REPEATS, 1)):
        t0 = time.time()
        ingest_df.write.format("noop").mode("overwrite").save()
        t = time.time() - t0
        t_ingest = t if t_ingest is None else min(t_ingest, t)
    timings["ingest_validate_encode"] = round(t_ingest, 3)

    for _rep in range(max(QUERY_REPEATS, 1)):
        for name in BENCH_QUERIES:
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            t = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, t), t)
        # each call builds its own persisted intermediates (fresh RDD
        # ids — no cross-pass reuse), so drop them between passes
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "e2e_tier_pipeline_plus_queries",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "input_sequences": n_seqs,
                "rolled_up_points": points,
                "seqs_per_sec": round(n_ingest / t_ingest, 1),
                "points_per_sec": round(points / t_pipe, 1),
                "ingest_sequences": n_ingest,
                "host_cal_s": host_calibration(),
            }
        )
    )
    spark.stop()


def host_calibration() -> float:
    """Fixed single-thread CPU workload (seconds, best of 3) — a host
    steal/mood gauge stamped into every bench JSON.

    This VM sits on a multi-tenant host whose CPU steal varies engine
    timings 3-6x between windows (an identical sf0.1 pipeline measured
    15.5s and 98s two hours apart).  A deterministic pure-Python/NumPy
    workload scales with the same steal, so cross-round comparisons can
    check the gauge before reading a regression into the numbers:
    quiet windows measure ~its minimum; a 2x-elevated gauge means the
    engine numbers are ~2x mood-inflated too.
    """
    import numpy as np

    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        rng = np.random.default_rng(7)
        a = rng.standard_normal(2_000_000)
        for _ in range(10):
            # elementwise only — numpy runs these single-threaded, so
            # the gauge reads ONE core's steal, not BLAS parallelism
            a = np.tanh(a * 0.5) + np.sqrt(np.abs(a) + 1.0)
        h = 0
        for i in range(300_000):
            h = (h * 1_000_003 + i) & 0xFFFFFFFFFFFF
        best = min(best, time.time() - t0)
    return round(best, 3)


if __name__ == "__main__":
    main()
