"""Structured Streaming rollup == batch rollup on the same input.

Analog of GenTS's parallel-equals-serial assertion
(``gents/tests/test_parallel.py:14-41``), here stream-equals-batch.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from gents_spark.operators.rollup import rollup
from gents_spark.streaming.rollup_stream import run_stream_to_parquet
from gents_spark.synth import synth_sequences
from gents_spark.timeparse import with_event_time


def test_stream_matches_batch(spark, tmp_path):
    in_path = str(tmp_path / "seqs")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    seqs = synth_sequences(spark, 2, 500, n_tok_lo=8, n_tok_hi=32)
    seqs.repartition(4).write.parquet(in_path)

    q = run_stream_to_parquet(
        spark, in_path, out_path, ckpt, tier="1m", step_s=10, watermark="1 minute"
    )
    assert q.awaitTermination(120)

    got = (
        spark.read.parquet(out_path)
        .select("source", "bucket_start", "cnt", "sum_tok", "min_tok", "max_tok")
        .orderBy("source", "bucket_start")
        .collect()
    )
    raw = with_event_time(spark.read.parquet(in_path), step_s=10)
    exp = (
        rollup(raw, "1m", with_percentiles=False)
        .select("source", "bucket_start", "cnt", "sum_tok", "min_tok", "max_tok")
        .orderBy("source", "bucket_start")
        .collect()
    )
    # availableNow + append: windows at the stream's tail can be withheld
    # by the watermark; everything emitted must match batch exactly, and
    # coverage must be nearly complete.
    exp_map = {(r["source"], r["bucket_start"]): r for r in exp}
    assert len(got) >= 0.9 * len(exp)
    for r in got:
        e = exp_map[(r["source"], r["bucket_start"])]
        assert (r["cnt"], r["sum_tok"], r["min_tok"], r["max_tok"]) == (
            e["cnt"], e["sum_tok"], e["min_tok"], e["max_tok"],
        )


def test_stream_late_file_reconciles_to_batch_truth(spark, tmp_path):
    """The lambda split, closed end-to-end: the stream finishes, a LATE
    file lands post-watermark (its rows would be dropped by streaming
    state), and the batch side — manifest fingerprints + reconcile() —
    detects the affected chunks, invalidates them, and a resumed batch
    build converges the tier store to full-input truth (round-2 VERDICT
    #5: an acting path, not a docstring)."""
    from gents_spark.pipeline import TierPipeline
    from gents_spark.plans.manifest import read_tier

    in_path = str(tmp_path / "seqs3")
    out_dir = str(tmp_path / "store3")
    stream_out = str(tmp_path / "sout3")
    ckpt = str(tmp_path / "sckpt3")
    synth_sequences(spark, 2, 400).write.parquet(in_path)

    # stream drains the initial input; batch store built from the same
    q = run_stream_to_parquet(
        spark, in_path, stream_out, ckpt, tier="1h", step_s=3600,
        watermark="1 minute",
    )
    assert q.awaitTermination(120)
    pipe = TierPipeline(spark, step_s=3600, tiers=["1h"], gapfill_mode=None)
    pipe.run(spark.read.parquet(in_path), out_dir, run_id="b1")

    # late file arrives: duplicates of the EARLIEST sequences — far
    # below the stream's persisted watermark
    late = (
        spark.read.parquet(in_path)
        .orderBy("doc_id")
        .limit(3)
        .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("#9")))
    )
    late.write.mode("append").parquet(in_path)
    full = spark.read.parquet(in_path)

    # the stream processes the new file but DROPS its rows (append mode,
    # event times below the checkpointed watermark) — stream output
    # stays short of the truth
    q2 = run_stream_to_parquet(
        spark, in_path, stream_out, ckpt, tier="1h", step_s=3600,
        watermark="1 minute",
    )
    q2.awaitTermination(120)
    stream_cnt = (
        spark.read.parquet(stream_out).agg(F.sum("cnt")).collect()[0][0]
    )
    assert stream_cnt < full.count()

    rep = pipe.reconcile(full, out_dir, run_id="rec")
    assert rep["n_invalidated"] > 0
    pipe.run(full, out_dir, run_id="b2", resume=True)

    got = sorted(
        map(
            tuple,
            read_tier(spark, out_dir + "/tiers", "1h")
            .select("source", "bucket_start", "cnt", "sum_tok")
            .collect(),
        )
    )
    raw = with_event_time(full, step_s=3600)
    exp = sorted(
        map(
            tuple,
            rollup(raw, "1h", with_percentiles=False)
            .select("source", "bucket_start", "cnt", "sum_tok")
            .collect(),
        )
    )
    assert got == exp


def test_stream_bucket_assignment_is_date_trunc(spark, tmp_path):
    """window().start must equal date_trunc — tier parity invariant."""
    in_path = str(tmp_path / "seqs2")
    out_path = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    synth_sequences(spark, 1, 300).write.parquet(in_path)
    q = run_stream_to_parquet(spark, in_path, out_path, ckpt, tier="1h", step_s=60)
    assert q.awaitTermination(120)
    out = spark.read.parquet(out_path)
    bad = out.filter(
        F.col("bucket_start") != F.date_trunc("hour", "bucket_start")
    ).count()
    assert bad == 0


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Native session_window stream == batch sessionize on the same
    events (sentinel rows flush the watermark past every real session;
    they are excluded from the comparison)."""
    from datetime import datetime, timedelta

    from gents_spark.operators.sessions import session_stats
    from gents_spark.streaming.sessions_stream import (
        run_sessions_stream_to_parquet,
    )

    t0 = datetime(2024, 5, 1, 8, 0, 0)
    rows = []
    for u in (1, 2, 3):
        # two sessions per user: 3 events 5min apart, 2h break, 2 more
        for i in range(3):
            rows.append((u, t0 + timedelta(minutes=5 * i + u), 1.5 * u))
        for i in range(2):
            rows.append(
                (u, t0 + timedelta(hours=2, minutes=5 * i + u), 2.0)
            )
    # watermark flush sentinel: one far-future event per user
    for u in (1, 2, 3):
        rows.append((u, t0 + timedelta(days=2), 0.0))
    ev = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double"
    )
    in_path = str(tmp_path / "ev")
    ev.repartition(3).write.parquet(in_path)

    q = run_sessions_stream_to_parquet(
        spark, in_path, str(tmp_path / "sess_out"),
        str(tmp_path / "sess_ckpt"), gap="30 minutes",
        watermark="1 minute",
    )
    assert q.awaitTermination(120)

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_val)
        for r in spark.read.parquet(str(tmp_path / "sess_out")).collect()
        if r.session_start < t0 + timedelta(days=1)
    )
    batch = session_stats(
        spark.read.parquet(in_path), key="user_id", ts="ts", gap_s=1800
    )
    exp = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_val)
        for r in batch.collect()
        if r.session_start < t0 + timedelta(days=1)
    )
    assert got == exp
    assert len(exp) == 6  # 2 sessions x 3 users


def test_streaming_dedup_first_seen_wins(spark, tmp_path):
    """Streaming exact dedup == batch exact dedup on the content
    fingerprint: duplicated token arrays across files collapse to one
    surviving row per fingerprint; uniques all pass; output fingerprint
    set equals the batch-distinct set."""
    from gents_spark.streaming.dedup_stream import (
        streaming_dedup,
        token_fingerprint,
    )
    from gents_spark.streaming.rollup_stream import read_sequences_stream

    in_path = str(tmp_path / "seqs")
    out_path = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")

    base = synth_sequences(spark, 2, 300, n_tok_lo=8, n_tok_hi=32)
    # re-emit 50 docs' CONTENT under shard-suffixed ids (same tokens)
    dups = (
        base.orderBy("doc_id")
        .limit(50)
        .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("#1")))
    )
    base.write.parquet(in_path)
    dups.write.mode("append").parquet(in_path)

    q = (
        streaming_dedup(
            read_sequences_stream(spark, in_path),
            step_s=10,
            watermark="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = spark.read.parquet(out_path)
    batch = with_event_time(spark.read.parquet(in_path), step_s=10)
    exp_fps = {
        r["fp"]
        for r in batch.select(
            token_fingerprint().alias("fp")
        ).distinct().collect()
    }
    got_fps = [r["fingerprint"] for r in got.select("fingerprint").collect()]
    # one survivor per distinct content, nothing dropped, nothing extra
    assert len(got_fps) == len(set(got_fps)) == len(exp_fps)
    assert set(got_fps) == exp_fps
    assert got.count() == base.count()  # the 50 re-emissions are gone


def test_stream_tier_ingest_into_manifest_layout(spark, tmp_path):
    """Streaming tier MAINTENANCE end-to-end: micro-batch increments
    land inside the batch pipeline's tiers/+manifest layout, every
    emitted bucket matches the batch aggregation EXACTLY, increment
    rows demote chunks from done, and a subsequent batch resume
    consolidates to exact batch truth with no duplicates."""
    from gents_spark.pipeline import TierPipeline
    from gents_spark.plans.manifest import (
        completed_tier_chunks,
        read_manifest,
        read_tier,
    )
    from gents_spark.streaming.rollup_stream import stream_tier_ingest
    from gents_spark.timeparse import parse_seq

    in_path = str(tmp_path / "seqs")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def batch_tier():
        ev = with_event_time(spark.read.parquet(in_path), step_s=10)
        return ev.groupBy(
            "source",
            F.date_trunc("minute", "event_time").alias("bucket_start"),
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("n_tok").cast("long")).alias("sum_tok"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
        )

    def run_stream():
        q = stream_tier_ingest(
            spark, in_path, out_dir, ckpt,
            tier="1m", step_s=10, watermark="1 minute",
        )
        q.awaitTermination(180)

    def done_1m():
        return {
            c for t, c in completed_tier_chunks(spark, out_dir + "/manifest")
            if t == "1m"
        }

    def tier_rows():
        return {
            (r["source"], r["bucket_start"]): (
                r["cnt"], r["sum_tok"], r["min_tok"], r["max_tok"]
            )
            for r in read_tier(spark, out_dir + "/tiers", "1m").collect()
        }

    seqs1 = synth_sequences(spark, 2, 400, n_tok_lo=8, n_tok_hi=32)
    seqs1.repartition(4).write.mode("append").parquet(in_path)
    run_stream()

    got1 = tier_rows()
    batch1 = {
        (r["source"], r["bucket_start"]): (
            r["cnt"], r["sum_tok"], r["min_tok"], r["max_tok"]
        )
        for r in batch_tier().collect()
    }
    assert got1, "stream emitted nothing"
    for k, v in got1.items():
        assert batch1[k] == v, k  # every emitted bucket exact
    # increments never mark chunks done (demote semantics)
    assert len(done_1m()) == 0
    m = read_manifest(out_dir + "/manifest")
    assert "increment" in m.column("status").to_pylist()

    # later data (well past the watermark) -> run 2 emits the held-back
    # tail of batch 1 plus most of batch 2, through the SAME checkpoint
    seqs2 = parse_seq(synth_sequences(spark, 2, 300, n_tok_lo=8, n_tok_hi=32))
    seqs2 = seqs2.select(
        F.concat(
            F.col("source"), F.lit("/"),
            F.lpad((F.col("seq") + 40000).cast("string"), 10, "0"),
        ).alias("doc_id"),
        "tokens", "n_tok", "source",
    )
    seqs2.repartition(4).write.mode("append").parquet(in_path)
    run_stream()

    got2 = tier_rows()
    batch2 = {
        (r["source"], r["bucket_start"]): (
            r["cnt"], r["sum_tok"], r["min_tok"], r["max_tok"]
        )
        for r in batch_tier().collect()
    }
    assert len(got2) > len(got1)
    for k, v in got2.items():
        assert batch2[k] == v, k
    # no duplicate (source, bucket) rows from the two append runs
    n_rows = read_tier(spark, out_dir + "/tiers", "1m").count()
    assert n_rows == len(got2)

    # batch consolidation: a batch resume rebuilds the chunks the
    # increments demoted, replacing the streamed partitions -> exact
    # batch truth, no dups
    TierPipeline(spark, step_s=10, tiers=["1m"], gapfill_mode=None).run(
        spark.read.parquet(in_path), out_dir, resume=True
    )
    got3 = tier_rows()
    assert got3 == batch2
    assert read_tier(spark, out_dir + "/tiers", "1m").count() == len(batch2)
    assert len(done_1m()) > 0


def test_stream_matches_batch_custom_grain(spark, tmp_path):
    """r05 '<N>s' grains in streaming: a 900s streamed tier's emitted
    windows equal the batch rollup at the same custom grain (epoch
    alignment of F.window == time_bucket's default origin)."""
    in_path = str(tmp_path / "seqs_g")
    out_path = str(tmp_path / "out_g")
    ckpt = str(tmp_path / "ckpt_g")

    seqs = synth_sequences(spark, 2, 400, n_tok_lo=8, n_tok_hi=32)
    seqs.repartition(4).write.parquet(in_path)

    q = run_stream_to_parquet(
        spark, in_path, out_path, ckpt, tier="900s", step_s=60,
        watermark="1 minute",
    )
    assert q.awaitTermination(120)

    got = spark.read.parquet(out_path).collect()
    assert got
    raw = with_event_time(spark.read.parquet(in_path), step_s=60)
    exp_map = {
        (r["source"], r["bucket_start"]): r
        for r in rollup(raw, "900s", with_percentiles=False).collect()
    }
    for r in got:
        assert int(r["bucket_start"].timestamp()) % 900 == 0
        e = exp_map[(r["source"], r["bucket_start"])]
        assert (r["cnt"], r["sum_tok"], r["min_tok"], r["max_tok"]) == (
            e["cnt"], e["sum_tok"], e["min_tok"], e["max_tok"],
        )
    assert len(got) >= 0.9 * len(exp_map)


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    """Hopping windows under a watermark: a streamed 1h/30m sliding
    aggregate's emitted windows equal the batch sliding_rollup — the
    streaming twin of sliding_1h_30m (Spark's F.window slide works
    identically in append-mode streaming)."""
    import pyspark.sql.functions as F

    from gents_spark.operators.rollup import sliding_rollup

    in_path = str(tmp_path / "seqs_sw")
    out_path = str(tmp_path / "out_sw")
    ckpt = str(tmp_path / "ckpt_sw")
    seqs = synth_sequences(spark, 2, 400, n_tok_lo=8, n_tok_hi=32)
    seqs.repartition(4).write.parquet(in_path)

    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        ).parquet(in_path)
    )
    ev = with_event_time(stream, step_s=60).withWatermark(
        "event_time", "1 minute"
    )
    agg = (
        ev.groupBy(
            "source", F.window("event_time", "1 hour", "30 minutes")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("n_tok").cast("long")).alias("sum_v"),
        )
        .select(
            "source", F.col("window.start").alias("bucket_start"),
            "cnt", "sum_v",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = spark.read.parquet(out_path).collect()
    assert got
    raw = with_event_time(spark.read.parquet(in_path), step_s=60)
    exp = {
        (r["source"], r["bucket_start"]): (r["cnt"], r["sum_v"])
        for r in sliding_rollup(
            raw, 3600, 1800, "source", "event_time", "n_tok"
        ).collect()
    }
    for r in got:
        assert exp[(r["source"], r["bucket_start"])] == (
            r["cnt"], r["sum_v"],
        )
    assert len(got) >= 0.8 * len(exp)  # watermark may withhold the tail
