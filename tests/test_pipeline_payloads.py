"""End-to-end: pipeline tier rows carry decodable Gorilla/DoD payloads."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from gents_spark.functions.codec import decode_i64
from gents_spark.pipeline import TierPipeline
from gents_spark.plans.manifest import read_tier
from gents_spark.synth import synth_sequences


def test_tier_payloads_decode_to_finer_stream(spark, tmp_path):
    out = str(tmp_path / "p")
    seqs = synth_sequences(spark, 2, 900)  # step 10s -> 2.5h per source
    TierPipeline(
        spark, step_s=10, tiers=["1m", "1h"], gapfill_mode=None, payloads="all"
    ).run(seqs, out, run_id="pay")
    t1m = read_tier(spark, out + "/tiers", "1m")
    t1h = read_tier(spark, out + "/tiers", "1h")

    # expected per-hour stream = 1m sum_tok ordered by bucket
    exp = {
        (r["source"], r["hb"]): r["stream"]
        for r in t1m.groupBy(
            "source", F.date_trunc("hour", "bucket_start").alias("hb")
        )
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("bucket_start", "sum_tok"))),
                lambda s: s["sum_tok"].cast("long"),
            ).alias("stream")
        )
        .collect()
    }
    rows = t1h.select("source", "bucket_start", "payload", "sum_tok").collect()
    assert rows and all(r["payload"] is not None for r in rows)
    for r in rows:
        dec = decode_i64(bytes(r["payload"]))
        stream = exp[(r["source"], r["bucket_start"])]
        assert list(dec) == stream
        # payload stream re-aggregates to the row's own stats
        assert int(np.sum(dec)) == r["sum_tok"]


def test_raw_tier_payload_is_ntok_stream(spark, tmp_path):
    out = str(tmp_path / "p2")
    seqs = synth_sequences(spark, 1, 120)
    TierPipeline(
        spark, step_s=10, tiers=["1m"], gapfill_mode=None, payloads="all"
    ).run(seqs, out, run_id="pay2")
    t1m = read_tier(spark, out + "/tiers", "1m").collect()
    for r in t1m:
        dec = decode_i64(bytes(r["payload"]))
        assert len(dec) == r["cnt"]
        assert int(np.sum(dec)) == r["sum_tok"]
        assert int(np.min(dec)) == r["min_tok"]
        assert int(np.max(dec)) == r["max_tok"]


def test_payloads_under_gapfill(spark, tmp_path):
    """A gap longer than one coarse bucket: the filled 1h rows carry a
    NULL payload, and every real 1h row's payload decodes to the 1m
    tier's non-filled ``sum_tok`` stream of its hour, in bucket order."""
    out = str(tmp_path / "gap")
    seq = F.substring_index("doc_id", "/", -1).cast("long")
    # one row a minute for 6 h; minutes 100..259 (2 h 40 min) missing
    seqs = synth_sequences(spark, 2, 360).filter(~seq.between(100, 259))
    TierPipeline(
        spark, step_s=60, tiers=["1m", "1h"], gapfill_mode="locf",
        payloads="coarse",
    ).run(seqs, out, run_id="gap")
    t1m = read_tier(spark, out + "/tiers", "1m").filter("NOT filled")
    t1h = read_tier(spark, out + "/tiers", "1h")
    exp = {}
    for r in t1m.orderBy("bucket_start").collect():
        hour = r["bucket_start"].replace(minute=0)
        exp.setdefault((r["source"], hour), []).append(r["sum_tok"])
    rows = t1h.select("source", "bucket_start", "filled", "payload").collect()
    filled = [r for r in rows if r["filled"]]
    real = [r for r in rows if not r["filled"]]
    assert len(filled) == 2 * 2 and real
    assert all(r["payload"] is None for r in filled)
    assert {(r["source"], r["bucket_start"]) for r in real} == set(exp)
    for r in real:
        dec = decode_i64(bytes(r["payload"]))
        assert list(dec) == exp[(r["source"], r["bucket_start"])]
