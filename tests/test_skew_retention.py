"""Retention expiry (M2) tests."""

from __future__ import annotations

import os

from gents_spark.operators.retention import expirable_chunks, expire
from gents_spark.pipeline import TierPipeline
from gents_spark.plans.manifest import read_tier
from gents_spark.synth import synth_sequences


def test_retention_requires_coarser_cover(spark, tmp_path):
    """'Generate before you delete': 1m chunks expire only where 1h is
    committed (GenTS integrity mindset, timeseries.py:136-142)."""
    out = str(tmp_path / "ret")
    seqs = synth_sequences(spark, 2, 600)
    # build only the 1m tier first
    pipe_1m = TierPipeline(spark, step_s=3600, tiers=["1m"], gapfill_mode=None)
    pipe_1m.run(seqs, out, run_id="r1")
    # nothing expirable: no coarser (1h) tier committed yet
    assert expirable_chunks(spark, out + "/manifest", "1m", "2099-01-01") == []
    # now build 1h; everything old becomes expirable
    TierPipeline(spark, step_s=3600, tiers=["1h"], gapfill_mode=None).run(
        seqs, out, run_id="r2"
    )
    chunks = expirable_chunks(spark, out + "/manifest", "1m", "2026-01-05")
    assert chunks and all(c < "2026-01-05" for c in chunks)

    removed = expire(spark, out + "/tiers", out + "/manifest", "1m", "2026-01-05")
    assert removed == chunks
    for c in removed:
        assert not os.path.isdir(os.path.join(out, "tiers", "tier=1m", f"chunk={c}"))
    # remaining 1m data still readable; 1h untouched
    assert read_tier(spark, out + "/tiers", "1m").count() > 0
    assert read_tier(spark, out + "/tiers", "1h").count() > 0


def test_retention_coarse_grain_no_overdelete(spark, tmp_path):
    """Month-grain chunks only expire when the WHOLE month is past the
    cutoff (round-1 ADVICE: '2026-01' < '2026-01-15' lexicographic
    over-deletion)."""
    out = str(tmp_path / "retm")
    seqs = synth_sequences(spark, 2, 2000)  # spans several days of 2026-01
    for tiers, rid in ((["1m"], "r1"), (["1h"], "r2")):
        TierPipeline(
            spark, step_s=3600, tiers=tiers, gapfill_mode=None,
            chunk_grain="month",
        ).run(seqs, out, run_id=rid)
    # cutoff mid-month: the 2026-01 month chunk contains buckets AFTER the
    # cutoff, so nothing may expire
    assert expirable_chunks(spark, out + "/manifest", "1m", "2026-01-15") == []
    assert expire(spark, out + "/tiers", out + "/manifest", "1m", "2026-01-15") == []
    assert read_tier(spark, out + "/tiers", "1m").count() > 0
    # cutoff at/after month end: now it expires
    assert expirable_chunks(spark, out + "/manifest", "1m", "2026-03-01")


def test_retention_custom_grain_gates_on_nearest_coarser(spark, tmp_path):
    """r05 '<N>s' grains in retention: a 900s tier expires only where
    the NEAREST committed coarser tier covers it (here 1h — chosen over
    1d by grain width); alone it never expires (no cover -> nothing),
    and the chain works without any hardcoded tier ordering."""
    out = str(tmp_path / "retg")
    seqs = synth_sequences(spark, 2, 600)
    TierPipeline(
        spark, step_s=3600, tiers=["900s"], gapfill_mode=None
    ).run(seqs, out, run_id="g1")
    # 900s alone: no coarser committed tier -> nothing expirable
    assert expirable_chunks(spark, out + "/manifest", "900s",
                            "2099-01-01") == []
    for tiers, rid in ((["1d"], "g2"), (["1h"], "g3")):
        TierPipeline(
            spark, step_s=3600, tiers=tiers, gapfill_mode=None
        ).run(seqs, out, run_id=rid)
    chunks = expirable_chunks(spark, out + "/manifest", "900s",
                              "2026-01-05")
    assert chunks and all(c < "2026-01-05" for c in chunks)
    removed = expire(spark, out + "/tiers", out + "/manifest", "900s",
                     "2026-01-05")
    assert removed == chunks
    assert read_tier(spark, out + "/tiers", "900s").count() > 0
    assert read_tier(spark, out + "/tiers", "1h").count() > 0


def test_retention_top_tier_ungated_when_rebuildable(spark, tmp_path):
    """The coarsest committed tier expires UNGATED — but only because
    finer committed tiers can rebuild it; on a single-tier deployment
    (covered by test_retention_custom_grain_gates_on_nearest_coarser)
    nothing expires.  Partial intermediate tiers cannot block expiry a
    complete coarser cover justifies (ANY-cover rule)."""
    out = str(tmp_path / "rett")
    seqs = synth_sequences(spark, 2, 600)
    for tiers, rid in ((["1m"], "t1"), (["1d"], "t2")):
        TierPipeline(
            spark, step_s=3600, tiers=tiers, gapfill_mode=None
        ).run(seqs, out, run_id=rid)
    # 1d tops the cascade and 1m exists to rebuild it -> ungated
    chunks = expirable_chunks(spark, out + "/manifest", "1d", "2026-01-05")
    assert chunks and all(c < "2026-01-05" for c in chunks)
    # 1m gates on the ANY coarser cover (1d here, no 1h needed)
    chunks_1m = expirable_chunks(
        spark, out + "/manifest", "1m", "2026-01-05"
    )
    assert chunks_1m == chunks


def test_expired_chunks_dont_cover_and_resume_skips(spark, tmp_path):
    """Retention lifecycle: expiring 1m writes status='expired' rows, so
    (a) a later resume does NOT resurrect the expired chunks from raw,
    and (b) the top tier (1d) can only expire chunks where a finer DONE
    chunk still exists to rebuild it — ranges whose finer copies were
    themselves expired are no longer deletable (last-copy protection)."""
    out = str(tmp_path / "rlc")
    seqs = synth_sequences(spark, 2, 600)
    for tiers, rid in ((["1m"], "l1"), (["1d"], "l2")):
        TierPipeline(
            spark, step_s=3600, tiers=tiers, gapfill_mode=None
        ).run(seqs, out, run_id=rid)

    removed_1m = expire(
        spark, out + "/tiers", out + "/manifest", "1m", "2026-01-03"
    )
    assert removed_1m
    # (a) resume skips the expired chunks instead of rebuilding them
    import json

    m = TierPipeline(
        spark, step_s=3600, tiers=["1m"], gapfill_mode=None
    ).run(seqs, out, run_id="l3", resume=True)
    assert m["tiers"]["1m"]["written"] == 0
    import os

    for c in removed_1m:
        assert not os.path.isdir(
            os.path.join(out, "tiers", "tier=1m", f"chunk={c}")
        )
    # (b) 1d ungated expiry is bounded by surviving finer DONE chunks:
    # the ranges whose 1m was expired cannot be deleted from 1d too
    exp_1d = expirable_chunks(spark, out + "/manifest", "1d", "2099-01-01")
    assert set(exp_1d).isdisjoint(set(removed_1m))
    assert exp_1d  # later ranges (1m still done) remain reclaimable
