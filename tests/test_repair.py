"""A repair (``reconcile`` + ``run(resume=True)``) equals a cold build.

Late rows land in one or two sources; the repaired tier store, the
neighbour chunks of the late rows included, must equal a cold build on
the late-augmented input row for row on every column (payload bytes,
sketch maps, HLL sketches by content).  The resume recomputes only the
sources whose rows changed and copies every other source's rows of the
stale units from the written files.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gents_spark import pipeline
from gents_spark.functions.codec import decode_i64
from gents_spark.pipeline import TierPipeline
from gents_spark.plans.manifest import append_tier_increment, read_tier
from gents_spark.synth import synth_sequences
from tests.job_groups import actions_before_write
from tests.tier_reference import reference_tiers, row_multiset, written_tiers

#: hour indices from 2026-01-01 00:00: the last bucket of January and
#: the first of March
JAN_LAST, MAR_FIRST = 743, 1416


def _seq():
    return F.substring_index(
        F.substring_index("doc_id", "#", 1), "/", -1
    ).cast("long")


def _late(rows, seqs: list[int]):
    """Copies of ``rows`` at ``seqs`` under sharded ``#1`` ids."""
    return rows.filter(_seq().isin(seqs)).withColumn(
        "doc_id", F.concat("doc_id", F.lit("#1"))
    )


@pytest.fixture(scope="module")
def full(spark):
    # 3 sources, one row an hour from Jan 1 to Mar 10 (month chunks)
    return synth_sequences(spark, 3, 1650, n_tok_lo=4, n_tok_hi=40).persist()


@pytest.fixture(scope="module")
def base(full):
    # src_01 misses Jan 31 20:00 - Feb 1 05:00 and Feb 28 20:00 -
    # Mar 1 05:00: its fills cross both month boundaries
    hole = (F.col("source") == "src_01") & (
        _seq().between(740, 749) | _seq().between(1412, 1421)
    )
    return full.filter(~hole).persist()


@pytest.fixture(scope="module")
def augmented(full, base):
    # src_01 gains real rows inside its holes, in the last bucket of
    # January and the first of March; src_00 gains a second row in both
    late = _late(
        full.filter(F.col("source").isin("src_00", "src_01")),
        [JAN_LAST, MAR_FIRST],
    )
    return base.unionByName(late).persist()


def _assert_same_store(spark, got_dir: str, want_dir: str) -> None:
    got, want = written_tiers(spark, got_dir), written_tiers(spark, want_dir)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(want.columns)
    assert row_multiset(got, cols) == row_multiset(want, cols)


CASES = {
    "locf_sketches": dict(
        gapfill_mode="locf", store_sketches=True, store_distinct=True
    ),
    "linear_all_payloads": dict(gapfill_mode="linear", payloads="all"),
    "zero_auto_percentiles": dict(gapfill_mode="zero"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_repair_equals_cold_build(
    spark, base, augmented, tmp_path, monkeypatch, case
):
    kw = dict(step_s=3600, tiers=["1h", "1d"], chunk_grain="month",
              validate=False, **CASES[case])
    pipe = TierPipeline(spark, **kw)
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(base, out, run_id="build")
    rep = pipe.reconcile(augmented, out, run_id="rec")
    # src_01's February 1h rows begin and end with fills that January's
    # and March's rows start and end: February is marked too (under
    # zero as well, where only the fills' existence depends on them)
    stale = {("1h", "2026-01"), ("1d", "2026-01"), ("1h", "2026-02"),
             ("1h", "2026-03"), ("1d", "2026-03")}
    assert set(rep["stale"]) == stale

    rolled = []
    real_rollup = pipeline.rollup

    def recording_rollup(df, *a, **k):
        rolled.append(df)
        return real_rollup(df, *a, **k)

    monkeypatch.setattr(pipeline, "rollup", recording_rollup)
    # one planning action before the write: the raw statistics and the
    # stale units' written sums are collected together
    m, before = actions_before_write(
        spark, f"repair-{case}", pipe.run, augmented, out, run_id="resume",
        resume=True,
    )
    monkeypatch.undo()
    assert len(before) == 1, before
    assert m["sources_recomputed"] == 2
    recomputed = rolled[0].select("source").distinct().collect()
    assert {r["source"] for r in recomputed} == {"src_00", "src_01"}
    assert sum(t["written"] for t in m["tiers"].values()) == len(stale)

    TierPipeline(spark, **kw).run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)
    assert pipe.reconcile(augmented, out, run_id="rec2")["stale"] == []


def _hourly(spark, spans: list[tuple[int, int]], late: int | None = None,
            others: dict[str, list[tuple[int, int]]] | None = None):
    """Source ``src_00``, one row an hour (n_tok 5) over ``spans`` of
    hour indices, plus an optional late row (n_tok 9); ``others`` adds
    more sources the same way."""
    spans_of = {"src_00": spans, **(others or {})}
    rows = [(f"{s}/{h:010d}", [1] * 5, 5, s)
            for s, sp in spans_of.items() for lo, hi in sp
            for h in range(lo, hi + 1)]
    if late is not None:
        rows.append((f"src_00/{late:010d}#1", [1] * 9, 9, "src_00"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_all_payloads_order_tied_raw_rows_like_the_reference(
    spark, tmp_path
):
    """Late ``#1`` shards share their event_time with the rows they
    repeat.  Under ``payloads='all'`` a tie orders by ``n_tok``, as the
    reference's ``sort_array(struct(event_time, n_tok))`` does: a shard
    with fewer tokens goes first, one with more goes last, whatever
    order the rows arrive in.  Both the repaired store and a cold build
    equal the reference."""
    kw = dict(step_s=3600, tiers=["1h", "1d"], chunk_grain="month",
              gapfill_mode="linear", payloads="all")
    pipe = TierPipeline(spark, **kw)
    base = _hourly(spark, [(0, 800)])
    shards = spark.createDataFrame(
        [(f"src_00/{h:010d}#1", [1] * n, n, "src_00")
         for h, n in ((10, 7), (JAN_LAST, 3))],
        base.schema,
    )
    augmented = shards.unionByName(base)
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(base, out, run_id="build")
    assert pipe.reconcile(augmented, out, run_id="rec")["stale"]
    pipe.run(augmented, out, run_id="resume", resume=True)
    TierPipeline(spark, **kw).run(augmented, cold, run_id="cold")
    ref = reference_tiers(pipe, augmented)
    cols = sorted(ref.columns)
    want = row_multiset(ref, cols)
    for got in (out, cold):
        assert row_multiset(written_tiers(spark, got), cols) == want
    tied = {
        r["bucket_start"].hour: list(decode_i64(bytes(r["payload"])))
        for r in read_tier(spark, out + "/tiers", "1h")
        .filter("cnt = 2").collect()
    }
    assert tied == {10: [5, 7], 23: [3, 5]}


def test_repair_rewrites_the_filled_head_of_the_next_chunk(spark, tmp_path):
    """A late row in the last hour of January ends the fill that runs
    into February: February's filled head must carry its value."""
    pipe = TierPipeline(spark, step_s=3600, tiers=["1h"], chunk_grain="month",
                        payloads=None)
    # hours up to Jan 31 22:00, then from Feb 1 03:00
    spans = [(0, 742), (747, 800)]
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(_hourly(spark, spans), out, run_id="build")
    augmented = _hourly(spark, spans, late=JAN_LAST)
    rep = pipe.reconcile(augmented, out, run_id="rec")
    assert rep["stale"] == [("1h", "2026-01"), ("1h", "2026-02")]
    pipe.run(augmented, out, run_id="resume", resume=True)
    head = (
        read_tier(spark, out + "/tiers", "1h")
        .filter("bucket_start < '2026-02-01 03:00:00' AND filled")
        .select("sum_tok")
        .collect()
    )
    assert [r["sum_tok"] for r in head] == [9, 9, 9]
    pipe.run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)


def test_repair_follows_a_gap_longer_than_a_chunk(spark, tmp_path):
    """Under day chunks the fill after a late row runs through two whole
    filled days into a third: all three are rewritten."""
    pipe = TierPipeline(spark, step_s=3600, tiers=["1h"], payloads=None)
    # hours up to Jan 5 22:00, then from Jan 8 03:00
    spans = [(0, 118), (171, 200)]
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(_hourly(spark, spans), out, run_id="build")
    augmented = _hourly(spark, spans, late=119)
    rep = pipe.reconcile(augmented, out, run_id="rec")
    assert rep["stale"] == [
        ("1h", f"2026-01-{d:02d}") for d in (5, 6, 7, 8)
    ]
    pipe.run(augmented, out, run_id="resume", resume=True)
    pipe.run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)


def test_increment_demoted_unit_is_rebuilt_whole(
    spark, base, augmented, tmp_path
):
    """A pending unit a streaming increment demoted needs every source:
    the resume builds whole, the stale units included."""
    kw = dict(step_s=3600, tiers=["1h", "1d"], chunk_grain="month",
              validate=False)
    pipe = TierPipeline(spark, **kw)
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(base, out, run_id="build")
    assert pipe.reconcile(augmented, out, run_id="rec")["stale"]
    # a streamed increment lands on February's 1d unit
    inc = read_tier(spark, out + "/tiers", "1d").filter(
        "bucket_start = '2026-02-10' AND source = 'src_02'"
    ).select("source", "tier", "bucket_start", "cnt", "sum_tok")
    append_tier_increment(spark, inc, "1d", out + "/tiers", out + "/manifest",
                          run_id="stream-1", chunk_grain="month")
    m = pipe.run(augmented, out, run_id="resume", resume=True)
    assert "sources_recomputed" not in m
    assert m["tiers"]["1d"]["written"] == 3
    pipe.run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)


#: (src_00's spans, its late hour, the unit whose fills the late row
#: creates): a new first row before February's start fills February's
#: head up to src_00's old first row (Feb 3 10:00); a new last row
#: after January's end fills January's tail from src_00's old last row
#: (Jan 5 23:00)
ENDS = {
    "new_first_row": ([(802, 900)], JAN_LAST, ("1h", "2026-02")),
    "new_last_row": ([(0, 119)], 746, ("1h", "2026-01")),
}


@pytest.mark.parametrize("mode", ["locf", "linear", "zero"])
@pytest.mark.parametrize("end", sorted(ENDS))
def test_repair_creates_fills_across_a_boundary(spark, tmp_path, mode, end):
    """A late row that becomes a source's new first (last) row across a
    chunk boundary makes fills start to exist in the neighbour chunk,
    whose rows of the source began (ended) with a real row."""
    spans, late, neighbour = ENDS[end]
    # src_01 covers both months, so both chunks are committed
    others = {"src_01": [(0, 1000)]}
    pipe = TierPipeline(spark, step_s=3600, tiers=["1h", "1d"],
                        chunk_grain="month", gapfill_mode=mode, payloads=None)
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(_hourly(spark, spans, others=others), out, run_id="build")
    augmented = _hourly(spark, spans, late=late, others=others)
    rep = pipe.reconcile(augmented, out, run_id="rec")
    assert neighbour in rep["stale"]
    m = pipe.run(augmented, out, run_id="resume", resume=True)
    assert m["sources_recomputed"] == 1
    pipe.run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)


@pytest.mark.parametrize("fail_after", [1, 3])
def test_interrupted_repair_converges(
    spark, base, augmented, tmp_path, fail_after
):
    """A repair killed after its first unit, or after every 1h unit
    (units are written tier-major, finest first), resumes to a cold
    build: each pending unit's own files decide what it recomputes, so
    the 1d units still see the late rows the committed 1h units hold
    and the 1h February unit still rewrites src_01's fills."""
    kw = dict(step_s=3600, tiers=["1h", "1d"], chunk_grain="month",
              validate=False)
    pipe = TierPipeline(spark, **kw)
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(base, out, run_id="build")
    assert len(pipe.reconcile(augmented, out, run_id="rec")["stale"]) == 5
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(augmented, out, run_id="killed", resume=True,
                 fail_after_chunks=fail_after)
    m = pipe.run(augmented, out, run_id="resume", resume=True)
    assert m["sources_recomputed"] == 2
    assert sum(t["written"] for t in m["tiers"].values()) == 5 - fail_after
    TierPipeline(spark, **kw).run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)
    assert pipe.reconcile(augmented, out, run_id="rec2")["stale"] == []


def test_repair_that_every_source_needs_builds_whole(spark, tmp_path):
    """Late rows in every source: the repair recomputes all of them, so
    it reads back no written rows and builds whole."""
    pipe = TierPipeline(spark, step_s=3600, tiers=["1h"], chunk_grain="month",
                        payloads=None)
    spans, others = [(0, 742), (747, 800)], {"src_01": [(0, 800)]}
    out, cold = str(tmp_path / "repaired"), str(tmp_path / "cold")
    pipe.run(_hourly(spark, spans, others=others), out, run_id="build")
    augmented = _hourly(spark, spans, late=JAN_LAST, others=others).union(
        spark.createDataFrame([("src_01/0000000010#1", [1] * 9, 9, "src_01")])
    )
    assert pipe.reconcile(augmented, out, run_id="rec")["stale"]
    m = pipe.run(augmented, out, run_id="resume", resume=True)
    assert "sources_recomputed" not in m
    pipe.run(augmented, cold, run_id="cold")
    _assert_same_store(spark, out, cold)
