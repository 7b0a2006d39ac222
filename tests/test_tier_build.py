"""The one-plan tier build equals the per-tier composition, row for row.

``TierPipeline.run`` builds every tier from one fan-out aggregate, one
gap-fill pass, one grouped Arrow payload pass and one write;
``tests/tier_reference`` builds the same rows one tier at a time.  Every
column is compared, payload bytes and sketch maps included.
"""

from __future__ import annotations

import re
import time

import pyspark.sql.functions as F
import pytest

from gents_spark import pipeline
from gents_spark.operators import rollup as rollup_ops
from gents_spark.operators.rollup import rollup
from gents_spark.pipeline import TierPipeline
from gents_spark.plans import manifest
from gents_spark.synth import synth_sequences
from gents_spark.timeparse import with_event_time
from tests.job_groups import actions_before_write, actions_of
from tests.tier_reference import reference_tiers, row_multiset, written_tiers


def _with_hole(seqs, lo: int, hi: int):
    """Drop the rows with seq in [lo, hi]: a gap every tier must fill."""
    seq = F.substring_index("doc_id", "/", -1).cast("long")
    return seqs.filter(~seq.between(lo, hi))


@pytest.fixture(scope="module")
def seqs(spark):
    # 2 sources x 600 rows, one per 30 min (12.5 days); rows 100..250
    # (days 3-4) are missing, so the 1m, 1h and 1d tiers all have gaps
    return _with_hole(synth_sequences(spark, 2, 600, n_tok_lo=4, n_tok_hi=40),
                      100, 250).persist()


@pytest.fixture(scope="module")
def month_seqs(spark):
    # one row an hour for 41 days: the hole (hours 700..780) spans the
    # Jan/Feb chunk boundary, so the fill crosses it through the carry
    return _with_hole(synth_sequences(spark, 2, 1000, n_tok_lo=4, n_tok_hi=40),
                      700, 780).persist()


@pytest.fixture(scope="module")
def skewed_seqs(spark):
    # FIXTURES.md `skewed`: src_00 holds 60% of the rows (1,080 of 1,800)
    return synth_sequences(spark, 3, 600, hot_source_frac=0.6,
                           n_tok_lo=4, n_tok_hi=40).persist()


TIERS3 = ["1m", "1h", "1d"]
CASES = {
    "locf": dict(step_s=1800, tiers=TIERS3, gapfill_mode="locf"),
    "linear_all_payloads": dict(
        step_s=1800, tiers=TIERS3, gapfill_mode="linear", payloads="all"
    ),
    "zero_sketches": dict(
        step_s=1800, tiers=TIERS3, gapfill_mode="zero",
        store_sketches=True, store_distinct=True,
    ),
    "no_gapfill": dict(step_s=1800, tiers=TIERS3, gapfill_mode=None),
    "custom_grain": dict(step_s=1800, tiers=["1m", "900s", "1h"]),
    # year chunks: a week bucket nests in its chunk (see CHANGES.md on
    # weeks under day/month chunks)
    "weekly": dict(step_s=1800, tiers=["1d", "1w"], chunk_grain="year"),
    # a hot bucket limit of 0 sends every tier to the sketch; 1 sits
    # between the 1m (1 row) and 1h (2 rows) bucket sizes
    "sketch_percentiles": dict(step_s=1800, tiers=TIERS3),
    "mixed_percentiles": dict(step_s=1800, tiers=["1m", "1h"]),
    "month_chunks": dict(step_s=3600, tiers=["1h", "1d"], chunk_grain="month"),
    "skewed": dict(
        step_s=1800, tiers=TIERS3, store_sketches=True, store_distinct=True
    ),
}
#: the input fixture of each case that does not build from ``seqs``
INPUTS = {"month_chunks": "month_seqs", "skewed": "skewed_seqs"}
#: the lowered ``HOT_BUCKET_LIMIT`` of a case and the percentile path
#: it derives per tier (every other case: exact on every tier)
LIMITS = {
    "sketch_percentiles": (0, dict.fromkeys(TIERS3, "sketch")),
    "mixed_percentiles": (1, {"1m": "exact", "1h": "sketch"}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_one_plan_build_equals_per_tier_reference(
    spark, request, tmp_path, monkeypatch, case
):
    kw = dict(validate=False, **CASES[case])
    pipe = TierPipeline(spark, **kw)
    data = request.getfixturevalue(INPUTS.get(case, "seqs"))
    out = str(tmp_path / case)
    limit, want_modes = LIMITS.get(
        case, (None, dict.fromkeys(pipe.tiers, "exact"))
    )
    if limit is not None:
        monkeypatch.setattr(rollup_ops, "HOT_BUCKET_LIMIT", limit)
    modes = []
    real_rollup = pipeline.rollup

    def recording_rollup(*a, **k):
        modes.append(k["percentile_mode"])
        return real_rollup(*a, **k)

    monkeypatch.setattr(pipeline, "rollup", recording_rollup)
    pipe.run(data, out, run_id=case)
    assert modes == [want_modes]
    got = written_tiers(spark, out)
    ref = reference_tiers(pipe, data)
    assert sorted(got.columns) == sorted(ref.columns)
    cols = sorted(ref.columns)
    want = row_multiset(ref, cols)
    assert want == row_multiset(got, cols)
    assert sum(want.values()) > 0
    if kw.get("gapfill_mode", "locf"):
        assert ref.filter("filled").count() > 0


def test_auto_percentiles_choose_per_tier(spark, seqs):
    """percentile_mode='auto' decides per tier inside the one aggregate:
    a limit between the 1m and 1h bucket sizes keeps 1m exact and sends
    1h to the sketch, each equal to its one-tier rollup (the two paths
    disagree on even-sized buckets, so a single choice would not)."""
    raw = with_event_time(seqs, step_s=60).select("source", "event_time", "n_tok")
    kw = dict(percentile_mode="auto", hot_bucket_limit=10)
    multi = rollup(raw, ["1m", "1h"], **kw)
    ref = rollup(raw, "1m", **kw).unionByName(rollup(raw, "1h", **kw))
    cols = sorted(multi.columns)
    assert row_multiset(multi, cols) == row_multiset(ref, cols)
    exact_1h = rollup(raw, "1h").select("source", "bucket_start", "p50_tok")
    assert exact_1h.exceptAll(
        multi.filter("tier = '1h'").select(*exact_1h.columns)
    ).count() > 0


def test_all_done_resume_plans_nothing(spark, seqs, tmp_path, monkeypatch):
    """A cold build runs one planning job before its write and never
    probes bucket sizes; an all-done resume reads the manifest once,
    runs that one job and returns before any tier DataFrame is built."""
    out = str(tmp_path / "noop")
    pipe = TierPipeline(spark, step_s=1800, tiers=TIERS3, validate=False)

    def refuse(*a, **k):
        raise AssertionError("unexpected call")

    monkeypatch.setattr(rollup_ops, "max_bucket_count", refuse)
    first, actions = actions_before_write(
        spark, "cold", pipe.run, seqs, out, run_id="r1"
    )
    assert len(actions) == 1, actions

    reads = []
    read_manifest = manifest.read_manifest

    def counting_read(*a, **k):
        reads.append(a)
        return read_manifest(*a, **k)

    monkeypatch.setattr(pipeline, "rollup", refuse)
    monkeypatch.setattr(pipeline, "gapfill", refuse)
    monkeypatch.setattr(manifest, "read_manifest", counting_read)
    again, actions = actions_of(
        spark, "noop", pipe.run, seqs, out, run_id="r2", resume=True
    )
    assert len(reads) == 1 and len(actions) == 1, actions
    for t in TIERS3:
        assert again["tiers"][t]["written"] == 0
        assert again["tiers"][t]["skipped"] == first["tiers"][t]["written"] > 0


def _write_plan_nodes(spark, since_ms: float) -> list:
    """(name, desc, {metric: accumulator id}) of every node of the one
    parquet-write execution submitted since ``since_ms``, read from the
    SQL status store once the listener bus has marked it complete."""
    store = spark._jsparkSession.sharedState().statusStore()
    for _ in range(600):
        runs = []
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if e.submissionTime() >= since_ms:
                runs.append(e)
        if all(e.completionTime().isDefined() for e in runs):
            break
        time.sleep(0.1)
    graphs = []
    for e in runs:
        nodes = []
        it = store.planGraph(e.executionId()).allNodes().iterator()
        while it.hasNext():
            nd = it.next()
            accs = {}
            mit = nd.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                accs[m.name()] = m.accumulatorId()
            nodes.append((nd.name(), nd.desc(), accs))
        graphs.append(nodes)
    (write,) = [
        g for g in graphs if any("InsertIntoHadoopFsRelation" in n for n, _, _ in g)
    ]
    return write


def _nodes_named(nodes: list, pred) -> set:
    """The distinct operators (by accumulator) whose name passes ``pred``."""
    return {
        tuple(sorted(accs.values())) for name, _, accs in nodes if pred(name)
    }


def _assert_one_payload_pass(nodes: list, arrow_node: str) -> None:
    """Payloads come from ONE grouped Arrow node: no Union splits the
    write, and every join left is gap-fill's chunk-boundary carry, keyed
    on (source, _gchunk, tier) — none is keyed on a bucket, as a payload
    (or sketch) join is."""
    arrow = _nodes_named(nodes, lambda n: "InArrow" in n or "Python" in n)
    assert len(arrow) == 1 and _nodes_named(
        nodes, lambda n: n == arrow_node
    ) == arrow, nodes
    assert not _nodes_named(nodes, lambda n: n == "Union"), nodes
    joins = [
        desc for name, desc, _ in nodes
        if "Join" in name or "CartesianProduct" in name
    ]
    assert joins and not any("bucket_start" in d for d in joins), joins


def test_cold_build_scans_and_shuffles_raw_once(spark, seqs, tmp_path):
    """The cold build's write plan reads the input once and has exactly
    one hashpartitioning(source, _gchunk) exchange: every tier comes out
    of that one raw shuffle.  Its payloads (``payloads='coarse'``, the
    default) come from one grouped Arrow pass over that partitioning.
    Operators are counted by accumulator, as a cached plan shows its
    nodes again under every scan of the cache."""
    src = str(tmp_path / "seqs")
    seqs.write.parquet(src)
    since = time.time() * 1e3
    TierPipeline(spark, step_s=1800, tiers=TIERS3, validate=False).run(
        spark.read.parquet(src), str(tmp_path / "out"), resume=False
    )
    nodes = _write_plan_nodes(spark, since)
    scans = {
        accs["number of output rows"]
        for name, desc, accs in nodes
        if name.startswith("Scan parquet") and src in desc
    }
    raw_shuffles = {
        accs["shuffle bytes written"]
        for name, desc, accs in nodes
        if name == "Exchange"
        and re.search(r"hashpartitioning\(source#\d+, _gchunk#\d+, \d+\)", desc)
    }
    assert len(scans) == 1, nodes
    assert len(raw_shuffles) == 1, nodes
    _assert_one_payload_pass(nodes, "FlatMapGroupsInArrow")


def test_all_payloads_cogroup_raw_in_one_arrow_pass(spark, seqs, tmp_path):
    """``payloads='all'`` adds the raw ``n_tok`` streams to the same one
    Arrow pass, cogrouped with raw's (source, _gchunk) groups."""
    since = time.time() * 1e3
    TierPipeline(
        spark, step_s=1800, tiers=TIERS3, validate=False, payloads="all"
    ).run(seqs, str(tmp_path / "out"), resume=False)
    _assert_one_payload_pass(
        _write_plan_nodes(spark, since), "FlatMapCoGroupsInArrow"
    )
