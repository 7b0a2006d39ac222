"""Checkpoint/lineage resume (M5) — analog of GenTS integrity-skip tests
(``gents/tests/test_parallel.py:72-96``: completed outputs not reopened).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gents_spark.pipeline import TierPipeline
from gents_spark.plans.manifest import read_manifest, read_tier
from gents_spark.synth import synth_sequences


@pytest.fixture(scope="module")
def seqs(spark):
    # STEP 1h below via pipeline(step_s=3600) -> ~2000h ≈ 84 days of data
    return synth_sequences(spark, 2, 1000).persist()


def _tiers_sorted(spark, out, tier):
    return (
        read_tier(spark, out + "/tiers", tier)
        .orderBy("source", "bucket_start")
        .collect()
    )


def test_full_run_then_resume_skips_everything(spark, seqs, tmp_path):
    out = str(tmp_path / "run")
    pipe = TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None)
    m1 = pipe.run(seqs, out, run_id="r1")
    assert m1["tiers"]["1d"]["written"] > 0
    assert m1["tiers"]["1d"]["skipped"] == 0

    m2 = pipe.run(seqs, out, run_id="r2", resume=True)
    assert m2["tiers"]["1d"]["written"] == 0
    assert m2["tiers"]["1d"]["skipped"] == m1["tiers"]["1d"]["written"]


def test_kill_and_resume_converges(spark, seqs, tmp_path):
    """Crash after 3 chunks; resume; final table == uninterrupted run."""
    out_a = str(tmp_path / "interrupted")
    out_b = str(tmp_path / "clean")
    pipe = TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None)

    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(seqs, out_a, run_id="r1", fail_after_chunks=3)

    m_resume = pipe.run(seqs, out_a, run_id="r2", resume=True)
    assert m_resume["tiers"]["1d"]["skipped"] == 3  # completed chunks untouched

    pipe.run(seqs, out_b, run_id="r3")
    a = _tiers_sorted(spark, out_a, "1d")
    b = _tiers_sorted(spark, out_b, "1d")
    assert a == b


def test_manifest_carries_lineage_metrics(spark, seqs, tmp_path):
    out = str(tmp_path / "metrics")
    TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None).run(
        seqs, out, run_id="rX"
    )
    m = read_manifest(spark, out + "/manifest")
    rows = m.collect()
    assert all(r["status"] == "done" and r["run_id"] == "rX" for r in rows)
    # manifest row counts must equal actual partition row counts
    tier = read_tier(spark, out + "/tiers", "1d")
    actual = {
        r["chunk"]: r["n"]
        for r in tier.groupBy(
            F.date_format("bucket_start", "yyyy-MM-dd").alias("chunk")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert actual[r["chunk"]] == r["n_rows"]


def test_audit_layout_one_file_per_chunk(spark, seqs, tmp_path):
    """S12 conformance: the chunk-repartitioned writer must produce a
    bounded file count per chunk partition."""
    from gents_spark.plans.audit import audit_tier_files, conformance_violations

    out = str(tmp_path / "audit")
    TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None).run(
        seqs, out, run_id="audit"
    )
    audit = audit_tier_files(spark, out + "/tiers")
    rows = audit.collect()
    assert rows and all(r["tier"] == "1d" for r in rows)
    assert conformance_violations(audit, max_files_per_chunk=4).count() == 0
    assert all(r["total_bytes"] > 0 for r in rows)


def test_multi_tier_kill_and_resume_converges(spark, seqs, tmp_path):
    """Kill/resume across the COMBINED multi-tier write: fail injection
    counts (tier, chunk) units tier-major, so a crash mid-build leaves
    some tiers fully committed and one partially; resume must finish
    exactly the remainder and converge to a clean run — payloads and
    gap-fill included."""
    out_a = str(tmp_path / "mt_int")
    out_b = str(tmp_path / "mt_clean")
    pipe = TierPipeline(
        spark, step_s=3600, tiers=["1h", "1d"], gapfill_mode="locf",
        payloads="coarse",
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        # beyond 1h's ~43 day-chunks -> 1h complete, 1d partially written
        pipe.run(seqs, out_a, run_id="r1", fail_after_chunks=50)

    m = pipe.run(seqs, out_a, run_id="r2", resume=True)
    assert m["tiers"]["1h"]["written"] == 0  # fully committed pre-kill
    assert m["tiers"]["1d"]["written"] > 0
    assert m["tiers"]["1d"]["skipped"] > 0

    pipe.run(seqs, out_b, run_id="r3")
    for tier in ("1h", "1d"):
        a = _tiers_sorted(spark, out_a, tier)
        b = _tiers_sorted(spark, out_b, tier)
        assert a == b


def test_concurrent_writers_converge(spark, seqs, tmp_path):
    """Two writers racing the SAME chunks converge to one consistent
    committed state (SURVEY.md §7.3 exactly-once under retry; round-2
    VERDICT #7).  The sink's guarantees: chunk writes are idempotent
    dynamic-partition REPLACEs (the parquet stand-in for Iceberg's
    REPLACE partition + snapshot commit — on Iceberg the second commit
    would retry against the new snapshot and produce the same state),
    and the manifest is append-only, so duplicate done rows are
    harmless: resume reads status, not row count.

    Interleaving: writer A commits chunks then crashes mid-run (fail
    injection); writer B, unaware, runs the full build over the same
    store concurrently-in-effect (no resume — it rewrites A's chunks
    too).  The final table must equal a single clean run, byte-for-row,
    and a later resume must see every chunk done exactly once."""
    out = str(tmp_path / "race")
    clean = str(tmp_path / "race_clean")
    pipe = TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None)

    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(seqs, out, run_id="A", fail_after_chunks=4)
    # writer B races: same chunks, resume=False -> rewrites everything,
    # including the 4 chunks A already committed
    pipe.run(seqs, out, run_id="B", resume=False)

    pipe.run(seqs, clean, run_id="C")
    assert _tiers_sorted(spark, out, "1d") == _tiers_sorted(spark, clean, "1d")

    # manifest holds rows from both writers; the resume view is single
    m = read_manifest(spark, out + "/manifest")
    assert m.select("run_id").distinct().count() == 2
    m3 = pipe.run(seqs, out, run_id="D", resume=True)
    assert m3["tiers"]["1d"]["written"] == 0

    # a chunk dir holds exactly ONE generation of files (the replace is
    # atomic per partition — no mixed A/B leftovers double-counting)
    tier = read_tier(spark, out + "/tiers", "1d")
    dup = (
        tier.groupBy("source", "bucket_start")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_reconcile_rebuilds_late_data_chunks(spark, seqs, tmp_path):
    """Automatic late-data reconciliation (round-2 VERDICT #5): after a
    full build, late rows land in ONE already-committed chunk.  A plain
    resume skips everything (stale output); reconcile() detects the
    changed chunk from the manifest's source fingerprints, invalidates
    it, and the next resumed run rewrites exactly that chunk — outputs
    converge to the clean-rebuild truth."""
    out = str(tmp_path / "late")
    pipe = TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None)
    m1 = pipe.run(seqs, out, run_id="r1")
    n_chunks = m1["tiers"]["1d"]["written"]

    # late arrivals: 5 extra sequences inside the FIRST day's chunk
    late = seqs.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("#1"))
    )
    full = seqs.unionByName(late)

    # plain resume sees nothing to do — the stale-output trap
    m2 = pipe.run(full, out, run_id="r2", resume=True)
    assert m2["tiers"]["1d"]["written"] == 0

    rep = pipe.reconcile(full, out, run_id="rec")
    assert rep["n_invalidated"] == len(rep["stale"]) > 0
    assert all(t == "1d" for t, _c in rep["stale"])
    assert len(rep["stale"]) < n_chunks  # only the touched chunk(s)

    m3 = pipe.run(full, out, run_id="r3", resume=True)
    assert m3["tiers"]["1d"]["written"] == len(rep["stale"])
    assert m3["tiers"]["1d"]["skipped"] == n_chunks - len(rep["stale"])

    clean = str(tmp_path / "late_clean")
    pipe.run(full, clean, run_id="r4")
    assert _tiers_sorted(spark, out, "1d") == _tiers_sorted(spark, clean, "1d")
    # converged: a second reconcile finds nothing stale
    assert pipe.reconcile(full, out, run_id="rec2")["stale"] == []


def test_resume_with_sketch_and_quarantine(spark, tmp_path):
    """The round-2 pipeline features compose: sketch percentiles + modal
    quarantine + kill/resume. A killed run resumes to exactly the chunks
    a never-killed run writes, with the quarantine table intact."""
    import pyspark.sql.functions as F

    from gents_spark.pipeline import TierPipeline
    from gents_spark.synth import synth_sequences

    seqs = synth_sequences(spark, 2, 400).withColumn(
        "doc_id",
        F.when(
            F.xxhash64("doc_id") % 20 == 0,
            F.concat(F.col("doc_id"), F.lit("#1")),
        ).otherwise(F.col("doc_id")),
    )
    kw = dict(
        step_s=3600, tiers=["1m"], gapfill_mode=None,
        percentile_mode="sketch", modal_quarantine=True,
    )
    ref_dir = str(tmp_path / "ref")
    ref = TierPipeline(spark, **kw).run(seqs, ref_dir, run_id="ref")

    out = str(tmp_path / "killed")
    try:
        TierPipeline(spark, **kw).run(
            seqs, out, run_id="k1", fail_after_chunks=2
        )
        raise AssertionError("injected failure did not fire")
    except RuntimeError:
        pass
    m2 = TierPipeline(spark, **kw).run(seqs, out, resume=True, run_id="k2")
    assert m2["tiers"]["1m"]["skipped"] >= 2  # the pre-kill chunks
    t_ref = spark.read.parquet(ref_dir + "/tiers/tier=1m")
    t_res = spark.read.parquet(out + "/tiers/tier=1m")
    cols = ["source", "bucket_start", "cnt", "sum_tok", "min_tok", "max_tok"]
    assert sorted(map(tuple, t_ref.select(cols).collect())) == sorted(
        map(tuple, t_res.select(cols).collect())
    )
    assert m2["quarantined_rows"] == ref["quarantined_rows"] > 0
    q = spark.read.parquet(out + "/quarantine")
    assert q.count() == ref["quarantined_rows"]


def test_snapshot_time_travel_and_expiry(spark, seqs, tmp_path):
    """Iceberg-snapshot analog over the append-only manifest: membership
    time travel to a pre-reconcile snapshot (by ts and by run_id),
    partition-pruned snapshot reads, and expire_snapshots compaction
    that preserves current membership + resume while giving up
    pre-horizon history."""
    import os
    import time

    from gents_spark.plans.manifest import (
        expire_snapshots,
        read_manifest,
        snapshot_chunks,
        read_tier_snapshot,
    )

    out = str(tmp_path / "tt")
    mdir = os.path.join(out, "manifest")
    pipe = TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None)
    m1 = pipe.run(seqs, out, run_id="rA")
    n_a = m1["tiers"]["1d"]["written"]
    ts1 = time.time()

    # late data -> reconcile invalidates one chunk, resume rewrites it
    late = seqs.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("#1"))
    )
    full = seqs.unionByName(late)
    time.sleep(0.05)  # commit timestamps strictly after ts1
    pipe.reconcile(full, out, run_id="rec")
    pipe.run(full, out, run_id="rB", resume=True)

    # time travel: snapshot at ts1 == run-A membership, both addressings
    snap_ts = {r["chunk"] for r in snapshot_chunks(spark, mdir, as_of_ts=ts1).collect()}
    snap_run = {r["chunk"] for r in snapshot_chunks(spark, mdir, as_of_run="rA").collect()}
    assert len(snap_ts) == n_a
    assert snap_ts == snap_run
    # current membership is the same chunk set (rewrite, no new chunks)
    cur = {r["chunk"] for r in snapshot_chunks(spark, mdir).collect()}
    assert cur == snap_ts
    # snapshot read covers exactly the member chunks
    got = read_tier_snapshot(spark, out + "/tiers", mdir, "1d", as_of_ts=ts1)
    assert {r["chunk"] for r in got.select("chunk").distinct().collect()} == snap_ts
    with pytest.raises(ValueError):
        snapshot_chunks(spark, mdir, as_of_run="nope")

    # crash residue: a writer that died between write_table and
    # os.replace leaves an "_*.parquet.tmp"; expire must sweep ones
    # past the age gate and leave a fresh (possibly in-flight) one
    stale = os.path.join(mdir, "_manifest-deadbeef.parquet.tmp")
    fresh = os.path.join(mdir, "_manifest-cafef00d.parquet.tmp")
    for p in (stale, fresh):
        with open(p, "wb") as fh:
            fh.write(b"partial")
    os.utime(stale, (time.time() - 7200, time.time() - 7200))

    # expiry: drop pre-ts1 history, keep each chunk's latest row
    n_rows_before = read_manifest(spark, mdir).count()
    rep = expire_snapshots(spark, mdir, older_than_ts=time.time())
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert rep["dropped"] > 0
    assert rep["kept"] + rep["dropped"] == n_rows_before
    assert {r["chunk"] for r in snapshot_chunks(spark, mdir).collect()} == cur
    # resume after compaction still skips everything
    m3 = pipe.run(full, out, run_id="rC", resume=True)
    assert m3["tiers"]["1d"]["written"] == 0


def test_duplicate_manifest_rows_preserve_membership(spark, seqs, tmp_path):
    """Pin the invariant expire_snapshots' concurrency argument relies
    on (``plans/manifest.py:525``): every membership/resume reader
    dedupes by the latest (checkpoint_ts, status) row per (tier,
    chunk), so the transient mid-compaction state — original manifest
    files coexisting with the freshly appended compacted copy — yields
    exactly the current membership, and resume still skips everything.
    """
    import os
    import shutil
    import time

    from gents_spark.plans.manifest import (
        completed_tier_chunks,
        expire_snapshots,
    )

    def done_1d():
        return {c for t, c in completed_tier_chunks(spark, mdir) if t == "1d"}

    out = str(tmp_path / "dup")
    mdir = os.path.join(out, "manifest")
    pipe = TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None)
    pipe.run(seqs, out, run_id="rA")
    before = done_1d()
    assert before

    # mid-compaction transient: every row present twice
    for f in [f for f in os.listdir(mdir) if f.endswith(".parquet")]:
        shutil.copy(
            os.path.join(mdir, f), os.path.join(mdir, f"manifest-dup-{f[9:]}")
        )
    rows_dup = read_manifest(spark, mdir).count()
    assert done_1d() == before
    m = pipe.run(seqs, out, run_id="rB", resume=True)
    assert m["tiers"]["1d"]["written"] == 0

    # expiry from the duplicated state converges: duplicates COLLAPSE
    # (no exact-duplicate row survives compaction) and membership is
    # unchanged
    rep = expire_snapshots(spark, mdir, older_than_ts=time.time())
    assert rep["kept"] + rep["dropped"] == rows_dup
    after = read_manifest(spark, mdir)
    assert after.count() == rep["kept"]
    assert after.dropDuplicates().count() == after.count()
    assert done_1d() == before
    # empty/missing dirs degrade gracefully (r05 review: the explicit
    # file listing must not crash where read_manifest returned empty)
    assert expire_snapshots(
        spark, str(tmp_path / "nope"), older_than_ts=time.time()
    ) == {"kept": 0, "dropped": 0}


def test_export_timeseries_per_source_sorted(spark, seqs, tmp_path):
    """Per-source export: ONE file per source directory, rows sorted by
    bucket_start inside it, values equal to the tier table; csv drops
    the non-scalar payload columns instead of failing."""
    import glob

    from gents_spark.plans.manifest import export_timeseries

    out = str(tmp_path / "build")
    TierPipeline(spark, step_s=3600, tiers=["1d"], gapfill_mode=None).run(
        seqs, out, run_id="exp"
    )
    exp_dir = str(tmp_path / "export")
    rep = export_timeseries(spark, out + "/tiers", "1d", exp_dir)
    assert rep["sources"] == 2 and rep["rows"] > 0

    tier_rows = {
        (r["source"], r["bucket_start"]): r["cnt"]
        for r in read_tier(spark, out + "/tiers", "1d").collect()
    }
    n_exported = 0
    for src_dir in sorted(glob.glob(exp_dir + "/source=*")):
        files = glob.glob(src_dir + "/*.parquet")
        assert len(files) == 1, src_dir  # ONE file per source
        src = src_dir.rsplit("=", 1)[1]
        pdf = spark.read.parquet(files[0]).toPandas()
        n_exported += len(pdf)
        ts = list(pdf["bucket_start"])
        assert ts == sorted(ts), src  # time-ordered rows
        for _, row in pdf.iterrows():
            assert tier_rows[(src, row["bucket_start"])] == row["cnt"]
    assert n_exported == rep["rows"]

    # csv path drops non-scalar columns rather than failing
    csv_dir = str(tmp_path / "export_csv")
    rep2 = export_timeseries(spark, out + "/tiers", "1d", csv_dir, fmt="csv")
    assert rep2["rows"] == rep["rows"]
    assert glob.glob(csv_dir + "/source=*/part-*")

    # orc path round-trips (gzip transparently remapped to ORC's zlib)
    orc_dir = str(tmp_path / "export_orc")
    rep3 = export_timeseries(
        spark, out + "/tiers", "1d", orc_dir, fmt="orc", compression="gzip"
    )
    assert rep3["rows"] == rep["rows"]
    back = spark.read.orc(orc_dir)
    assert back.count() == rep["rows"]

    with pytest.raises(ValueError):
        export_timeseries(spark, out + "/tiers", "1d", exp_dir, fmt="xml")


def test_export_timeseries_custom_grain(spark, tmp_path):
    """--export-tier works for custom '<N>s' grains: the per-source
    export of a 900s tier is time-sorted and value-equal to the tier."""
    import glob

    from gents_spark.pipeline import TierPipeline
    from gents_spark.plans.manifest import export_timeseries, read_tier
    from gents_spark.synth import synth_sequences

    out = str(tmp_path / "bld")
    exp = str(tmp_path / "exp")
    seqs = synth_sequences(spark, 2, 400)
    TierPipeline(
        spark, step_s=60, tiers=["900s"], gapfill_mode=None
    ).run(seqs, out, run_id="x")
    rep = export_timeseries(
        spark, out + "/tiers", "900s", exp, fmt="parquet"
    )
    assert rep["sources"] == 2
    files = glob.glob(exp + "/source=*/**/*.parquet", recursive=True)
    t = read_tier(spark, out + "/tiers", "900s")
    got = spark.read.parquet(exp)
    assert got.count() == t.count() > 0
    one = spark.read.parquet(sorted(files)[0]).collect()
    starts = [r["bucket_start"] for r in one]
    assert starts == sorted(starts)
