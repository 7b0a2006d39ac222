"""CLI parsing + end-to-end run (analog of gents/tests/test_cli.py)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from gents_spark.cli import main, parse_arguments
from gents_spark.configs import resolve_profile
from gents_spark.plans.manifest import read_tier
from gents_spark.synth import synth_sequences
from tests.job_groups import actions_of


def test_parse_defaults():
    a = parse_arguments(["--input", "/i", "--output", "/o"])
    # tiers/gapfill default at RESOLUTION time (profile-aware), not parse
    assert a.tiers is None and a.gapfill is None
    assert not a.resume and not a.dryrun
    prof = resolve_profile(None, a.include_sources, a.exclude_sources)
    assert prof.tiers == ["1m", "1h", "1d"]
    assert prof.gapfill == "locf"
    assert prof.compression == "snappy" and prof.chunk_grain == "day"


def test_profile_resolution_override_and_append():
    """GenTS --model/--append semantics (gents/cli.py:143-181): explicit
    filters replace the profile's unless --append-filters."""
    base = resolve_profile("webcrawl", None, None)
    assert base.exclude_sources == ["spam", "boilerplate", "adult"]
    assert base.compression == "zstd"
    replaced = resolve_profile("webcrawl", None, ["junk"])
    assert replaced.exclude_sources == ["junk"]
    appended = resolve_profile("webcrawl", None, ["junk"], append_filters=True)
    assert appended.exclude_sources == ["spam", "boilerplate", "adult", "junk"]
    import pytest

    with pytest.raises(ValueError):
        resolve_profile("nope", None, None)


def test_cli_version(capsys):
    import pytest

    from gents_spark import __version__

    with pytest.raises(SystemExit) as e:
        parse_arguments(["--version"])
    assert e.value.code == 0
    assert __version__ in capsys.readouterr().out


def test_cli_end_to_end(spark, tmp_path, capsys):
    in_path = str(tmp_path / "seqs")
    out = str(tmp_path / "out")
    synth_sequences(spark, 2, 300).write.parquet(in_path)

    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1d", "--gapfill", "none",
        "--step-s", "3600", "--master", "local[4]",
    ])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["tiers"]["1d"]["written"] > 0
    assert read_tier(spark, out + "/tiers", "1d").count() > 0


def test_cli_dryrun_writes_nothing(spark, tmp_path, capsys):
    in_path = str(tmp_path / "seqs2")
    out = str(tmp_path / "out2")
    synth_sequences(spark, 1, 100).write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--dryrun", "--master", "local[4]",
    ])
    assert rc == 0
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["dryrun"]
    assert plan["valid_rows"] == 100
    import os

    assert not os.path.exists(out)


def test_cli_dryrun_counts_the_planned_chunks(spark, tmp_path, capsys):
    """--dryrun reports the chunks the run would plan, at --chunk-grain:
    100 daily rows from Jan 1 span 4 months.  It runs 3 Spark actions:
    the input's schema inference, the run's planning statistics and the
    quarantine count."""
    in_path = str(tmp_path / "seqs_daily")
    synth_sequences(spark, 2, 100).write.parquet(in_path)
    rc, actions = actions_of(spark, "dryrun", main, [
        "--input", in_path, "--output", str(tmp_path / "out_daily"),
        "--tiers", "1h", "1d", "--step-s", "86400", "--chunk-grain", "month",
        "--dryrun", "--master", "local[4]",
    ])
    assert rc == 0
    assert len(actions) == 3, actions
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["dryrun"]
    assert plan == {
        "valid_rows": 200, "quarantined_rows": 0, "sources": 2,
        "chunks_per_tier": {"1h": 4, "1d": 4},
    }


def test_cli_provenance_and_compression(spark, tmp_path, capsys):
    """Manifest rows carry the launching command + engine version (GenTS
    gents_command analog); --compression reaches the parquet codec."""
    import glob

    import pyarrow.parquet as pq

    from gents_spark import __version__
    from gents_spark.plans.manifest import read_manifest

    in_path = str(tmp_path / "seqs_prov")
    out = str(tmp_path / "out_prov")
    synth_sequences(spark, 2, 200).write.parquet(in_path)
    argv = [
        "--input", in_path, "--output", out,
        "--tiers", "1d", "--gapfill", "none", "--step-s", "3600",
        "--compression", "zstd", "--master", "local[4]",
    ]
    assert main(argv) == 0
    m = read_manifest(out + "/manifest").to_pylist()
    assert m and all(r["engine_version"] == __version__ for r in m)
    assert all("--compression zstd" in r["command"] for r in m)
    f = glob.glob(out + "/tiers/tier=1d/chunk=*/*.parquet")[0]
    meta = pq.ParquetFile(f).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"


def test_cli_empty_after_quarantine(spark, tmp_path, capsys):
    """All-invalid input (bad doc_id shape) yields zero-written metrics,
    not a crash (an empty input plans no chunks)."""
    in_path = str(tmp_path / "seqs_bad")
    out = str(tmp_path / "out_bad")
    bad = synth_sequences(spark, 1, 50).withColumn("doc_id", F.lit("nope"))
    bad.write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1m", "--gapfill", "none", "--master", "local[4]",
    ])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["quarantined_rows"] == 50
    assert metrics["tiers"]["1m"]["written"] == 0
    assert metrics["tiers"]["1m"]["rows_written"] == 0


def test_cli_include_filter(spark, tmp_path, capsys):
    in_path = str(tmp_path / "seqs3")
    out = str(tmp_path / "out3")
    synth_sequences(spark, 3, 100).write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1d", "--gapfill", "none", "--step-s", "3600",
        "--include-sources", "src_00", "--master", "local[4]",
    ])
    assert rc == 0
    t = read_tier(spark, out + "/tiers", "1d")
    assert t.select("source").distinct().collect()[0]["source"] == "src_00"


def test_cli_reconcile_flag(spark, tmp_path, capsys):
    """--reconcile end-to-end: build, append late data to the input,
    rerun with --reconcile; the stale chunk is invalidated + rebuilt in
    one command and the output matches a clean rebuild."""
    in_path = str(tmp_path / "seqs_rec")
    out = str(tmp_path / "out_rec")
    synth_sequences(spark, 2, 300).write.parquet(in_path)
    assert main([
        "--input", in_path, "--output", out,
        "--tiers", "1d", "--gapfill", "none", "--step-s", "3600",
        "--master", "local[4]",
    ]) == 0
    capsys.readouterr()

    late = (
        spark.read.parquet(in_path).orderBy("doc_id").limit(4)
        .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("#7")))
    )
    late.write.mode("append").parquet(in_path)

    assert main([
        "--input", in_path, "--output", out,
        "--tiers", "1d", "--gapfill", "none", "--step-s", "3600",
        "--reconcile", "--master", "local[4]",
    ]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["reconcile"]["n_invalidated"] > 0
    assert res["tiers"]["1d"]["written"] == res["reconcile"]["n_invalidated"]

    clean = str(tmp_path / "out_rec_clean")
    assert main([
        "--input", in_path, "--output", clean,
        "--tiers", "1d", "--gapfill", "none", "--step-s", "3600",
        "--master", "local[4]",
    ]) == 0
    cols = ["source", "bucket_start", "cnt", "sum_tok"]
    a = read_tier(spark, out + "/tiers", "1d").select(cols)
    b = read_tier(spark, clean + "/tiers", "1d").select(cols)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cli_retention_and_snapshot_expiry(spark, tmp_path, capsys):
    """--retention expires old fine-tier chunks gated on coarser cover;
    --expire-snapshots-h compacts manifest history; both report in the
    output JSON and leave resume intact."""
    import os

    in_path = str(tmp_path / "seqs")
    out = str(tmp_path / "out")
    synth_sequences(spark, 2, 300).write.parquet(in_path)

    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1m", "1h", "--gapfill", "none",
        "--step-s", "3600", "--master", "local[4]",
    ])
    assert rc == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_1m = first["tiers"]["1m"]["written"]
    assert n_1m > 0

    # expire every 1m chunk before a far-future cutoff (1h cover exists)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1m", "1h", "--gapfill", "none",
        "--step-s", "3600", "--master", "local[4]", "--resume",
        "--retention", "1m=2030-01-01", "--expire-snapshots-h", "0",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tiers"]["1m"]["skipped"] == n_1m
    assert len(rep["retention_expired"]["1m"]) == n_1m
    assert rep["expire_snapshots"]["kept"] > 0
    assert not os.path.isdir(os.path.join(out, "tiers", "tier=1m")) or not os.listdir(
        os.path.join(out, "tiers", "tier=1m")
    )
    # coarser cover tier survives
    assert read_tier(spark, out + "/tiers", "1h").count() > 0
    # malformed spec fails fast
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main([
            "--input", in_path, "--output", out, "--master", "local[4]",
            "--resume", "--retention", "1m",
        ])


def test_cli_gap_report(spark, tmp_path, capsys):
    """--gap-report TIER prints the per-source census of the built
    tier; a source with deleted hours shows its gaps, a dense source
    shows coverage 1.0."""
    import json

    in_path = str(tmp_path / "seqs_gap")
    out = str(tmp_path / "out_gap")
    seqs = synth_sequences(spark, 2, 200)
    # knock seq 60..119 out of src_00 -> one hour-long hole at 1h grain
    # (step 60s: seqs 0..199 span ~3.3h; a 60-seq run is one full hour)
    seqs = seqs.filter(
        ~(
            (F.col("source") == "src_00")
            & (F.substring("doc_id", 8, 10).cast("long").between(60, 119))
        )
    )
    seqs.write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1h", "--gapfill", "none", "--step-s", "60",
        "--master", "local[4]", "--gap-report", "1h",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    census = {r["source"]: r for r in rep["gap_report"]["1h"]}
    assert census["src_01"]["coverage"] == 1.0
    a = census["src_00"]
    assert a["n_missing"] == 1 and a["n_gaps"] == 1
    assert a["max_gap_buckets"] == 1


def test_cli_stream_catchup(spark, tmp_path, capsys):
    """--stream: availableNow streaming catch-up appends increment rows
    into the layout and reports them; a second identical run through
    the same checkpoint adds nothing (no new data)."""
    import json

    in_path = str(tmp_path / "seqs_st")
    out = str(tmp_path / "out_st")
    synth_sequences(spark, 2, 300, n_tok_lo=8, n_tok_hi=32).write.parquet(
        in_path
    )
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1m", "--step-s", "10", "--master", "local[4]",
        "--stream", "--watermark", "1 minute",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["stream"]["1m"]["increment_rows"] > 0
    first_rows = rep["stream"]["1m"]["increment_rows"]

    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1m", "--step-s", "10", "--master", "local[4]",
        "--stream", "--watermark", "1 minute",
    ])
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["stream"]["1m"]["increment_rows"] == first_rows  # nothing new


def test_open_sequences_iceberg_seam(spark, tmp_path):
    """Input resolution: parquet paths read directly; a dotted
    catalog.db.table reference without an Iceberg runtime raises the
    configuration-pointing error (not Spark's bare TABLE_NOT_FOUND);
    a catalog-managed table resolves via spark.table when present."""
    import pytest as _pt

    from gents_spark.sources import iceberg_available, open_sequences

    p = str(tmp_path / "seqs_src")
    synth_sequences(spark, 1, 50).write.parquet(p)
    assert open_sequences(spark, p).count() == 50

    assert not iceberg_available(spark)  # no jars in this container
    with _pt.raises(RuntimeError, match="Iceberg runtime"):
        open_sequences(spark, "prod.training.sequences")

    # a session-catalog table (dotted, no iceberg needed) still resolves
    spark.read.parquet(p).write.mode("overwrite").saveAsTable(
        "default.seqs_seam_test"
    )
    try:
        assert open_sequences(spark, "default.seqs_seam_test").count() == 50
    finally:
        spark.sql("DROP TABLE default.seqs_seam_test")


def test_cli_custom_second_grain_tier(spark, tmp_path, capsys):
    """r05 '<N>s' custom grains end-to-end: --tiers 900s builds a
    15-minute tier through the full pipeline (manifest, gap-fill,
    resume), with dense 900s spacing and bucket math matching
    time_bucket; a bogus grain label exits before any work."""
    import pytest as _pytest

    in_path = str(tmp_path / "seqs_g")
    out = str(tmp_path / "out_g")
    synth_sequences(spark, 2, 500).write.parquet(in_path)

    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "900s", "--gapfill", "locf",
        "--step-s", "60", "--master", "local[4]",
    ])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["tiers"]["900s"]["written"] > 0

    t = read_tier(spark, out + "/tiers", "900s")
    rows = t.select("source", "bucket_start", "bucket_end").collect()
    assert rows
    for r in rows:
        e = int(r["bucket_start"].timestamp())
        assert e % 900 == 0
        assert (r["bucket_end"] - r["bucket_start"]).total_seconds() == 900
    # gap-filled tier is DENSE per source: span/900 + 1 buckets
    agg = (
        t.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.min("bucket_start").alias("lo"),
            F.max("bucket_start").alias("hi"),
        )
        .collect()
    )
    for r in agg:
        span = int((r["hi"] - r["lo"]).total_seconds())
        assert r["n"] == span // 900 + 1

    # resume: second run skips the committed chunks
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "900s", "--gapfill", "locf",
        "--step-s", "60", "--master", "local[4]", "--resume",
    ])
    assert rc == 0
    m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m2["tiers"]["900s"]["written"] == 0
    assert m2["tiers"]["900s"]["skipped"] > 0

    with _pytest.raises(SystemExit):
        main(["--input", in_path, "--output", out, "--tiers", "15m"])


def test_cli_fails_fast_on_bad_labels():
    """Every tier label the run would touch is validated BEFORE any
    Spark work: --tiers, --gap-report and --export-tier typos exit
    immediately (no SparkSession, no tier build)."""
    import pytest

    for argv in (
        ["--input", "/i", "--output", "/o", "--tiers", "15m"],
        ["--input", "/i", "--output", "/o", "--tiers", "1m",
         "--gap-report", "15m"],
        ["--input", "/i", "--output", "/o", "--tiers", "1m",
         "--export-tier", "90x", "--export-dir", "/e"],
        ["--input", "/i", "--output", "/o", "--tiers", "1m",
         "--retention", "2h=2026-01-01"],
    ):
        with pytest.raises(SystemExit) as e:
            main(argv)
        assert "unknown tier" in str(e.value)


def test_cli_stream_default_streams_finest_tier_only(spark, tmp_path,
                                                     capsys):
    """--stream without --tiers streams ONLY the finest profile tier —
    a standing catch-up must not silently fan out to 1h/1d (each tier
    is a full input rescan and demotes its done chunks)."""
    import json

    in_path = str(tmp_path / "seqs_sd")
    out = str(tmp_path / "out_sd")
    synth_sequences(spark, 1, 200, n_tok_lo=8, n_tok_hi=32).write.parquet(
        in_path
    )
    rc = main([
        "--input", in_path, "--output", out,
        "--step-s", "10", "--master", "local[4]",
        "--stream", "--watermark", "1 minute",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(rep["stream"]) == ["1m"]  # default profile's finest


def test_cli_stream_increment_readable_with_batch_custom_grain(
    spark, tmp_path, capsys
):
    """The review-found crash: a batch-built custom-grain tier plus a
    streamed increment into the SAME tier directory must stay readable
    (read_tier merges schemas — mixed TIMESTAMP/TIMESTAMP_NTZ
    bucket_start would refuse to merge, so every producer emits plain
    TIMESTAMP)."""
    in_path = str(tmp_path / "seqs_mix")
    out = str(tmp_path / "out_mix")
    synth_sequences(spark, 2, 400, n_tok_lo=8, n_tok_hi=32).write.parquet(
        in_path
    )
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "900s", "--gapfill", "none",
        "--step-s", "10", "--master", "local[4]",
    ])
    assert rc == 0
    capsys.readouterr()
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "900s", "--step-s", "10", "--master", "local[4]",
        "--stream", "--watermark", "1 minute",
    ])
    assert rc == 0
    capsys.readouterr()
    t = read_tier(spark, out + "/tiers", "900s")
    assert t.count() > 0  # crashes on CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE pre-fix
    flavors = {
        str(f.dataType) for f in t.schema.fields if f.name == "bucket_start"
    }
    assert flavors == {"TimestampType()"}


def test_cli_mixed_named_and_custom_tiers_one_run(spark, tmp_path,
                                                  capsys):
    """One run building named AND custom grains together: the combined
    single-commit write unions all three tiers (consistent TIMESTAMP
    flavor), and payloads compose up the fine-to-coarse chain
    1m -> 900s -> 1h (60 | 900 | 3600)."""
    in_path = str(tmp_path / "seqs_mx")
    out = str(tmp_path / "out_mx")
    synth_sequences(spark, 2, 500).write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1m", "900s", "1h", "--gapfill", "locf",
        "--step-s", "60", "--master", "local[4]",
    ])
    assert rc == 0
    capsys.readouterr()
    counts = {}
    for t in ("1m", "900s", "1h"):
        df = read_tier(spark, out + "/tiers", t)
        counts[t] = df.count()
        assert dict(df.dtypes)["bucket_start"] == "timestamp"
        if t != "1m":  # coarser tiers carry composed payloads
            assert df.filter("payload is not null").count() == counts[t]
    assert counts["1m"] > counts["900s"] > counts["1h"] > 0


def test_cli_flatline_report(spark, tmp_path, capsys):
    """--flatline-report TIER prints per-source stuck-feed runs: a
    constant-cadence synth source produces exactly one 3-hour run of
    identical hourly counts (60,60,60) before the partial edge hour
    (cnt 20) breaks it."""
    import json

    in_path = str(tmp_path / "seqs_fl")
    out = str(tmp_path / "out_fl")
    synth_sequences(spark, 2, 200).write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1h", "--gapfill", "none", "--step-s", "60",
        "--master", "local[4]", "--flatline-report", "1h",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    runs = rep["flatline_report"]["1h"]
    assert len(runs) == 2
    for r in runs:
        assert (r["n_buckets"], r["cnt"]) == (3, 60)
        assert r["run_start"].endswith("00:00:00")
        assert r["run_end"].endswith("02:00:00")


def test_cli_jsonl_input_end_to_end(spark, tmp_path, capsys):
    """--input seqs.jsonl: JSONL resolves through open_sequences with
    the explicit hinted schema (no inference pass) and builds a tier;
    a malformed line becomes a NULL-doc_id row that the validity
    quarantine catches instead of crashing the read."""
    import json

    jl = tmp_path / "seqs.jsonl"
    lines = [
        json.dumps(
            {
                "doc_id": f"src0/{i}",
                "tokens": [(i * 7 + j) % 100 for j in range(5)],
                "n_tok": 5,
                "source": "src0",
            }
        )
        for i in range(120)
    ]
    lines.append('{"doc_id": 12 broken json')
    jl.write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "out_jl")
    rc = main([
        "--input", str(jl), "--output", out,
        "--tiers", "1h", "--gapfill", "none", "--step-s", "60",
        "--master", "local[4]",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["quarantined_rows"] == 1
    assert rep["tiers"]["1h"]["rows_written"] == 2  # 120 min = 2 hours


def test_cli_flatline_report_ignores_gapfilled_rows(spark, tmp_path, capsys):
    """A reporting GAP under default locf gap-fill must NOT read as a
    stuck feed: LOCF copies the anchor cnt onto filled rows, which
    would otherwise fuse into a qualifying run."""
    import json

    in_path = str(tmp_path / "seqs_flg")
    out = str(tmp_path / "out_flg")
    seqs = synth_sequences(spark, 1, 200)
    # hour-long hole (seqs 60..119): hours are cnt 60, GAP, 60, 20
    seqs = seqs.filter(
        ~F.substring("doc_id", 8, 10).cast("long").between(60, 119)
    )
    seqs.write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1h", "--gapfill", "locf", "--step-s", "60",
        "--master", "local[4]", "--flatline-report", "1h",
        "--flatline-min-run", "3",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # without the filled-row filter this reports one (60,60,60) run
    assert rep["flatline_report"]["1h"] == []


def test_cli_flatline_min_run_validated_before_build(tmp_path, capsys):
    import pytest as _pt

    with _pt.raises(SystemExit, match="flatline-min-run"):
        main([
            "--input", str(tmp_path / "nope.parquet"),
            "--output", str(tmp_path / "out"),
            "--tiers", "1h", "--flatline-report", "1h",
            "--flatline-min-run", "1",
        ])


def test_cli_screen_report_composed_alarms(spark, tmp_path, capsys):
    """--screen-report TIER unions flatline, gap and level-shift alarms
    over the tier's per-source counts: a constant-cadence source with
    one hour-long hole yields exactly one gap alarm (the hole) and one
    flatline alarm (the 3 contiguous identical hours after it)."""
    import json

    in_path = str(tmp_path / "seqs_sr")
    out = str(tmp_path / "out_sr")
    seqs = synth_sequences(spark, 1, 300)  # 5 hours of cnt 60
    seqs = seqs.filter(
        ~F.substring("doc_id", 8, 10).cast("long").between(60, 119)
    )  # hour 1 becomes a hole
    seqs.write.parquet(in_path)
    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1h", "--gapfill", "none", "--step-s", "60",
        "--master", "local[4]", "--screen-report", "1h",
        "--flatline-min-run", "3",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    alarms = rep["screen_report"]["1h"]
    by_type = {}
    for r in alarms:
        by_type.setdefault(r["alarm_type"], []).append(r)
    assert set(by_type) == {"flatline", "gap"}  # too short for shifts
    (gap,) = by_type["gap"]
    assert gap["n_buckets"] == 1
    assert gap["t_start"] == gap["t_end"]
    assert gap["t_start"].endswith("01:00:00")
    (flat,) = by_type["flatline"]
    assert (flat["n_buckets"], flat["cnt"]) == (3, 60)
    assert flat["t_start"].endswith("02:00:00")
    assert flat["t_end"].endswith("04:00:00")


def test_cli_screen_shift_threshold_validated_before_build(tmp_path):
    import pytest as _pt

    with _pt.raises(SystemExit, match="screen-shift-threshold"):
        main([
            "--input", str(tmp_path / "nope.parquet"),
            "--output", str(tmp_path / "out"),
            "--tiers", "1h", "--screen-report", "1h",
            "--screen-shift-threshold", "-1",
        ])


def test_cli_weekly_tier_end_to_end(spark, tmp_path, capsys):
    """r05 '1w' named tier: weeks are regular (604800 s) so the full
    pipeline works unchanged; buckets anchor on MONDAY (date_trunc
    week), not the epoch's Thursday."""
    in_path = str(tmp_path / "seqs_w")
    out = str(tmp_path / "out_w")
    # step-s 3600: 400 seqs/source = ~16.7 days => 3-4 weekly buckets
    synth_sequences(spark, 2, 400).write.parquet(in_path)

    rc = main([
        "--input", in_path, "--output", out,
        "--tiers", "1d", "1w", "--gapfill", "locf",
        "--step-s", "3600", "--master", "local[4]",
    ])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["tiers"]["1w"]["written"] > 0

    t = read_tier(spark, out + "/tiers", "1w")
    rows = t.select("source", "bucket_start", "bucket_end").collect()
    assert rows
    for r in rows:
        assert r["bucket_start"].weekday() == 0  # Monday anchor
        assert (
            r["bucket_end"] - r["bucket_start"]
        ).total_seconds() == 604800
