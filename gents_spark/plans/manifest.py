"""Checkpoint + lineage manifest: resumable, idempotent tier builds (M5).

GenTS resumes by integrity-checking each planned output file and skipping
completed ones (``gents/timeseries.py:136-142``; ``check_timeseries_integrity``
``:26-46`` — a ``gents_version`` attribute stamped at ``:225`` marks a
complete write).  The Spark-native equivalent:

- work unit = one (tier, chunk) partition of the tier table (chunk = the
  calendar day, month or year of bucket_start, the ``chunk_grain`` — the
  same grain the output is physically partitioned by);
- the manifest is an append-only directory of small parquet files of
  (run_id, tier, chunk, status, n_rows, sum_cnt, sum_tok,
  checkpoint_ts, command, engine_version) rows.  It is driver-scale
  data, so it is read and written on the driver with pyarrow: no
  manifest read or write starts a Spark job;
- the newest row of a unit is its status (``latest_rows``): ``done``,
  ``stale`` (reconciliation found late data), ``increment`` (a
  streaming append landed) or ``expired`` (retention removed it);
- resume = the planned units minus the done and expired ones
  (SURVEY.md §2.1 S10);
- idempotency = each chunk's output directory is atomically replaced
  (dynamic partition overwrite), so a re-run of a half-written chunk
  converges instead of double-counting (SURVEY.md §7.3 "exactly-once
  under retry").  On Iceberg this becomes REPLACE of the partition +
  snapshot commit; parquet dirs are the sandbox stand-in.

The manifest also carries per-partition metrics (row counts, value sums)
— the lineage evidence the north_rule asks for.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

ARROW_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("tier", pa.string()),
        ("chunk", pa.string()),
        ("status", pa.string()),
        ("n_rows", pa.int64()),
        ("sum_cnt", pa.int64()),
        ("sum_tok", pa.int64()),
        ("checkpoint_ts", pa.float64()),
        # run provenance: the GenTS `gents_command` attribute stamped
        # into every output (gents/cli.py:197, timeseries.py:900-913)
        ("command", pa.string()),
        ("engine_version", pa.string()),
    ]
)

DONE = "done"
STALE = "stale"
EXPIRED = "expired"  # retention removed the chunk's data


def _append_manifest_rows(manifest_dir: str, rows: list[tuple]) -> None:
    """Commit manifest rows (tuples in ``ARROW_SCHEMA`` order) as one new
    file, written on the driver: the manifest is driver-scale data, and
    a Spark job per append would cost more than the rows it writes.  On
    Iceberg this is the metadata-commit path anyway."""
    import pyarrow.parquet as pq

    os.makedirs(manifest_dir, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[]] * len(ARROW_SCHEMA)
    table = pa.table(
        [
            pa.array(
                [None if v is None else int(v) for v in col]
                if pa.types.is_integer(f.type)
                else col,
                f.type,
            )
            for f, col in zip(ARROW_SCHEMA, cols)
        ],
        schema=ARROW_SCHEMA,
    )
    # temp name + atomic rename: a concurrent reader or
    # expire_snapshots listing must never see a half-written parquet
    # footer.  The temp name is "_"-prefixed, which every manifest
    # reader skips (``_manifest_files``).
    name = f"manifest-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(manifest_dir, "_" + name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(manifest_dir, name))


def _manifest_files(manifest_dir: str) -> list[str]:
    """Committed manifest files: ``*.parquet`` minus the ``_``/``.``-
    prefixed names an in-flight append or a crash leaves behind."""
    if not os.path.isdir(manifest_dir):
        return []
    return sorted(
        os.path.join(manifest_dir, f)
        for f in os.listdir(manifest_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _read_files(files: list[str]) -> pa.Table:
    import pyarrow.dataset as ds

    # the explicit schema reads files written before the provenance
    # columns (command, engine_version) existed with those as nulls
    return ds.dataset(files, schema=ARROW_SCHEMA, format="parquet").to_table()


def read_manifest(manifest_dir: str) -> pa.Table:
    """Every manifest row as a pyarrow Table, read on the driver.

    The manifest is driver-scale (one row per committed unit and
    event), so no read of it starts a Spark job.  A file that
    ``expire_snapshots`` deletes between the listing and the read is
    retried with a fresh listing: compaction lands its rows in a new
    file before it deletes the old ones."""
    for attempt in range(3):
        try:
            return _read_files(_manifest_files(manifest_dir))
        except FileNotFoundError:
            if attempt == 2:
                raise


def latest_rows(manifest: pa.Table) -> dict[tuple[str, str], dict]:
    """(tier, chunk) -> its newest manifest row: the LATEST row wins.

    The manifest is append-only; reconciliation (plans/reconcile.py)
    invalidates a chunk by appending a ``stale`` row, so "done" is a
    property of the newest row, not of any row ever written.  Rows tie
    on ``checkpoint_ts`` when one append commits several statuses for a
    unit; the greater ``status`` string then wins."""
    latest: dict[tuple[str, str], dict] = {}
    for r in manifest.to_pylist():
        u = (r["tier"], r["chunk"])
        cur = latest.get(u)
        if cur is None or _order(r) > _order(cur):
            latest[u] = r
    return latest


def _order(r: dict) -> tuple:
    return (r["checkpoint_ts"], r["status"] or "")


CHUNK_FORMATS = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}


def chunk_start(chunk: str) -> datetime:
    """First instant (UTC) of a day (``yyyy-MM-dd``), month
    (``yyyy-MM``) or year (``yyyy``) chunk key."""
    y, m, d = (chunk.split("-") + ["1", "1"])[:3]
    return datetime(int(y), int(m), int(d), tzinfo=timezone.utc)


def shift_chunk(chunk: str, k: int) -> str:
    """The chunk key ``k`` chunks after (k < 0: before) ``chunk``, at
    the grain its length names (10 day, 7 month, 4 year); ``k=1`` gives
    the key whose start is this chunk's exclusive end."""
    if len(chunk) == 10:
        return (chunk_start(chunk) + timedelta(days=k)).strftime("%Y-%m-%d")
    if len(chunk) == 7:
        i = int(chunk[:4]) * 12 + int(chunk[5:]) - 1 + k
        return f"{i // 12:04d}-{i % 12 + 1:02d}"
    return f"{int(chunk) + k:04d}"


def chunk_col(bucket_col: str = "bucket_start", grain: str = "day") -> F.Column:
    """Checkpoint grain: one calendar day/month/year of buckets.

    The grain sets the resume granularity AND the partition-commit
    count; pick it so a full build has O(10-100) chunks (a dynamic
    partition-overwrite commit does driver-side file ops per chunk —
    GenTS has the same knob in its year-width slice size,
    ``gents/hfcollection.py:84-117``).  Retention cutoffs must then be
    expressed at the same grain.
    """
    return F.date_format(F.col(bucket_col), CHUNK_FORMATS[grain])


def completed_tier_chunks(
    spark: SparkSession, manifest_dir: str
) -> set[tuple[str, str]]:
    """All (tier, chunk) units a resume must NOT rebuild — ONE read for
    a whole multi-tier resume: latest row done, plus expired — retention
    deleted those on purpose, and a resume that re-creates them from
    still-available raw input would silently undo it.  Cover checks
    (retention.expirable_chunks) filter on DONE alone, so an expired
    chunk never gates another tier's expiry."""
    return completed_units(latest_rows(read_manifest(manifest_dir)))


def completed_units(
    latest: dict[tuple[str, str], dict]
) -> set[tuple[str, str]]:
    """The units of a ``latest_rows`` map that a resume skips."""
    return {u for u, r in latest.items() if r["status"] in (DONE, EXPIRED)}


def write_tiers_combined(
    spark: SparkSession,
    tiers_df: DataFrame,
    tiers_dir: str,
    manifest_dir: str,
    run_id: str,
    planned: list[tuple[str, str]],
    done: set[tuple[str, str]] = frozenset(),
    fail_after_chunks: int | None = None,
    chunk_grain: str = "day",
    command: str | None = None,
    compression: str = "snappy",
) -> dict:
    """ALL tiers in one write job + one stats job + one manifest append.

    A per-tier write loop costs 3 serial Spark jobs per tier (manifest
    read, stats collect, write) plus a parquet read-back barrier between
    tiers; at two-cluster-size scaling that serial job count is pure
    Amdahl overhead (round-2 BENCH/BASELINE.md analysis).  Here
    ``tiers_df`` holds every tier's rows (its ``tier`` column says
    which), filtered to the (tier, chunk) units left to write and
    written once with ``partitionBy(tier, chunk)`` — the ``tier=X/chunk=Y``
    physical layout, one dynamic-partition commit.  Per-chunk lineage
    stats then come from ONE aggregation over the written files.  On
    Iceberg both become a single transaction: REPLACE of the touched
    partitions + one metadata commit.

    ``planned`` is the (tier, chunk) unit universe in write order,
    derived by the caller from the raw time range; ``done`` the units a
    resume skips (``completed_tier_chunks``, read once by the caller).
    ``fail_after_chunks`` counts units in that order — the kill/resume
    injection point.
    Returns {tier: {written, skipped, rows_written}, phases: {...}}.
    """
    tier_order = list(dict.fromkeys(t for t, _ in planned))
    units = [u for u in planned if u not in done]
    metrics = {
        t: {
            "written": 0,
            "skipped": sum(1 for u in planned if u[0] == t and u in done),
            "rows_written": 0,
        }
        for t in tier_order
    }
    phases: dict[str, float] = {}
    if not units:
        metrics["phases"] = phases
        return metrics

    inject = fail_after_chunks is not None and fail_after_chunks < len(units)
    write_units = units[:fail_after_chunks] if inject else units
    if not write_units:
        raise RuntimeError("injected failure after 0 chunks")
    chunks_by_tier: dict[str, list[str]] = {}
    for t, c in write_units:
        chunks_by_tier.setdefault(t, []).append(c)
    df = tiers_df.withColumn("chunk", chunk_col(grain=chunk_grain))
    todo = None
    for t, cs in chunks_by_tier.items():
        unit = (F.col("tier") == t) & F.col("chunk").isin(cs)
        todo = unit if todo is None else todo | unit
    to_write = df.filter(todo)
    t0 = time.time()
    # With the pipeline's chunk-grain co-partitioning every input
    # partition maps to one (source, chunk), so writing AS-IS keeps
    # files-per-chunk-dir bounded by the source count — and skips a
    # full shuffle of every tier row (the round-3 scaling fix).
    # Per-task sort, NO exchange (the zero-exchange build property is
    # plan-pinned by test_plans.py): within each written file rows
    # come out (source, bucket_start)-ordered, so parquet row-group/
    # page min-max stats are tight and a time-sliced read (S6) prunes
    # inside big files — at 100 TB a chunk file holds many row
    # groups, and unordered buckets would smear every group's range
    # across the whole chunk.  Side effect: long source runs RLE
    # well.  Measured write-time cost at bench scale: none.
    (
        to_write.sortWithinPartitions("tier", "chunk", "source", "bucket_start")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy("tier", "chunk")
        .parquet(tiers_dir)
    )
    phases["write"] = round(time.time() - t0, 2)

    t0 = time.time()
    # Lineage stats from the WRITTEN parquet, not a cached copy of the
    # tier rows: caching every tier row just for this aggregation holds the
    # widest table of the build in executor memory, where the gap-fill
    # sorts evict it and the stats job silently recomputes the whole
    # plan (measured: 48s "stats" under memory pressure).  The written
    # files are column-pruned to 4 small columns — a cheap scan.
    # sum_cnt/sum_tok over NON-filled rows only: restricted to real
    # rows they equal the SOURCE's per-chunk row count and value sum —
    # the fingerprint plans/reconcile.py compares against a fresh
    # recount to detect late data in already-committed chunks.
    # cast: partition-column type inference may read a day-grain chunk
    # ("2026-01-15") back as DATE; string-cast restores the chunk key
    unit_key = F.concat_ws(
        "/", F.col("tier").cast("string"), F.col("chunk").cast("string")
    )
    stats: dict = {}
    if any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(tiers_dir)
        for f in fs
    ):
        written = (
            spark.read.option("basePath", tiers_dir)
            .parquet(tiers_dir)
            .filter(unit_key.isin([f"{t}/{c}" for t, c in write_units]))
        )
        real = F.when(~F.col("filled"), F.col("cnt"))
        realtok = F.when(~F.col("filled"), F.col("sum_tok"))
        stats = {
            (s["tier"], s["chunk"]): s
            for s in written.groupBy(
                F.col("tier").cast("string").alias("tier"),
                F.col("chunk").cast("string").alias("chunk"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(real.cast("long")).alias("sc"),
                F.sum(realtok.cast("long")).alias("st"),
            )
            .collect()
        }
    phases["stats"] = round(time.time() - t0, 2)

    now = time.time()
    from gents_spark import __version__

    rows = []
    for t, c in write_units:
        s = stats.get((t, c))
        if s is None:
            # planned chunk with no tier rows: committed as done, n=0
            rows.append((run_id, t, c, DONE, 0, 0, 0, now, command, __version__))
        else:
            rows.append(
                (run_id, t, c, DONE, s["n"], s["sc"], s["st"], now,
                 command, __version__)
            )
            metrics[t]["rows_written"] += s["n"]
        metrics[t]["written"] += 1
    _append_manifest_rows(manifest_dir, rows)
    if inject:
        raise RuntimeError(f"injected failure after {len(write_units)} chunks")
    metrics["phases"] = phases
    return metrics


def read_tier(spark: SparkSession, tiers_dir: str, tier: str) -> DataFrame:
    # basePath: the combined writer path-encodes ``tier`` (partitionBy);
    # anchoring discovery at tiers_dir surfaces it as a column again.
    # mergeSchema: streaming increments (append_tier_increment) carry
    # only the additive stats, while batch files may add percentiles /
    # filled / payload / sketch columns.  Without merging, the inferred
    # schema comes from ONE arbitrary footer — percentile columns could
    # silently vanish from a mixed tier.  Merged, streamed rows simply
    # show NULL for batch-only columns (the documented
    # additive-stats-only contract) until consolidation rebuilds them.
    return (
        spark.read.option("basePath", tiers_dir)
        .option("mergeSchema", "true")
        .parquet(os.path.join(tiers_dir, f"tier={tier}"))
    )


# --------------------------------------------------------------------------
# Snapshot semantics over the append-only manifest (the Iceberg-metadata
# analog the stand-in CAN honor without catalog jars).
#
# Iceberg mapping: every manifest append is a commit; a "snapshot" is the
# set of (tier, chunk) units whose LATEST row at-or-before a timestamp
# (or at the end of a run) is ``done``.  Because the manifest is
# append-only, MEMBERSHIP time travel is exact for all history.  DATA
# time travel is narrower than real Iceberg: a reconcile rewrite
# overwrites the chunk's parquet dir in place (Iceberg would keep the
# old files until expire_snapshots), so reading an old snapshot returns
# the old membership over the CURRENT files; a chunk rewritten since the
# snapshot surfaces with its current content.  This is the documented
# stand-in trade (see module docstring) — the seam to replace with
# a catalog's native time travel when jars are available.
# --------------------------------------------------------------------------


def snapshot_chunks(
    spark: SparkSession,
    manifest_dir: str,
    as_of_ts: float | None = None,
    as_of_run: str | None = None,
) -> set[tuple[str, str]]:
    """(tier, chunk) membership of the snapshot at ``as_of_ts`` (unix
    seconds) or at the last commit of ``as_of_run`` — latest-row-wins
    over manifest rows at-or-before the cut, exactly like
    ``latest_rows`` over a truncated history."""
    m = read_manifest(manifest_dir)
    if as_of_run is not None:
        ts = [
            r["checkpoint_ts"]
            for r in m.select(["run_id", "checkpoint_ts"]).to_pylist()
            if r["run_id"] == as_of_run
        ]
        if not ts:
            raise ValueError(f"run_id {as_of_run!r} has no manifest rows")
        as_of_ts = max(ts) if as_of_ts is None else min(as_of_ts, max(ts))
    if as_of_ts is not None:
        import pyarrow.compute as pc

        m = m.filter(pc.less_equal(m["checkpoint_ts"], as_of_ts))
    return {u for u, r in latest_rows(m).items() if r["status"] == DONE}


def read_tier_snapshot(
    spark: SparkSession,
    tiers_dir: str,
    manifest_dir: str,
    tier: str,
    as_of_ts: float | None = None,
    as_of_run: str | None = None,
) -> DataFrame:
    """``read_tier`` restricted to the chunks of a historical snapshot.

    The chunk filter is a partition-pruning predicate on the
    path-encoded ``chunk`` column — Spark prunes the non-member
    directories at planning time, so an old small snapshot reads only
    its own files even on a much-grown table."""
    snap = snapshot_chunks(spark, manifest_dir, as_of_ts, as_of_run)
    chunks = sorted(c for t, c in snap if t == tier)
    return read_tier(spark, tiers_dir, tier).filter(
        F.col("chunk").isin(chunks)
    )


def expire_snapshots(
    spark: SparkSession, manifest_dir: str, older_than_ts: float
) -> dict:
    """Iceberg ``expire_snapshots`` analog: compact manifest history.

    Rows older than ``older_than_ts`` are dropped EXCEPT each (tier,
    chunk)'s latest row — current membership, resume, and lineage
    metrics are untouched; only the ability to time-travel BEFORE the
    horizon is given up.  Runs on the driver with the manifest's own
    reader and writer.

    Compaction happens INSIDE the live directory, which never
    disappears:

    1. snapshot the current parquet file list;
    2. read + compact those rows into one new ``manifest-*.parquet``
       committed into the directory (temp + rename);
    3. delete exactly the snapshotted files.

    Every intermediate state yields correct current MEMBERSHIP: a read
    sees either old rows, old + compacted rows, or compacted rows —
    every membership/snapshot reader dedupes by the latest
    (checkpoint_ts, status) row per (tier, chunk), and compaction
    itself drops exact-duplicate rows, so a crash between steps 2 and 3
    is repaired by the next run.  A concurrent APPEND is safe — its
    file is created after the snapshot in step 1, so step 3 never
    deletes it.  A reader whose listing precedes step 3 but whose read
    follows it retries with a fresh listing (``read_manifest``).  Two
    concurrent expire_snapshots runs must be externally serialized
    (they would double-compact).  Returns {"kept": n, "dropped": n}.
    """
    # step 1: snapshot BEFORE reading, so any append that the read
    # below misses is also missing from the deletion list
    old_files = _manifest_files(manifest_dir)
    if not old_files:
        return {"kept": 0, "dropped": 0}
    m = _read_files(old_files)
    top = {u: _order(r) for u, r in latest_rows(m).items()}
    rows = m.to_pylist()
    # dict.fromkeys collapses exact-duplicate rows (a crash between
    # steps 2 and 3 leaves every surviving row twice; without this a
    # rerun would preserve the duplicates forever)
    keep = list(
        dict.fromkeys(
            tuple(r.values())
            for r in rows
            if r["checkpoint_ts"] >= older_than_ts
            or _order(r) == top[(r["tier"], r["chunk"])]
        )
    )
    # step 2: commit the compacted rows as one new file
    _append_manifest_rows(manifest_dir, keep)
    # step 3: drop exactly the files the compaction consumed
    for f in old_files:
        os.remove(f)
    # orphan sweep: a writer that crashed between pq.write_table and
    # os.replace leaves its "_*.parquet.tmp" invisible to readers but
    # never deleted by any other path.  Age-gate by mtime (not
    # older_than_ts, which callers often set to now()): an in-flight
    # append's temp lives milliseconds, so an hour-old temp is always
    # a crash residue.
    now = time.time()
    for f in os.listdir(manifest_dir):
        if f.startswith("_") and f.endswith(".parquet.tmp"):
            p = os.path.join(manifest_dir, f)
            try:
                if now - os.path.getmtime(p) > 3600:
                    os.remove(p)
            except OSError:
                pass
    return {"kept": len(keep), "dropped": len(rows) - len(keep)}


INCREMENT = "increment"


def append_tier_increment(
    spark: SparkSession,
    tier_df: DataFrame,
    tier: str,
    tiers_dir: str,
    manifest_dir: str,
    run_id: str,
    chunk_grain: str = "day",
    compression: str = "snappy",
) -> dict:
    """Append a FINALIZED-window increment into the chunked tier layout
    — the sink half of streaming tier maintenance (r05): each streaming
    micro-batch of watermark-closed windows lands as extra files inside
    the same ``tier=X/chunk=Y`` partitions the batch pipeline owns,
    plus one ``status='increment'`` manifest row per touched chunk.

    Consistency contract with the batch pipeline:

    - ``latest_rows`` semantics DEMOTE a chunk from ``done`` the
      moment an increment row lands on it, so the next batch resume
      rebuilds (consolidates) exactly the chunks streaming touched —
      the dynamic partition overwrite then replaces the streamed files
      wholesale.  Streaming appends are therefore always-safe: at worst
      they re-queue a chunk for consolidation, never corrupt it.
    - Idempotence: a ``run_id`` already present in the manifest is
      skipped (Structured Streaming re-runs a failed micro-batch with
      the same batch id).  The window between file-append and manifest
      commit is at-least-once — a crash there leaves duplicate rows
      until the next consolidation, the same contract Iceberg gives
      uncommitted data files; the streaming test pins the happy path
      and the demote-then-rebuild repair.

    Returns {written (chunks), skipped, rows_written}.
    """
    m = read_manifest(manifest_dir).select(["run_id", "tier"]).to_pylist()
    if {"run_id": run_id, "tier": tier} in m:
        return {"written": 0, "skipped": 1, "rows_written": 0}
    d = tier_df.withColumn("chunk", chunk_col(grain=chunk_grain)).persist()
    try:
        stats = (
            d.groupBy("chunk")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("cnt").cast("long")).alias("sc"),
                F.sum(F.col("sum_tok").cast("long")).alias("st"),
            )
            .collect()
        )
        if not stats:
            return {"written": 0, "skipped": 0, "rows_written": 0}
        (
            d.repartition(F.col("chunk"), F.col("source"))
            .write.mode("append")
            .option("compression", compression)
            .partitionBy("tier", "chunk")
            .parquet(tiers_dir)
        )
        from gents_spark import __version__

        now = time.time()
        rows = [
            (run_id, tier, s["chunk"], INCREMENT, s["n"], s["sc"],
             s["st"], now, None, __version__)
            for s in sorted(stats, key=lambda s: s["chunk"])
        ]
        _append_manifest_rows(manifest_dir, rows)
        return {
            "written": len(rows),
            "skipped": 0,
            "rows_written": int(sum(s["n"] for s in stats)),
        }
    finally:
        d.unpersist()


def export_timeseries(
    spark: SparkSession,
    tiers_dir: str,
    tier: str,
    out_dir: str,
    fmt: str = "parquet",
    compression: str = "snappy",
) -> dict:
    """Export a tier as per-source, time-sorted timeseries files — the
    analog of GenTS's user-facing artifact (one reformatted timeseries
    file per variable, ``gents/timeseries.py``): one directory per
    source, ONE file each, rows ordered by ``bucket_start``.

    Shape: hash-repartition on source puts each source's rows in
    exactly one task (several sources may share a task — files stay one
    per source because the write partitions by source), sorted within
    the partition so the parquet row groups are time-ordered (readers
    get range-pruning on bucket_start for free).  For a pathological
    single-giant-source export, pre-split by (source, year) instead —
    the tier table itself stays chunk-partitioned either way.

    Returns {sources, rows}.
    """
    if fmt not in ("parquet", "csv", "json", "orc"):
        raise ValueError(f"fmt={fmt}: expected parquet|csv|json|orc")
    if fmt == "orc" and compression == "gzip":
        compression = "zlib"  # ORC's deflate spelling
    df = read_tier(spark, tiers_dir, tier).drop("tier", "chunk")
    if fmt == "csv":
        # CSV cannot hold binary/array/map columns (tier payloads,
        # sketches) — export the scalar stats only.  BinaryType IS an
        # AtomicType in Spark's hierarchy (and CSV-writes as hex debug
        # text), so it is excluded explicitly.
        from pyspark.sql.types import AtomicType, BinaryType

        keep = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, AtomicType)
            and not isinstance(f.dataType, BinaryType)
        ]
        df = df.select(*keep)
    w = (
        df.repartition(F.col("source"))
        .sortWithinPartitions("source", "bucket_start")
        .write.mode("overwrite")
        .option("compression", compression)
        .partitionBy("source")
    )
    if fmt == "csv":
        w = w.option("header", "true")
    getattr(w, fmt)(out_dir)
    stats = df.agg(
        F.countDistinct("source").alias("s"), F.count("*").alias("n")
    ).collect()[0]
    return {"sources": int(stats["s"]), "rows": int(stats["n"])}
