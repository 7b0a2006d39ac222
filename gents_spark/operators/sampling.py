"""Deterministic sampling, train/test splitting, and cross-split
n-gram contamination detection for training-data pipelines.

Three ops a 100 TB corpus pipeline runs constantly:

- **stratified_sample**: keep a fixed fraction of every stratum with a
  content-addressed rule — ``md5(key) mod`` — so the sample is (a)
  reproducible across runs/engines with no RNG state, (b) consistent:
  the same key is always in or always out, so joins between sampled
  tables stay aligned, and (c) a pure map-side filter: NO shuffle, no
  sort, pushes through any scan.  This is the public salted-hash
  sampling idiom (same family as Spark's ``sampleBy`` but
  deterministic in the KEY, not the row position).

- **split_train_test**: the same md5 rule as a boolean column — the
  canonical held-out split that survives re-partitioning and appends.

- **ngram_contamination**: which TEST documents share word n-grams with
  which TRAIN documents (benchmark-leakage audit).  Same two-phase
  frequency-capped inverted-index shape as
  ``dedup.ngram_jaccard_pairs`` (dedup.py:82): candidates only from
  shingles with document frequency <= cap (hot boilerplate shingles
  never form pairs — the AllPairs/PPJoin bound on join fan-out), then
  the shared-shingle count verifies EXACTLY over the candidates' full
  shingle sets.  Every join is an equi-join on the shingle; nothing is
  all-pairs at any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: md5 prefix width: 8 hex chars = 32 bits, uniform on [0, 2^32)
_MOD = 1 << 32


def hash_frac(key: F.Column) -> F.Column:
    """Uniform [0, 1) deterministic hash of a key column (md5-based so
    SQL oracles reproduce it bit-for-bit: DuckDB
    ``('0x' || substring(md5(x), 1, 8))::BIGINT``)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
    return h.cast("bigint") / F.lit(float(_MOD))


def stratified_sample(
    df: DataFrame, key: str, frac: float, strata: str | None = None
) -> DataFrame:
    """Keep rows with hash_frac(key) < frac — per-stratum when the rule
    key embeds the stratum (pass ``strata`` to salt the hash with the
    stratum so small strata draw independently).  Map-side only."""
    k = F.col(key)
    if strata is not None:
        k = F.concat_ws("|", F.col(strata), F.col(key).cast("string"))
    return df.filter(hash_frac(k) < F.lit(frac))


def split_train_test(
    df: DataFrame, key: str, test_frac: float = 0.1
) -> DataFrame:
    """Add ``is_test``: deterministic md5 held-out split on ``key``."""
    return df.withColumn(
        "is_test", hash_frac(F.col(key)) < F.lit(test_frac)
    )


def ngram_contamination(
    docs: DataFrame,
    n: int = 5,
    test_frac: float = 0.2,
    max_shingle_df: int | None = 50,
    min_shared: int = 1,
) -> DataFrame:
    """(test_doc_id, train_doc_id, n_shared) for every cross-split pair
    sharing >= ``min_shared`` distinct word n-grams.

    Candidates come from the frequency-capped inverted index (df <=
    ``max_shingle_df``); ``n_shared`` then counts ALL common shingles
    of each candidate pair exactly, so values are cap-independent —
    only pairs whose every overlap is hotter than the cap are missed.
    The persisted shingle arrays are reclaimed by the ContextCleaner.
    """
    # shingles join/aggregate as 60-bit md5 keys, not ~30-char strings:
    # the inverted index and both verify joins shuffle on this column,
    # so narrowing it cuts most of the operator's shuffle bytes.  The
    # hash is the engine-portable md5 prefix (same expression in the
    # DuckDB oracle), so cross-engine counts stay bit-identical even in
    # the astronomically-unlikely collision case — both engines collide
    # identically.
    # per-doc distinct via array_distinct BEFORE the explode: map-side
    # set semantics (doc_id unique, is_test functionally dependent on
    # it) — a post-explode .distinct() would shuffle the entire
    # exploded index once more for nothing (r05)
    # Shape (r06, mirrors dedup._pair_common_counts): the unit of
    # state is the PER-DOC distinct shingle-hash array (map-side, one
    # row per doc, persisted — it feeds the candidate explode and both
    # exact-verify sides).  Candidates come from ONE aggregation of
    # the exploded index: per shingle bucket with df <= cap, the
    # test x train cross pairs are emitted map-side from the two
    # sorted per-split doc lists (fan-out bounded by C(cap/2, cap/2)).
    # The exact verify then joins the small candidate table back to
    # the arrays on each side and counts shared shingles with
    # array_intersect — n_shared over the FULL sets as before, with
    # no index-wide verify shuffles and no per-pair groupBy.
    from pyspark import StorageLevel

    from gents_spark.operators.dedup import shingle_hash_arrays

    # is_test is a pure function of doc_id, so it re-attaches map-side
    # AFTER the Arrow shingler (which passes through doc_id only)
    arrs = shingle_hash_arrays(docs, n).withColumn(
        "is_test", hash_frac(F.col("doc_id")) < F.lit(test_frac)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    s = arrs.select("doc_id", "is_test", F.explode("_sh").alias("shingle"))
    if max_shingle_df is not None:
        # ONE tagged collect_list per bucket instead of two (halves the
        # aggregation state; measured ~25% faster end-to-end at sf1.0):
        # tag = doc_id*2 + is_test, decoded map-side with pmod/
        # shiftright — exact longs for any doc_id sign (arithmetic
        # shift right of an odd 2d+1 or even 2d is d exactly).
        tag = F.col("doc_id") * 2 + F.col("is_test").cast("long")
        buckets = (
            s.groupBy("shingle")
            .agg(F.collect_list(tag).alias("_l"))
            .filter(F.size("_l") <= max_shingle_df)
        )
        tests = F.array_sort(
            F.transform(
                F.filter(F.col("_l"), lambda x: F.pmod(x, F.lit(2)) == 1),
                lambda x: F.shiftright(x, 1),
            )
        )
        trains = F.array_sort(
            F.transform(
                F.filter(F.col("_l"), lambda x: F.pmod(x, F.lit(2)) == 0),
                lambda x: F.shiftright(x, 1),
            )
        )
        combos = F.flatten(
            F.transform(
                tests,
                lambda t: F.transform(
                    trains,
                    lambda r: F.struct(
                        t.alias("test_doc_id"), r.alias("train_doc_id")
                    ),
                ),
            )
        )
        cand = (
            buckets.select(F.explode(combos).alias("_p"))
            .select("_p.test_doc_id", "_p.train_doc_id")
            .distinct()
        )
    else:
        test_sh = s.filter(F.col("is_test")).select(
            F.col("doc_id").alias("test_doc_id"), "shingle"
        )
        train_sh = s.filter(~F.col("is_test")).select(
            F.col("doc_id").alias("train_doc_id"), "shingle"
        )
        cand = (
            test_sh.join(train_sh, "shingle")
            .select("test_doc_id", "train_doc_id")
            .distinct()
        )
    # exact verify over FULL shingle sets (uncapped); candidate side is
    # small — AQE broadcasts it at runtime, the array table is never
    # shuffled
    wt = arrs.filter(F.col("is_test")).select(
        F.col("doc_id").alias("test_doc_id"), F.col("_sh").alias("_sh_t")
    )
    wr = arrs.filter(~F.col("is_test")).select(
        F.col("doc_id").alias("train_doc_id"), F.col("_sh").alias("_sh_r")
    )
    return (
        cand.join(wt, "test_doc_id")
        .join(wr, "train_doc_id")
        .select(
            "test_doc_id",
            "train_doc_id",
            F.size(F.array_intersect("_sh_t", "_sh_r")).cast("long").alias(
                "n_shared"
            ),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def weighted_mix(
    df: DataFrame,
    weights: dict[str, float],
    key: str = "doc_id",
    strata: str = "source",
    default_frac: float = 0.0,
) -> DataFrame:
    """Data-mixing sampler: keep a PER-STRATUM fraction of rows
    (e.g. {"web": 0.1, "books": 1.0}) with the same content-addressed
    md5 rule as ``stratified_sample`` — the standard corpus-mixture
    step that up/down-weights sources before training.

    Strata absent from ``weights`` keep ``default_frac`` (0 = dropped).
    The hash is salted with the stratum, so a key drawn at 10% in one
    stratum is an independent draw in another.  Pure map-side filter:
    the per-stratum threshold joins the row via a CASE expression, not
    a table — zero shuffle at any corpus size; reproducible across
    runs, engines, and repartitioning.
    """
    for s, f in weights.items():
        if not (0.0 <= f <= 1.0):
            raise ValueError(f"weight for {s!r} must be in [0, 1], got {f}")
    thr = F.lit(float(default_frac))
    for s, f in sorted(weights.items()):
        thr = F.when(F.col(strata) == s, F.lit(float(f))).otherwise(thr)
    salted = F.concat_ws("|", F.col(strata), F.col(key).cast("string"))
    return df.filter(hash_frac(salted) < thr)
