"""Sanity tests for dedup / similarity / text / multimodal operators.

(Value-level equivalence vs ANSI SQL is covered by the driver oracle gate
and tools/check_oracles.py; these tests pin semantic properties.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a", 43),
        (2, "the quick brown fox jumps over the lazy cat", "en", "a", 43),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog", "en", "b", 43),  # exact dup of 1
        (4, "completely different text with other words here now", "en", "b", 51),
        (5, "tiny", "en", "c", 4),  # shorter than one shingle
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite of 0
        (4, [0.0, 0.0, 0.0, 0.0], 2),   # zero vector -> excluded
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_exact_dedup_flags_identical_prefixes(docs):
    from gents_spark.operators.dedup import exact_dedup_groups

    out = {r["doc_id"]: r for r in exact_dedup_groups(docs, prefix_words=9).collect()}
    assert out[1]["is_dup"] and out[3]["is_dup"]
    assert out[1]["canonical_doc_id"] == 1 and out[3]["canonical_doc_id"] == 1
    assert not out[4]["is_dup"]


def test_jaccard_finds_near_dup(docs):
    from gents_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 3)] == 1.0          # exact dup
    assert 0.4 < pairs[(1, 2)] < 1.0     # near dup
    assert (1, 4) not in pairs


def test_short_doc_has_no_shingles(spark, docs):
    from gents_spark.operators.dedup import shingle_sets

    assert shingle_sets(docs).filter(F.col("doc_id") == 5).count() == 0


def test_shingle_arrays_matches_hof(spark):
    """The Arrow/hashlib shingler (r06) must replicate the JVM
    ``transform(shingles_col(n), word_hash)`` expression exactly —
    including empty tokens from repeated/leading/trailing spaces, NULL
    text -> empty array, first-occurrence distinct order, and the
    60-bit md5-prefix values — because every n-gram oracle replays the
    JVM expression's semantics in SQL."""
    from gents_spark.operators.dedup import (
        shingle_hash_arrays,
        shingles_col,
    )
    from gents_spark.operators.textstats import word_hash

    rows = [
        (1, "the quick brown fox the quick brown fox"),
        (2, "a  b c  d"),          # empty tokens between double spaces
        (3, " leading and trailing "),
        (4, None),                 # NULL text
        (5, "two words"),          # shorter than one 3-shingle
        (6, "unicode éè café 中文 tokens here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n, distinct in [(3, True), (5, True), (5, False)]:
        hof_expr = F.transform(shingles_col(n), word_hash)
        if distinct:
            hof_expr = F.array_distinct(hof_expr)
        hof = {
            r["doc_id"]: r["_sh"]
            for r in docs.select(
                "doc_id", hof_expr.alias("_sh")
            ).collect()
        }
        arrow = {
            r["doc_id"]: r["_sh"]
            for r in shingle_hash_arrays(
                docs, n, distinct=distinct
            ).collect()
        }
        assert hof == arrow, f"n={n} distinct={distinct}"


def test_minhash_signatures_matches_hof(spark):
    """The numpy permutation-min path (r06) must equal the previous
    HOF formulation value-for-value: same 60-bit md5 shingle hashes,
    same (a*h+b) % P permutations, same row set (docs shorter than one
    shingle emit no row)."""
    from gents_spark.operators.dedup import (
        MINHASH_AB,
        MINHASH_P,
        minhash_signatures,
        shingles_col,
    )
    from gents_spark.operators.textstats import word_hash, words_col

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a  b c  d e"),
        (3, None),
        (4, "two words"),
        (5, "one two three"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hs = F.transform(
        shingles_col(3), lambda s: F.pmod(word_hash(s), F.lit(MINHASH_P))
    )
    d = docs.filter(F.size(words_col()) >= 3).select(
        "doc_id", hs.alias("_hs")
    )
    cols = [
        F.array_min(
            F.transform(
                F.col("_hs"),
                lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P)),
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    hof = {r["doc_id"]: tuple(r)[1:] for r in d.select("doc_id", *cols).collect()}
    new = {
        r["doc_id"]: tuple(r)[1:]
        for r in minhash_signatures(docs, n=3).collect()
    }
    assert hof == new


def test_simhash_matches_hof(spark):
    """The numpy bit-vote path (r06) must equal the previous JVM fold
    formulation value-for-value: same word hashes (md5-prefix mod
    2^bits), same occurrence-counted votes, same row set (NULL text
    emits no row; empty string splits to one token and does)."""
    from gents_spark.operators.dedup import simhash
    from gents_spark.operators.textstats import word_hash, words_col

    rows = [
        (1, "the quick brown fox the quick"),
        (2, "a  b c"),
        (3, None),
        (4, ""),
        (5, "unicode éè café 中文"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bits = 16
    hw = F.transform(
        words_col(), lambda w: F.pmod(word_hash(w), F.lit(1 << bits))
    )
    d = docs.filter(F.size(words_col()) > 0).select("doc_id", hw.alias("_hw"))

    def bit_vote(b):
        return F.aggregate(
            F.col("_hw"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    total = F.lit(0).cast("long")
    for b in range(bits):
        total = total + F.when(
            bit_vote(b) >= 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
    hof = {
        r["doc_id"]: r["simhash"]
        for r in d.select(
            "doc_id", total.cast("long").alias("simhash")
        ).collect()
    }
    new = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert hof == new


def _ref_cos(qa, na, qb, nb):
    """Reference cosine of two quantized vectors: the exact int64 dot
    fold, then one double sqrt/divide."""
    from gents_spark.operators.similarity import _dot

    return _dot(qa, qb) / F.sqrt((na * nb).cast("double"))


def _ref_cosine_topk(emb, k, n_queries):
    """JVM reference for ``cosine_topk``: the broadcast query set
    crossJoins the quantized corpus, one HOF cosine per pair, then the
    exact (cos desc, neighbor_id asc) window."""
    from pyspark.sql import Window

    from gents_spark.operators.similarity import with_quantized

    base = with_quantized(emb)
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
    )
    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", _ref_cos(*map(F.col, ("qa", "na", "qb", "nb"))))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("cos_raw", 6).alias("cos"),
        )
    )


def _ref_ivf_assign(base, cents):
    """JVM reference for ``ivf_assign``: every quantized vector
    crossJoins the centroid table and keeps max(struct(cos, -cid)) —
    the argmax cell, ties to the smallest cid."""
    c = base.sparkSession.createDataFrame(
        cents, "cid long, cq array<long>, cn2 long"
    )
    cos = _ref_cos(*map(F.col, ("q", "n2", "cq", "cn2")))
    return (
        base.crossJoin(F.broadcast(c))
        .groupBy("vec_id")
        .agg(F.max(F.struct(cos.alias("cos"), (-F.col("cid")).alias("ncid")))
             .alias("m"))
        .select("vec_id", (-F.col("m.ncid")).cast("int").alias("cid"))
    )


def test_null_text_shingles_empty_not_null(spark):
    """shingles_col's contract is empty array (size 0), never NULL —
    split/slice/zip_with would otherwise propagate NULL text to a NULL
    result whose size() is -1, silently flipping >=/< comparisons in
    any future consumer."""
    from gents_spark.operators.dedup import shingles_col

    df = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, "a b c d")], "doc_id int, text string"
    ).select("doc_id", F.size(shingles_col(3)).alias("n"))
    assert {r["doc_id"]: r["n"] for r in df.collect()} == {1: 0, 2: 0, 3: 2}


def test_minhash_lsh_catches_exact_dup(docs):
    from gents_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_common_bands"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert pairs[(1, 3)] == 4  # identical docs share all 4 bands


def test_simhash_near_dup_small_hamming(docs):
    from gents_spark.operators.dedup import simhash

    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert h[1] == h[3]
    near = bin(h[1] ^ h[2]).count("1")
    far = bin(h[1] ^ h[4]).count("1")
    assert near <= far


def test_cosine_topk_ranks_geometrically(emb):
    from gents_spark.operators.similarity import cosine_topk

    out = cosine_topk(emb, k=3, n_queries=1).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]  # close, orthogonal, opposite
    cos = {r["neighbor_id"]: r["cos"] for r in out}
    assert cos[2] == 0.0 and cos[3] == -1.0
    assert 4 not in cos  # zero vector excluded


def test_cosine_topk_matches_hof(spark):
    """The Arrow scorer is row-equal to the crossJoin reference on the
    sf0.01 embeddings plus copies of vectors 0-39 under new ids: each
    query's copy scores cos 1.0, and a copy of 20-39 ties its original
    for every query, so the neighbor_id tie-break decides ranks.
    Malformed vectors (NULL, NULL element, another length) are dropped
    instead of failing the query."""
    from gents_spark.operators.similarity import cosine_topk

    base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    top = base.agg(F.max("vec_id")).first()[0]
    emb = base.unionByName(
        base.filter(F.col("vec_id") < 40).withColumn(
            "vec_id", F.col("vec_id") + top + 1
        )
    )
    got = sorted(map(tuple, cosine_topk(emb, k=5, n_queries=20).collect()))
    ref = sorted(
        map(tuple, _ref_cosine_topk(emb, k=5, n_queries=20).collect())
    )
    assert got == ref and len(got) == 100
    cos = [(q, c) for q, _, _, c in got]
    assert len(set(cos)) < len(cos)  # ties were ranked

    bad = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, None, 0),
            (3, [1.0], 0),
            (4, [1.0, None], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = cosine_topk(bad, k=5, n_queries=1).collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in out] == [
        (0, 1, 1)
    ]


def test_lang_id_deterministic(docs):
    from gents_spark.operators.textstats import lang_id

    a = sorted(lang_id(docs).collect())
    b = sorted(lang_id(docs.repartition(7)).collect())
    assert a == b
    assert all(r["pred_lang"] in {"de", "en", "es", "fr", "zh"} for r in a)


def test_fingerprint_is_order_sensitive(spark):
    from gents_spark.operators.textstats import doc_fingerprints

    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprints(d).collect()}
    assert fps[1] != fps[2]


def test_multimodal_decode_plumbing(docs):
    from gents_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_features,
        decode_real,
        with_payload,
    )

    out = decode_features(with_payload(docs)).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
        assert r["feature"][0] == float(r["n_bytes"])
    # decode_real is a REAL parser now (binary PPM): malformed payloads
    # raise for upstream quarantine instead of silently passing
    with pytest.raises(ValueError):
        decode_real(b"\x00")
    d = decode_real(b"P6\n2 2\n255\n" + bytes(range(12)))
    assert (d["width"], d["height"], d["maxval"]) == (2, 2, 255)
    assert d["n_pixel_bytes"] == 12
    assert d["mean_pixel"] == sum(range(12)) / 12


def test_multimodal_meta_matches_decode(docs):
    from gents_spark.operators.multimodal import (
        decode_features,
        payload_meta,
        with_payload,
    )

    meta = {r["doc_id"]: r for r in payload_meta(docs).collect()}
    dec = {r["doc_id"]: r for r in decode_features(with_payload(docs)).collect()}
    for k in meta:
        assert meta[k]["n_bytes"] == dec[k]["n_bytes"]
        assert meta[k]["header_hash"] == dec[k]["header_hash"]


def test_near_dup_lsh_two_stage_recall(spark):
    """Banded sign-LSH near-dup: candidates via equi-join (no all-pairs),
    results a strict subset of the all-pairs baseline, recall >= 0.9 on
    genuinely near-duplicate vectors (cos >= 0.9) — the regime the
    operator exists for.  Deterministic synthetic corpus: 60 base unit
    vectors + a small-angle perturbed copy of each."""
    import math
    import random

    from gents_spark.operators.similarity import (
        embedding_near_dup_docs,
        with_quantized,
    )

    rng = random.Random(7)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        w = [x + rng.gauss(0, 0.04) for x in v]  # cos(v,w) ~ 0.96
        m = math.sqrt(sum(x * x for x in w))
        w = [x / m for x in w]
        rows.append((2 * i, v, 0))
        rows.append((2 * i + 1, w, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    docs = emb.selectExpr("vec_id AS doc_id", "'s' AS source")

    q = with_quantized(emb)
    a = q.select(F.col("vec_id").alias("va"), F.col("q").alias("qa"),
                 F.col("n2").alias("na"))
    b = q.select(F.col("vec_id").alias("vb"), F.col("q").alias("qb"),
                 F.col("n2").alias("nb"))
    ex = {
        (r["va"], r["vb"])
        for r in a.join(b, F.col("va") < F.col("vb"))
        .filter(_ref_cos(*map(F.col, ("qa", "na", "qb", "nb"))) >= 0.9)
        .collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_dup_docs(docs, emb, threshold=0.9).collect()
    }
    assert len(ex) >= 50  # the construction produced real near-dups
    assert got <= ex  # verification stage is exact -> no false positives
    assert len(got & ex) / len(ex) >= 0.9


def test_near_dup_plan_has_no_cartesian(spark):
    """The scale path must candidate-generate via the band-key equi-join:
    no CartesianProduct/BroadcastNestedLoopJoin node in the plan
    (round-1 VERDICT scale-killer #2)."""
    from gents_spark.operators.similarity import embedding_near_dup_docs

    emb = spark.createDataFrame(
        [(0, [1.0] * 64, 0), (1, [1.0] * 64, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    docs = emb.selectExpr("vec_id AS doc_id", "'s' AS source")
    plan = (
        embedding_near_dup_docs(docs, emb, threshold=0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_stop_shingle_cap(spark):
    """A boilerplate shingle shared by 50% of docs must not enter the
    candidate self-join (quadratic in its df), while jaccard values of
    surviving pairs stay EXACT (verified over full shingle sets)."""
    from gents_spark.operators.dedup import ngram_jaccard_pairs

    # 40 docs all share the same leading boilerplate sentence; docs
    # 2i/2i+1 additionally share a unique tail -> real near-dup pairs
    rows = []
    for i in range(20):
        boiler = "all rights reserved by the site"
        tail = f"unique content piece number {i} alpha beta gamma delta"
        rows.append((2 * i, f"{boiler} {tail} one", "en", "s", 1))
        rows.append((2 * i + 1, f"{boiler} {tail} two", "en", "s", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    full = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_shingle_df=10
        ).collect()
    }
    # every true near-dup pair (2i, 2i+1) survives the cap with the
    # IDENTICAL exact n_common/jaccard (their tail shingles are rare)
    for i in range(20):
        k = (2 * i, 2 * i + 1)
        assert k in capped and capped[k] == full[k]
    # pairs whose only common shingles are boilerplate are dropped —
    # the candidate set is subquadratic, not C(40,2)
    assert set(capped) < set(full)
    assert len(capped) < len(full)


def test_minhash_band_bucket_cap_stays_linear(spark):
    """Degenerate corpus: 30% of docs collapse to ONE MinHash signature
    (identical boilerplate text), so one band bucket holds k docs and
    the uncapped self-join emits C(k,2) pair rows.  With max_band_df the
    hot bucket forms no candidates while genuine near-dup pairs keep
    their exact n_common_bands (round-2 VERDICT #2, mirroring
    max_shingle_df)."""
    from gents_spark.operators.dedup import minhash_lsh_pairs

    rows = []
    # 30 identical docs -> identical signatures -> 4 hot band buckets
    for i in range(30):
        rows.append((i, "exact same boilerplate page served everywhere "
                        "by the template engine", "en", "s", 1))
    # 10 docs in 5 near-dup pairs with unique content
    for j in range(5):
        base = f"distinct article number {j} epsilon zeta eta theta iota"
        rows.append((100 + 2 * j, f"{base} kappa", "en", "s", 1))
        rows.append((101 + 2 * j, f"{base} lambda", "en", "s", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    full = {
        (r["doc_a"], r["doc_b"]): r["n_common_bands"]
        for r in minhash_lsh_pairs(docs, n=3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["n_common_bands"]
        for r in minhash_lsh_pairs(docs, n=3, max_band_df=10).collect()
    }
    # uncapped: the hot bucket alone is C(30,2) = 435 pairs
    assert sum(1 for a, b in full if a < 30 and b < 30) == 435
    # capped: zero pairs from the hot signature, candidate set linear
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert len(capped) <= 40
    # genuine near-dup pairs survive with identical band counts
    for j in range(5):
        k = (100 + 2 * j, 101 + 2 * j)
        assert k in capped and capped[k] == full[k]


def test_lsh_bucket_pairs_no_window_sort(spark, emb):
    """Round-2 VERDICT #3: top-pair-per-bucket must be a map-side
    combinable aggregation, not a row_number window that serializes a
    hot bucket's C(k,2) pair rows into one sorting task."""
    from gents_spark.operators.similarity import lsh_bucket_pairs

    df = lsh_bucket_pairs(emb, bands=2, bits_per_band=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # deterministic top pair: struct max is total-ordered (cos desc,
    # then smallest ids) — same result the old rank-1 window produced
    rows = {r["bucket"]: (r["doc_a"], r["doc_b"]) for r in df.collect()}
    assert rows  # fixture has at least one >=2-member bucket


def test_embedding_lsh_candidate_band_cap(spark):
    """Degenerate embedding corpus (many identical vectors -> one hot
    sign bucket): max_band_df keeps the candidate set linear, while a
    genuinely distinct near-dup pair still surfaces via its own rare
    bucket."""
    from gents_spark.operators.similarity import lsh_candidate_pairs

    rows = [(i, [1.0, 0.2, 0.1, 0.3], 0) for i in range(30)]
    rows += [
        (100, [-1.0, 0.5, -0.2, 0.4], 1),
        (101, [-0.9, 0.55, -0.25, 0.38], 1),  # near-dup of 100
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    full = {
        (r["va"], r["vb"])
        for r in lsh_candidate_pairs(emb, bands=2, bits_per_band=2).collect()
    }
    capped = {
        (r["va"], r["vb"])
        for r in lsh_candidate_pairs(
            emb, bands=2, bits_per_band=2, max_band_df=10
        ).collect()
    }
    assert sum(1 for a, b in full if a < 30 and b < 30) == 435  # C(30,2)
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert (100, 101) in capped


def test_ivf_topk_recall_and_shape(spark):
    """IVF-flat ANN: recall@5 >= 0.9 vs the exact scan at
    n_probe=8/16 cells on the sf0.01 embeddings, and every reported
    cos is the exact cosine (the probe prunes candidates, it never
    approximates scores)."""
    from gents_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ex_rows = cosine_topk(emb, k=5, n_queries=20).collect()
    iv_rows = ivf_topk(
        emb, k=5, n_queries=20, n_centroids=16, n_probe=8
    ).collect()
    ex = {(r["query_id"], r["neighbor_id"]) for r in ex_rows}
    iv = {(r["query_id"], r["neighbor_id"]) for r in iv_rows}
    assert len(iv & ex) / len(ex) >= 0.9
    # scores of agreeing pairs are identical (exact verification)
    ex_cos = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in ex_rows}
    for r in iv_rows:
        k = (r["query_id"], r["neighbor_id"])
        if k in ex_cos:
            assert r["cos"] == ex_cos[k]


def test_ivf_assign_matches_hof(spark):
    """The numpy-matmul cell assignment (the code ivf_topk runs) equals
    the crossJoin reference's argmax — including cosine TIES: two
    identical centroids must both resolve to the smaller cid."""
    from gents_spark.operators.similarity import ivf_assign, with_quantized

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = with_quantized(emb)
    rows = (
        base.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    )
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["q"]], int(r["n2"]))
        for r in rows
    ]
    # duplicate centroid 3 as cid 99: every vector equidistant from both
    # must land on 3 (and list order must not matter — pass 99 first)
    cents_tied = [(99, cents[3][1], cents[3][2])] + cents
    ref = {
        (r["vec_id"], r["cid"])
        for r in _ref_ivf_assign(base, cents_tied).collect()
    }
    got = {
        (r["vec_id"], r["cid"])
        for r in ivf_assign(base, cents_tied).collect()
    }
    assert got == ref and len(got) == base.count()
    assert (3, 3) in got
    assert not any(cid == 99 for _, cid in got)


def test_classify_columns_data_driven(spark):
    """F6: classification is driven by the DATA — a constant-per-group
    column classifies static, a varying one time_varying, a key-like one
    identifier — with no per-column config."""
    import pyspark.sql.functions as F  # noqa: F811

    from gents_spark.operators.classify import (
        classify_columns,
        rollup_candidates,
    )

    df = spark.range(1000).select(
        F.col("id").alias("row_id"),                      # identifier
        F.concat(F.lit("s"), (F.col("id") % 4)).alias("source"),
        F.timestamp_add(
            "SECOND", F.col("id"),
            F.lit("2026-01-01").cast("timestamp"),
        ).alias("event_time"),
        (F.col("id") % 37).alias("n_tok"),                # time_varying
        (F.col("id") % 4 * 100).alias("region_code"),     # static per grp
    )
    got = {r["column"]: r["class"] for r in classify_columns(df).collect()}
    assert got == {
        "row_id": "identifier",
        "source": "group_key",
        "event_time": "time",
        "n_tok": "time_varying",
        "region_code": "static",
    }
    assert rollup_candidates(classify_columns(df)) == ["n_tok"]
    # 100 TB mode: sampled + HLL-approximate cardinalities reach the
    # SAME class decisions (the rules need only coarse counts)
    sampled = {
        r["column"]: r["class"]
        for r in classify_columns(
            df, sample_frac=0.5, approximate=True
        ).collect()
    }
    assert sampled == got


def test_dup_clusters_transitive(spark):
    """a~b, b~c, d~e: clusters {a,b,c} and {d,e} with min-id labels —
    a CHAIN must collapse into one cluster even though its endpoints
    never pair directly."""
    from gents_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(2, 7), (7, 4), (9, 11), (4, 3)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {2: 2, 7: 2, 4: 2, 3: 2, 9: 9, 11: 9}


def test_keep_representatives(spark):
    """Every cluster keeps exactly its min-id member; unclustered docs
    all keep; drop count == clustered docs minus clusters."""
    from gents_spark.operators.dedup import dup_clusters, keep_representatives

    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(2, 7), (7, 4), (8, 9)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in keep_representatives(docs, dup_clusters(pairs)).collect()
    }
    assert out[2] == (2, True) and out[7] == (2, False) and out[4] == (2, False)
    assert out[8] == (8, True) and out[9] == (8, False)
    for i in (0, 1, 3, 5, 6):
        assert out[i] == (i, True)


def test_repetition_stats_hand_computed(spark):
    """Gopher-style repetition signals on hand-computable docs: exact
    duplicate-word and top-bigram fractions, deterministic lexicographic
    tie-break, NULL bigram columns for a one-word doc."""
    from gents_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            # 6 words, 2 distinct; bigrams: "a a","a b","b a","a b","b b"
            # -> top "a b" x2 of 5
            (1, "a a b a b b"),
            # all distinct words; every bigram unique -> tie, lexicographic
            # min "x y" wins at count 1 of 2
            (2, "x y z"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_distinct_words) == (6, 2)
    assert r1.dup_word_frac == 0.666667
    assert (r1.top_bigram, r1.top_bigram_n) == ("a b", 2)
    assert r1.top_bigram_frac == 0.4
    r2 = rows[2]
    assert (r2.top_bigram, r2.top_bigram_n) == ("x y", 1)
    assert r2.top_bigram_frac == 0.5
    assert r2.dup_word_frac == 0.0
    r3 = rows[3]
    assert (r3.n_words, r3.top_bigram, r3.top_bigram_n) == (1, None, None)


def test_pii_scrub_redacts(spark):
    """PII scrub on synthetic rows containing actual emails/IPs/phones
    (the driver corpus has none): per-class counts and placeholder
    substitution, non-PII text untouched, counts independent of
    redaction order."""
    from gents_spark.operators.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-ample.org and ALICE@SUB.domain.co now"),
            (2, "server 10.0.255.3 called 192.168.1.1 at 555-123-4567"),
            (3, "phone 555.123.4567 ip 1.2.3.4 mail a@b.io"),
            (4, "no pii here, just words and 123 numbers"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (2, 0, 0)
    assert rows[1].text_clean == "mail <EMAIL> and <EMAIL> now"
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 2, 1)
    assert rows[2].text_clean == "server <IP> called <IP> at <PHONE>"
    assert (rows[3].n_email, rows[3].n_ipv4, rows[3].n_phone) == (1, 1, 1)
    assert rows[3].text_clean == "phone <PHONE> ip <IP> mail <EMAIL>"
    r4 = rows[4]
    assert (r4.n_email, r4.n_ipv4, r4.n_phone) == (0, 0, 0)
    assert r4.text_clean == "no pii here, just words and 123 numbers"


def test_quality_filter_rule_branches(spark):
    """Each Gopher rule fires on a purpose-built doc; a clean doc keeps;
    a doc can accumulate multiple reasons."""
    from gents_spark.operators.textstats import quality_filter

    clean = " ".join(f"w{i}" for i in range(40))
    short = "just a few words"
    dupy = " ".join(["spam"] * 35 + [f"u{i}" for i in range(5)])
    bigr = " ".join(["ping pong"] * 20 + [f"x{i}" for i in range(20)])
    docs = spark.createDataFrame(
        [(1, clean), (2, short), (3, dupy), (4, bigr)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in quality_filter(docs).collect()}
    assert rows[1].keep and rows[1].drop_reasons == []
    # a 4-word doc also trips the bigram-mass rule (3 bigrams -> 1/3)
    assert not rows[2].keep
    assert rows[2].drop_reasons == ["too_short", "rep_bigram"]
    assert not rows[3].keep and "dup_words" in rows[3].drop_reasons
    assert not rows[4].keep
    assert set(rows[4].drop_reasons) >= {"dup_words", "rep_bigram"}


def test_weighted_mix_per_stratum_fractions(spark):
    """Data-mixing rates: each stratum's keep fraction tracks its
    weight; weight 1.0 keeps everything, weight 0.0 drops everything;
    membership is deterministic across calls; bad weights raise."""
    from gents_spark.operators.sampling import weighted_mix

    rows = [(f"d{i}", f"s{i % 4}") for i in range(4000)]
    docs = spark.createDataFrame(rows, "doc_id string, source string")
    w = {"s0": 1.0, "s1": 0.5, "s2": 0.0}
    out = weighted_mix(docs, w, default_frac=0.25)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["s0"] == 1000
    assert "s2" not in counts
    assert 400 <= counts["s1"] <= 600          # ~0.5 of 1000
    assert 150 <= counts.get("s3", 0) <= 350   # default 0.25
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in weighted_mix(docs, w, default_frac=0.25).collect())
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError):
        weighted_mix(docs, {"s0": 1.5})


def test_kmeans_lloyd_separates_blobs(spark):
    """Lloyd k-means on two well-separated blobs: perfect separation,
    non-increasing inertia across iterations, partition-count
    invariance (bit-identical assignments), error paths."""
    import random

    from gents_spark.operators.similarity import kmeans_lloyd

    rng = random.Random(3)
    rows = []
    for i in range(40):
        blob = i % 2
        center = 1.0 if blob == 0 else -1.0
        v = [center + rng.gauss(0, 0.05) for _ in range(8)]
        rows.append((i, v, blob))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    a1, cents = kmeans_lloyd(emb, k=2, iters=4)
    got = {r["vec_id"]: r["cluster_id"] for r in a1.collect()}
    # perfect separation: cluster id is constant within each blob
    blob0 = {got[i] for i in range(0, 40, 2)}
    blob1 = {got[i] for i in range(1, 40, 2)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1
    assert len(cents) == 2 and len(cents[0]) == 8
    # inertia non-increasing with more iterations
    def inertia(df):
        return df.agg(F.sum("sq_dist")).collect()[0][0]

    i1 = inertia(kmeans_lloyd(emb, k=2, iters=1)[0])
    i4 = inertia(a1)
    assert i4 <= i1
    # partition invariance
    a2, _ = kmeans_lloyd(emb.repartition(7), k=2, iters=4)
    assert sorted(a1.collect()) == sorted(a2.collect())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmeans_lloyd(emb, k=0)


def test_ivf_topk_trained_centroids_recall(spark):
    """kmeans_lloyd wired in as the IVF centroid source (r04 VERDICT
    next-step #4): trained-centroid recall@5 vs the exact scan is at
    least the seeded recall, and reported cos values stay exact."""
    from gents_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_lloyd,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ex = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, k=5, n_queries=20).collect()
    }
    seeded = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, k=5, n_queries=20, n_centroids=16, n_probe=8
        ).collect()
    }
    _, cents = kmeans_lloyd(emb, k=16, iters=3)
    trained_rows = ivf_topk(
        emb, k=5, n_queries=20, n_probe=8, centroids=cents
    ).collect()
    trained = {(r["query_id"], r["neighbor_id"]) for r in trained_rows}
    r_seed = len(seeded & ex) / len(ex)
    r_train = len(trained & ex) / len(ex)
    assert r_train >= r_seed >= 0.9
    ex_cos = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(emb, k=5, n_queries=20).collect()
    }
    for r in trained_rows:
        kk = (r["query_id"], r["neighbor_id"])
        if kk in ex_cos:
            assert r["cos"] == ex_cos[kk]


def test_dup_clusters_random_graph_vs_union_find(spark):
    """Property pin: min-label propagation == union-find on a seeded
    random graph that includes LONG CHAINS (so convergence needs many
    rounds — diameter ~24, not the 1-2 hops of the hand fixtures) plus
    isolated pairs and a dense blob."""
    import random

    from gents_spark.operators.dedup import dup_clusters

    rng = random.Random(42)
    edges = []
    # one 24-node chain: multi-round diameter for label propagation
    chain = [rng.randrange(10_000) for _ in range(24)]
    edges += list(zip(chain, chain[1:]))
    # a dense 15-node blob
    blob = rng.sample(range(10_000, 11_000), 15)
    edges += [(a, b) for i, a in enumerate(blob) for b in blob[i + 1:]
              if rng.random() < 0.4]
    # scattered random pairs
    edges += [
        (rng.randrange(20_000), rng.randrange(20_000)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for a, b in edges:
        union(a, b)
    expected = {}
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    for n in parent:
        expected[n] = comp_min[find(n)]

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs).collect()
    }
    assert got == expected


def _p6(w, h, px):
    """Build a P6 payload from an iterable of w*h*3 byte values."""
    return f"P6\n{w} {h}\n255\n".encode() + bytes(px)


def test_resize_ppm_nearest_neighbor_exact(spark):
    """4x4 -> 2x2 nearest-neighbor: source index (i*in)//out picks rows
    0,2 and cols 0,2 — verified pixel-for-pixel; resize is a valid P6
    round-trip; the Spark stage carries provenance + resized mean."""
    import numpy as np

    from gents_spark.operators.multimodal import (
        _p6_header,
        decode_real,
        resize_ppm,
        resize_ppm_stage,
    )

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    payload = _p6(4, 4, img.tobytes())
    out = resize_ppm(payload, 2, 2)
    w, h, maxval, off = _p6_header(out)
    assert (w, h, maxval) == (2, 2, 255)
    got = np.frombuffer(out, dtype=np.uint8, offset=off).reshape(2, 2, 3)
    assert (got == img[[0, 2]][:, [0, 2]]).all()
    # upscale is deterministic too (pixel duplication)
    up = resize_ppm(out, 4, 4)
    d = decode_real(up)
    assert (d["width"], d["height"]) == (4, 4)

    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = resize_ppm_stage(df, 2, 2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["in_w"], r["in_h"], r["out_w"], r["out_h"]) == (4, 4, 2, 2)
    assert r["mean_pixel_out"] == float(got.sum()) / got.size
    assert bytes(r["payload"]) == out


def test_frame_sample_uniform_stride(spark):
    """Concatenated-P6 'video' of 5 frames: every_n=2 keeps frames
    0, 2, 4 with per-frame decoded stats; skipped frames are never
    materialized (iterator walks headers only)."""
    from gents_spark.operators.multimodal import frame_sample_stage

    frames = [
        _p6(2, 1, [v] * 6) for v in (10, 20, 30, 40, 50)
    ]
    payload = b"".join(frames)
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = sorted(
        frame_sample_stage(df, every_n=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [(r["frame_idx"], r["mean_pixel"]) for r in rows] == [
        (0, 10.0), (2, 30.0), (4, 50.0)
    ]
    assert all((r["width"], r["height"]) == (2, 1) for r in rows)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        frame_sample_stage(df, every_n=0)


def test_duplicate_spans_census(spark, docs):
    """Lee-et-al span census: doc1==doc3 (all 7 spans duplicated),
    doc2 shares 6 of 7, doc4 is unique, doc5 is sub-span-length."""
    from gents_spark.operators.dedup import duplicate_spans

    out = {
        r["doc_id"]: r for r in duplicate_spans(docs, n=3).collect()
    }
    assert (out[1]["n_spans"], out[1]["n_dup_spans"]) == (7, 7)
    assert out[1]["dup_ratio"] == 1.0 and out[1]["max_span_count"] == 3
    assert (out[2]["n_spans"], out[2]["n_dup_spans"]) == (7, 6)
    assert out[2]["dup_ratio"] == round(6 / 7, 6)
    assert (out[4]["n_dup_spans"], out[4]["max_span_count"]) == (0, 0)
    assert (out[5]["n_spans"], out[5]["dup_ratio"]) == (0, 0.0)


def test_duplicate_spans_counts_within_doc_repeats(spark):
    """A doc repeating its own n-gram is a memorization hazard even with
    no cross-doc copy: every position of a self-repeating doc counts."""
    from gents_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "x y z x y z x y z")], "doc_id long, text string"
    )
    row = duplicate_spans(df, n=3).collect()[0]
    assert (row["n_spans"], row["n_dup_spans"]) == (7, 7)
    assert row["max_span_count"] == 3 and row["dup_ratio"] == 1.0


def test_containment_flags_subset_doc(spark):
    """A short doc fully quoted inside a long one: Jaccard dilutes to
    n_small/n_big but containment == 1.0 — the signal the operator
    exists for.  Unrelated docs never pair."""
    from gents_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [
            (1, quote),
            (2, "zero one two " + quote + " ninety nine hundred and more"),
            (3, "entirely unrelated words in this third document here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(df, n=3, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert (r["n_common"], r["n_a"]) == (3, 3) and r["containment"] == 1.0
    # jaccard on the same pair is far below its own dedup threshold
    j = {
        (x["doc_a"], x["doc_b"]): x["jaccard"]
        for x in ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    }
    assert j[(1, 2)] < 0.3


def test_containment_respects_shingle_df_cap(docs):
    """With every shared shingle hotter than the cap, the candidate
    pair disappears (boilerplate-only pairs are skipped by design);
    with no cap it is found with exact counts."""
    from gents_spark.operators.dedup import containment_pairs

    uncapped = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert uncapped[(1, 3)] == 1.0  # exact dup
    capped = containment_pairs(
        docs, n=3, threshold=0.5, max_shingle_df=1
    ).collect()
    assert capped == []


def test_curate_corpus_composes_stage_verdicts(spark):
    """final_keep == quality AND canonicality AND sample, with each
    stage's verdict auditable per doc; a doc failing ANY stage drops."""
    from gents_spark.operators.curate import curate_corpus
    from gents_spark.operators.sampling import hash_frac

    long_text = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, long_text),                     # clean, canonical
        (2, long_text),                     # exact dup of 1 -> drops
        (3, "short doc"),                   # fails quality (too_short)
        (4, " ".join(["spam"] * 40)),       # fails dup_words rule
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curate_corpus(df, sample_frac=1.0).collect()}
    assert out[1].final_keep and out[1].drop_reasons == ""
    assert out[2].passed_quality and not out[2].is_canonical
    assert not out[2].final_keep
    assert not out[3].passed_quality and "too_short" in out[3].drop_reasons
    assert not out[4].passed_quality and "dup_words" in out[4].drop_reasons
    # sample_frac gates the survivor deterministically
    frac = [
        r[0] for r in df.select(hash_frac(F.col("doc_id"))).collect()
    ]
    keep1 = curate_corpus(df, sample_frac=0.0001).collect()
    want = sum(
        1 for d, f in zip([1, 2, 3, 4], frac)
        if d == 1 and f < 0.0001
    )
    assert sum(r.final_keep for r in keep1) == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curate_corpus(df, sample_frac=0.0)
