"""Similarity search over embedding columns (array<float>).

Every path scores on the same exact arithmetic: vectors are quantized
to integers (floor(e*1000)), so dot products and norms are EXACT and
order-independent — bitwise-reproducible across engines and
partitionings (float accumulation order would not be) — and the cosine
is one IEEE-754 double sqrt/divide of those integers.

- brute-force cosine top-k (``cosine_topk``): the exactness baseline.
- IVF-flat (``ivf_topk``): coarse-centroid cells; each query scores
  only the vectors in its ``n_probe`` nearest cells.
- banded sign-LSH (``lsh_bucket_pairs``, ``embedding_near_dup_docs``):
  candidate pairs only form inside a bucket — the join is on the
  bucket key, never an all-pairs product.

The two top-k searches and the IVF cell assignment score in numpy, one
int64 matmul per Arrow batch (``mapInPandas``) against a small
driver-collected query/centroid matrix.  The LSH paths, k-means and
the drift screen are JVM-side expressions (``transform``/``aggregate``
/``zip_with``).  The JVM formulations of the Arrow scorers are the
test references in ``tests/test_pipeline_ops.py``.
"""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

Q = 1000  # quantization steps per unit


def quantized(col: str = "embedding") -> F.Column:
    return F.transform(
        F.col(col), lambda e: F.floor(e.cast("double") * Q).cast("long")
    )


def _sq_norm(qcol: F.Column) -> F.Column:
    return F.aggregate(
        qcol, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def with_quantized(emb: DataFrame) -> DataFrame:
    q = quantized()
    return emb.select(
        "vec_id", "label", q.alias("q"), _sq_norm(q).alias("n2")
    ).filter(F.col("n2") > 0)


def _collect_queries(base: DataFrame, n_queries: int):
    """Driver-side (vec_id, q, n2) for the first ``n_queries`` vectors
    of ``with_quantized`` output (tiny: n_queries x dim ints), and their
    common length ``dim``: the most frequent length among them, ties to
    the smallest vec_id's.  Vectors of another length are dropped."""
    rows = [
        (int(r["vec_id"]), [int(x) for x in r["q"]], int(r["n2"]))
        for r in base.filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id")
        .collect()
    ]
    if not rows:
        return [], 0
    dim = Counter(len(q) for _, q, _ in rows).most_common(1)[0][0]
    return [r for r in rows if len(r[1]) == dim], dim


def _np_quantize(vm32):
    """numpy twin of ``quantized`` + ``_sq_norm`` over a batch matrix:
    float32 -> float64 is exact, *Q and floor are the same IEEE-754
    double ops as the JVM expressions, the int64 cast is lossless —
    bit-identical q/n2 without the per-element interpreted lambdas."""
    import numpy as np

    q = np.floor(vm32.astype(np.float64) * Q).astype(np.int64)
    return q, (q * q).sum(axis=1)


def _cent_arrays(cents: list[tuple[int, list[int], int]]):
    """Centroids as numpy int64 arrays, sorted by cid so that numpy's
    first-max argmax tie-breaks toward the SMALLEST cid."""
    import numpy as np

    ordered = sorted(cents, key=lambda c: c[0])
    cids = np.array([c[0] for c in ordered], dtype=np.int64)
    cmat = np.array([c[1] for c in ordered], dtype=np.int64)  # k x dim
    cn2 = np.array([c[2] for c in ordered], dtype=np.int64)
    return cids, cmat, cn2


def _argmax_cell(vm, n2, cids, cmat, cn2):
    """Argmax-cosine cell id per row of the int64 batch ``vm`` (norms
    ``n2``) against ``_cent_arrays`` output: ONE int64 matmul.  Dots are
    exact (|dot| < 2^53 so the float64 cast is lossless; overflow needs
    dim * Q^2 * sqrt(dim) > 2^63 — dim ~3000 at Q=1000), the cosine is
    one IEEE-754 double sqrt/divide, and ties go to the smallest cid
    (``cids`` is sorted, argmax takes the first maximum)."""
    import numpy as np

    den = np.sqrt((n2[:, None] * cn2[None, :]).astype(np.float64))
    return cids[np.argmax((vm @ cmat.T) / den, axis=1)]


def _score_batches(queries, k, probe_sets=None, cent_arrays=None):
    """mapInPandas closure over RAW (vec_id, embedding) batches:
    quantize (``_np_quantize``), score every corpus vector against the
    (driver-collected, closure-shipped) query matrix with ONE int64
    matmul, keep each query's per-batch top-k by (cos desc,
    neighbor_id asc), and emit only those candidate rows.

    The global top-k of each query is a subset of the union of its
    per-batch top-k's, so the downstream exact window over the emitted
    candidates returns results identical to scoring every pair — while
    the JVM<->Python traffic and the window shuffle carry
    O(batches x n_queries x k) rows instead of |corpus| x n_queries.
    Dots are exact int64 and the cosine is one double sqrt/divide, as
    in ``_argmax_cell``.

    ``probe_sets``/``cent_arrays`` (``_cent_arrays`` output) switch on
    IVF mode: each corpus vector is first assigned its cell
    (``_argmax_cell``) and query j only scores vectors whose cell is in
    ``probe_sets[j]``.
    """
    import numpy as np
    import pandas as pd

    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = np.array([q[1] for q in queries], dtype=np.int64)  # nq x dim
    qn2 = np.array([q[2] for q in queries], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm, n2 = _np_quantize(np.stack(pdf["embedding"].to_numpy()))
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            keep = n2 > 0  # with_quantized's zero-norm guard
            if not keep.all():
                vm, n2, vid = vm[keep], n2[keep], vid[keep]
            if len(vid) == 0:
                continue
            dots = vm @ qmat.T  # batch x nq
            cos = dots / np.sqrt((n2[:, None] * qn2[None, :]).astype(np.float64))
            if cent_arrays is not None:
                cell = _argmax_cell(vm, n2, *cent_arrays)
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                mask = vid != qids[j]
                if cent_arrays is not None:
                    mask &= np.isin(cell, probe_sets[j])
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                cj = cos[idx, j]
                order = np.lexsort((vid[idx], -cj))[:k]
                pick = idx[order]
                out_q.append(np.full(len(pick), qids[j], dtype=np.int64))
                out_n.append(vid[pick])
                out_c.append(cos[pick, j])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_raw": np.concatenate(out_c),
                }
            )

    return gen


def _rank_candidates(cand: DataFrame, k: int) -> DataFrame:
    """Exact (cos desc, neighbor_id asc) top-k window over a candidate
    table — the shared tail of both top-k searches."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("cos_raw", 6).alias("cos"),
        )
    )


def _search(emb, queries, dim, k, probe_sets=None, cent_arrays=None):
    """Score the corpus against ``queries`` in one mapInPandas pass and
    rank the per-batch candidates.  Only vectors the batch can stack are
    scored: exactly ``dim`` elements, none NULL (a NULL vector's size
    is -1 or NULL)."""
    schema = "query_id long, neighbor_id long, cos_raw double"
    if not queries:
        return _rank_candidates(emb.sparkSession.createDataFrame([], schema), k)
    corpus = emb.select("vec_id", "embedding").filter(
        (F.size("embedding") == dim)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    cand = corpus.mapInPandas(
        _score_batches(queries, k, probe_sets, cent_arrays), schema
    )
    return _rank_candidates(cand, k)


def cosine_topk(emb: DataFrame, k: int = 5, n_queries: int = 20) -> DataFrame:
    """Brute-force top-k neighbors for the first ``n_queries`` vectors.

    Output: (query_id, neighbor_id, rank, cos), ranked by (cos desc,
    neighbor_id asc).  The query matrix is collected once (n_queries x
    dim ints) and scoring runs as one numpy int64 matmul per Arrow
    batch with per-batch top-k pruning (``_score_batches``) — the exact
    window then ranks O(batches x n_queries x k) candidate rows instead
    of |corpus| x n_queries scored pairs.  Row-equal to the crossJoin
    reference (test_cosine_topk_matches_hof).

    Malformed vectors are dropped, on both sides: a NULL vector, a
    vector with a NULL element, a zero vector, and a vector whose
    length differs from the queries' common length (see
    ``_collect_queries``).
    """
    queries, dim = _collect_queries(with_quantized(emb), n_queries)
    return _search(emb, queries, dim, k)


def lsh_bucket_pairs(
    emb: DataFrame, bands: int = 8, bits_per_band: int = 8
) -> DataFrame:
    """Most-similar pair per (band, key) LSH bucket (>=2 members).

    Output: (bucket, n_members, doc_a, doc_b, cos), where bucket =
    ``'<band>:<key>'``.

    Round-2 VERDICT #3 rewrite.  Two fixes over the original:

    - hash family: BANDED sign keys over dims ``[band*bits, ...)``
      (``band_keys``, shared with the near-dup path) instead of one key
      from the 8 LEADING dims — leading dims of learned embeddings are
      correlated, so a single leading-dim key concentrates the corpus
      into few hot buckets;
    - top-pair selection: ``max(struct(cos, -doc_a, -doc_b))`` per
      bucket — an aggregation with map-side partial combine — instead
      of ``row_number`` over a per-bucket window, which sorts EVERY
      candidate pair of a bucket inside one task (a hot bucket's
      C(k,2) rows become one straggler + its heap).  The struct max is
      order-total (cos desc, then smallest ids via negation), so the
      result is deterministic, unlike ``max_by`` under ties.
    """
    # band keys AND quantization computed in ONE map-side projection —
    # the explode carries (q, n2) with it, so no vec_id self-join is
    # needed to re-attach payloads (that join cost two corpus-scale
    # exchanges; the shuffled volume into the bucket join is identical
    # either way: corpus x bands rows with q attached)
    q = quantized()
    base = (
        emb.select(
            "vec_id",
            q.alias("q"),
            _sq_norm(q).alias("n2"),
            F.explode(
                _band_entries(bands=bands, bits_per_band=bits_per_band)
            ).alias("bk"),
        )
        .filter(F.col("n2") > 0)
        .select(
            "vec_id", "q", "n2",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
    )
    sizes = base.groupBy("band", "key").agg(F.count("*").alias("n_members"))
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.band").alias("band"),
        F.col("a.key").alias("key"),
        F.col("a.vec_id").alias("doc_a"),
        F.col("b.vec_id").alias("doc_b"),
        (
            _dot(F.col("a.q"), F.col("b.q"))
            / F.sqrt((F.col("a.n2") * F.col("b.n2")).cast("double"))
        ).alias("cos_raw"),
    )
    best = pairs.groupBy("band", "key").agg(
        F.max(
            F.struct(
                F.col("cos_raw"),
                (-F.col("doc_a")).alias("nda"),
                (-F.col("doc_b")).alias("ndb"),
            )
        ).alias("m")
    )
    return (
        best.join(sizes, ["band", "key"])
        .select(
            F.concat_ws(":", F.col("band"), F.col("key")).alias("bucket"),
            "n_members",
            (-F.col("m.nda")).alias("doc_a"),
            (-F.col("m.ndb")).alias("doc_b"),
            F.round("m.cos_raw", 6).alias("cos"),
        )
    )


def band_keys(
    emb: DataFrame,
    bands: int = 8,
    bits_per_band: int = 8,
    col: str = "embedding",
) -> DataFrame:
    """(vec_id, band, key): per-band sign-bit LSH keys.

    Band ``b`` hashes dims ``[b*bits, (b+1)*bits)`` to their sign
    pattern — banded random-hyperplane LSH with axis-aligned planes
    (deterministic, hence oracle-reproducible).  A pair is a candidate
    if ANY band key matches; more bands -> higher recall, more bits per
    band -> smaller buckets.  Same banding shape as the MinHash path in
    dedup.py.
    """
    entries = _band_entries(bands=bands, bits_per_band=bits_per_band, col=col)
    return emb.select("vec_id", F.explode(entries).alias("bk")).select(
        "vec_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _band_entries(
    bands: int = 8, bits_per_band: int = 8, col: str = "embedding"
) -> F.Column:
    """array<struct(band, key)> of per-band sign keys — the map-side
    banding expression shared by ``band_keys`` and
    ``lsh_bucket_pairs``."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[
                        F.when(
                            F.element_at(F.col(col), b * bits_per_band + i + 1)
                            >= 0,
                            F.lit("1"),
                        ).otherwise(F.lit("0"))
                        for i in range(bits_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    emb: DataFrame,
    bands: int = 8,
    bits_per_band: int = 8,
    max_band_df: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (va < vb) sharing >=1 band key.

    The join is an equi-join on (band, key) — candidate volume is
    sum over buckets of C(bucket_size, 2), never the full corpus product.

    ``max_band_df`` caps a bucket's document frequency before the
    self-join (same degenerate-corpus guard as
    ``dedup.minhash_lsh_pairs``): a corpus with many identical/near-zero
    embeddings collapses into one sign bucket whose C(k,2) pair volume
    is quadratic; with the cap those buckets form no candidates (their
    members still pair through any other, rarer band).
    """
    keys = band_keys(emb, bands=bands, bits_per_band=bits_per_band)
    if max_band_df is not None:
        bdf = keys.groupBy("band", "key").agg(F.count("*").alias("_bdf"))
        keys = (
            keys.join(bdf, ["band", "key"])
            .filter(F.col("_bdf") <= max_band_df)
            .select("vec_id", "band", "key")
        )
    a = keys.select(F.col("vec_id").alias("va"), "band", "key")
    b = keys.select(F.col("vec_id").alias("vb"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
    )


def embedding_near_dup_docs(
    docs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.9,
    bands: int = 8,
    bits_per_band: int = 8,
    max_band_df: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over documents, two-stage:

    1. candidates from banded sign-LSH (``lsh_candidate_pairs``) — an
       equi-join on band keys, NO all-pairs product (the round-1 version
       was a cross join: O(n^2) rows, dead at 10M docs);
    2. exact quantized-cosine verification of candidates only.

    Recall is the standard banded-LSH tradeoff (any-band sign agreement);
    tests pin it against an all-pairs baseline on the fixture.
    """
    base = with_quantized(emb).join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    )
    a = base.select(
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na"),
        F.col("source").alias("source_a"),
    )
    b = base.select(
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
        F.col("source").alias("source_b"),
    )
    cand = lsh_candidate_pairs(
        emb, bands=bands, bits_per_band=bits_per_band,
        max_band_df=max_band_df,
    )
    pairs = cand.join(a, "va").join(b, "vb")
    scored = pairs.withColumn(
        "cos_raw",
        _dot(F.col("qa"), F.col("qb"))
        / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
    )
    return scored.filter(F.col("cos_raw") >= threshold).select(
        F.col("va").alias("doc_a"),
        F.col("vb").alias("doc_b"),
        "source_a",
        "source_b",
        F.round("cos_raw", 6).alias("cos"),
    )


def _assign_batches(cents):
    """mapInPandas closure over (vec_id, q, n2) batches: each vector's
    ``_argmax_cell`` — the cell assignment ``ivf_topk`` runs."""
    import numpy as np
    import pandas as pd

    cent_arrays = _cent_arrays(cents)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n2 = pdf["n2"].to_numpy().astype(np.int64)
            cell = _argmax_cell(vm, n2, *cent_arrays)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cid": cell.astype(np.int32)}
            )

    return gen


def ivf_assign(
    base: DataFrame, cents: list[tuple[int, list[int], int]]
) -> DataFrame:
    """(vec_id, cid): argmax-cosine cell per ``with_quantized`` vector,
    MAP-SIDE (MapInPandas, no Exchange — plan-pinned by test).

    ``cents`` = [(cid, quantized_vector, sq_norm)]; ties go to the
    smallest cid whatever the list order.  One numpy int64 matmul per
    Arrow batch (``_argmax_cell``), so an index-sized k=1024-4096 costs
    a matmul, not k x dim interpreted lambda steps per row."""
    return base.select("vec_id", "q", "n2").mapInPandas(
        _assign_batches(cents), "vec_id long, cid int"
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 20,
    n_centroids: int = 16,
    n_probe: int = 8,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-centroid partitioned search.

    The classic inverted-file ANN shape (the third similarity path next
    to brute-force and banded LSH):

    1. centroids: by default ``n_centroids`` deterministic seed vectors
       (the first vec_ids, cid = vec_id) — seeds keep the index
       oracle-expressible; pass ``centroids`` (quantized integer
       vectors, e.g. ``kmeans_lloyd(...)[1]``, cid = list index) for a
       trained production index.  Either way the centroid set is TINY
       (k x dim ints) and collected once to the driver, in the same
       collect as the queries;
    2. probes: each query ranks the centroids on the driver by (cos
       desc, cid asc) and keeps its top ``n_probe`` cells;
    3. search: ONE mapInPandas pass assigns every corpus vector its
       argmax-cosine cell (``_argmax_cell``, the ``ivf_assign`` code),
       lets each query score only vectors in its probed cells (same
       int64 matmul as ``cosine_topk``), and emits per-batch top-k
       candidates to the exact window.  No join, and the only shuffle
       is the window's, on query_id over candidate rows.  Scored
       fraction ~ n_probe/n_centroids of the corpus.

    Output matches ``cosine_topk``: (query_id, neighbor_id, rank, cos),
    with the same malformed-vector contract; recall@k vs the exact scan
    is pinned by tests (trained >= seeded).
    """
    import numpy as np

    base = with_quantized(emb)
    if centroids is None:
        rows, dim = _collect_queries(base, max(n_centroids, n_queries))
        cents = [r for r in rows if r[0] < n_centroids]
    else:
        rows, dim = _collect_queries(base, n_queries)
        cents = [
            (i, [int(x) for x in c], sum(int(x) * int(x) for x in c))
            for i, c in enumerate(centroids)
        ]
    if not cents:
        raise ValueError("empty centroid set")
    queries = [r for r in rows if r[0] < n_queries]
    cent_arrays = _cent_arrays(cents)
    cids, cmat, cn2 = cent_arrays
    probe_sets = []
    for _qid, qvec, qn2 in queries:
        cos_c = (cmat @ np.array(qvec, dtype=np.int64)) / np.sqrt(
            (cn2 * np.int64(qn2)).astype(np.float64)
        )
        probe_sets.append(np.sort(cids[np.lexsort((cids, -cos_c))[:n_probe]]))
    return _search(emb, queries, dim, k, probe_sets, cent_arrays)


def label_stats(emb: DataFrame) -> DataFrame:
    """Per-label corpus stats on quantized norms (exact integers until
    the final rounded average)."""
    base = with_quantized(emb)
    return base.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum("n2").alias("sum_sq_norm"),
        F.round(F.avg(F.sqrt(F.col("n2").cast("double"))), 6).alias("avg_norm"),
    )


def kmeans_lloyd(
    emb: DataFrame, k: int = 8, iters: int = 5
) -> tuple[DataFrame, list[list[int]]]:
    """Deterministic Lloyd k-means over quantized embeddings.

    Returns ``(assignments, centroids)``: assignments =
    (vec_id, cluster_id, sq_dist); centroids = the final k quantized
    integer vectors.  The trainer behind a production IVF index
    (``ivf_topk``'s docstring note) — seeds are the first ``k``
    vec_ids, every iteration is one map-side assignment against the
    BROADCAST centroid literals plus one groupBy mean, and all
    arithmetic is exact-integer squared-L2 with a floor re-quantization
    of each new centroid, so the result is bit-identical at any
    partitioning.

    Scale shape per iteration: zero joins — the k x dim centroid matrix
    rides into the assignment expression as literals (k*dim ints, tiny);
    the mean aggregation is map-side combined on a k-ary key.  Driver
    holds only k centroids between iterations.
    """
    if k <= 0 or iters <= 0:
        raise ValueError("k and iters must be positive")
    base = with_quantized(emb).select("vec_id", "q").persist()
    cents = [
        [int(x) for x in r["q"]]
        for r in base.filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .collect()
    ]
    if len(cents) < k:
        raise ValueError(f"need >= {k} vectors with vec_id < k for seeding")
    dim = len(cents[0])

    def assign_cols(cs):
        # argmin via array_min over ONE struct array: min squared
        # distance, ties -> smallest cid (plain struct ordering — no
        # negation needed for a minimum).  The original per-centroid
        # distance columns + strict-< when-chain fold was semantically
        # identical, but project-collapse inlined the k distance
        # expressions into the chain — an O(k^2 x dim) Catalyst tree
        # that OOMed the driver at k=16.
        # centroid matrix as ONE parsed array literal + index-aware
        # transform: plan is O(1) in k, and the JVM parses the values
        # from one SQL string in milliseconds, where ``F.lit`` on a
        # nested list converts element by element over py4j (~0.85 s
        # for 16 x 64 ints) — which this loop would pay EVERY iteration
        vecs = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(f"{int(x)}L" for x in c) + ")"
                for c in cs
            )
            + ")"
        )
        m = F.array_min(
            F.transform(
                vecs,
                lambda cv, i: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("q"), cv, lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    i.cast("int").alias("cid"),
                ),
            )
        )
        return base.select(
            "vec_id", "q",
            m["cid"].alias("cluster_id"), m["d"].alias("sq_dist"),
        )

    for _ in range(iters):
        a = assign_cols(cents)
        means = (
            a.groupBy("cluster_id")
            .agg(
                *[
                    F.floor(
                        F.avg(F.element_at(F.col("q"), i + 1))
                    ).cast("long").alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new = {r["cluster_id"]: [r[f"m{i}"] for i in range(dim)] for r in means}
        # an emptied cluster keeps its previous centroid
        cents = [new.get(i, cents[i]) for i in range(k)]
    out = assign_cols(cents).select("vec_id", "cluster_id", "sq_dist")
    # release the training cache before returning (r04 ADVICE): the
    # final assignment recomputes cheaply from the centroid literals,
    # and a long-lived session should not hold the quantized corpus
    # until ContextCleaner GC
    base.unpersist()
    return out, cents


def centroid_drift(
    emb: DataFrame,
    key: str = "label",
    bucket: str = "day",
    vec: str = "q",
) -> DataFrame:
    """Bucket-over-bucket L2 shift of each key's centroid over a
    quantized integer vector column — embedding-space drift as a
    TIMESERIES: a crawl source or annotation label whose centroid
    starts walking is changing meaning (domain shift, label noise,
    encoder version skew) long before downstream eval catches it.
    The time-axis sibling of ``label_stats`` (static norms) and
    ``anomaly.categorical_drift`` (token histograms).

    ``emb`` must carry (key, bucket, ``vec``: array<long>) — quantize
    floats first with ``quantized()`` (the family's exact-integer
    discipline).  Per-dim sums are exact integers; the centroid is one
    division per dim, and the L2 shift is an index-ordered fold over
    the zipped consecutive centroids (``zip_with`` + ``F.aggregate``
    == the DuckDB twin's ``list_zip`` + ordered ``list_reduce``,
    bit-for-bit).

    Scale shape: one posexplode to (key, bucket, pos) — dim x |rows|
    rows into a map-side-combined sum, the standard elementwise-
    centroid shuffle — then all remaining work on |keys x buckets x
    dim| aggregated rows; the lag window sorts only |buckets| rows per
    key.  No joins, no UDF, no collect.

    Output: (key, bucket, n_vectors, l2_shift); l2_shift is NULL on
    each key's first bucket, and is in QUANTIZED units (divide by the
    quantization scale for embedding units).
    """
    d = emb.select(key, bucket, F.posexplode(vec).alias("pos", "v"))
    g = d.groupBy(key, bucket, "pos").agg(
        F.sum("v").alias("sx"), F.count("*").alias("n")
    )
    cent = (
        g.groupBy(key, bucket)
        .agg(
            F.max("n").alias("n_vectors"),
            F.min("n").alias("_n_min"),
            F.array_sort(
                F.collect_list(F.struct("pos", "sx"))
            ).alias("_ps"),
        )
        # uniform-dimension guard (r05 ADVICE): a ragged batch (vectors
        # of differing length, or NULL elements dropped by posexplode)
        # would silently skew the short dimensions' means — emit a NULL
        # centroid for that (key, bucket) instead, which surfaces as
        # NULL l2_shift rather than a wrong number
        .withColumn(
            "_cent",
            F.when(
                F.col("_n_min") == F.col("n_vectors"),
                F.transform(
                    F.col("_ps"),
                    lambda s: s["sx"].cast("double")
                    / F.col("n_vectors").cast("double"),
                ),
            ),
        )
        .drop("_ps", "_n_min")
    )
    w = Window.partitionBy(key).orderBy(bucket)
    shifted = cent.withColumn("_prev", F.lag("_cent").over(w))
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("_cent"),
                F.col("_prev"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return shifted.select(
        key,
        bucket,
        "n_vectors",
        F.when(
            F.col("_prev").isNotNull(), F.round(l2, 6)
        ).alias("l2_shift"),
    )
