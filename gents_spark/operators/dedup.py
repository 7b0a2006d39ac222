"""Deduplication operators for training-data pipelines.

Four families, all declarative DataFrame ops (shuffle-conscious shapes):

- exact: fingerprint groupBy — one shuffle on the fingerprint;
- n-gram Jaccard: shingle explode + self-equi-join on shingle + pair agg
  (the join key is the shingle, so common shingles dominate cost — at
  100 TB you'd drop the top-frequency shingles first, like stop-shingle
  filtering in industrial near-dup pipelines);
- MinHash + LSH banding: per-doc signature (k min-aggs over one explode),
  band keys, candidate pairs via band groupBy — avoids the all-pairs
  product entirely (the scale path);
- SimHash: per-bit majority vote over word hashes, one 16-bit key per
  doc; near-dups collide on small Hamming distance.

All hashing is md5-based (portable) so results pair 1:1 with SQL oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gents_spark.operators.textstats import word_hash, words_col

MINHASH_P = 2_147_483_647
#: fixed (a, b) for k=12 universal-hash permutations (public constants,
#: arbitrary odd multipliers)
MINHASH_AB = [
    (1103515245, 12345), (1103245, 54321), (69069, 7), (1664525, 1013904223),
    (22695477, 1), (134775813, 10907), (214013, 2531011), (16843009, 826366247),
    (3014898611, 1), (1220703125, 11), (32310901, 33), (48271, 3),
]
N_BANDS = 4
ROWS_PER_BAND = 3


def shingles_col(n: int = 3) -> F.Column:
    """n-word shingles as strings; empty array when the doc is shorter
    than n words (``greatest(.., 0)`` — a negative slice length would
    throw).

    Built as a zip_with fold over n SLICED copies of the words array
    rather than ``transform(sequence(..), i -> element_at(w, i+j))``:
    higher-order lambdas re-evaluate captured EXPRESSIONS per element,
    so the element_at form re-split ``text`` n times for every shingle
    — O(words^2) per doc (measured 4.4s -> 0.4s on the 5000-doc bench
    corpus).  Slice arguments are evaluated once per ROW."""
    w = words_col()
    m = F.greatest(F.size(w) - (n - 1), F.lit(0))
    acc = F.slice(w, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(w, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # NULL text propagates NULL through split/slice/zip_with; coalesce
    # keeps the documented empty-array contract (size()=0, not -1)
    return F.coalesce(acc, F.array().cast("array<string>"))


def _shingle_batches(n: int, distinct: bool):
    """mapInPandas closure: (doc_id, text) batches -> (doc_id, _sh)
    where ``_sh`` is the doc's 60-bit shingle-hash array — the Python
    twin of ``transform(shingles_col(n), word_hash)`` (plus
    ``array_distinct`` when ``distinct``).

    Semantics replicated exactly (pinned by
    test_shingle_arrays_matches_hof): ``split(text, ' ')`` keeps
    leading/trailing/interior empty tokens in both engines (Java regex
    split with limit -1 == Python ``str.split(' ')``); the hash is
    ``conv(substring(md5(utf8), 1, 15), 16, 10)`` ==
    ``int(hashlib.md5(utf8).hexdigest()[:15], 16)``; NULL text -> empty
    array (the ``coalesce`` contract of ``shingles_col``);
    ``array_distinct`` keeps first-occurrence order, as does the
    set-guarded append.

    Why Python here (guide §4.2): the JVM formulation evaluates an
    interpreted zip_with concat chain + md5 + conv + substring PER
    SHINGLE (~50µs each; 4s over 32 cores for sf1.0's 2.5M shingles,
    measured) — hashlib's C md5 plus a str.join does the same work in
    ~2µs.  Arrow batches in, Arrow batches out; no per-row UDF."""
    import hashlib

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = []
            for txt in pdf["text"]:
                if txt is None:
                    out.append([])
                    continue
                w = txt.split(" ")
                m = len(w) - (n - 1)
                hs = []
                if distinct:
                    seen = set()
                    for i in range(m if m > 0 else 0):
                        h = int(
                            hashlib.md5(
                                " ".join(w[i:i + n]).encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        if h not in seen:
                            seen.add(h)
                            hs.append(h)
                else:
                    for i in range(m if m > 0 else 0):
                        hs.append(
                            int(
                                hashlib.md5(
                                    " ".join(w[i:i + n]).encode("utf-8")
                                ).hexdigest()[:15],
                                16,
                            )
                        )
                out.append(hs)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "_sh": out})

    return gen


def shingle_hash_arrays(
    docs: DataFrame, n: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, _sh: array<long>) per document — the per-doc shingle
    working set of every n-gram operator, computed in one Arrow pass
    (``_shingle_batches``)."""
    return docs.select("doc_id", "text").mapInPandas(
        _shingle_batches(n, distinct), "doc_id long, _sh array<long>"
    )


def exact_dedup_groups(docs: DataFrame, prefix_words: int = 5) -> DataFrame:
    """Exact dedup on a prefix fingerprint: group size, canonical doc
    (min doc_id), is_dup flag per doc.  With prefix_words=None the key is
    the full text md5."""
    w = words_col()
    key_src = (
        F.concat_ws(" ", F.slice(w, 1, prefix_words))
        if prefix_words
        else F.col("text")
    )
    keyed = docs.select("doc_id", F.md5(key_src).alias("fp"))
    win = Window.partitionBy("fp")
    return keyed.select(
        "doc_id",
        "fp",
        F.count("*").over(win).alias("group_size"),
        F.min("doc_id").over(win).alias("canonical_doc_id"),
        (F.count("*").over(win) > 1).alias("is_dup"),
    )


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the dedup working set.

    Shingles are 60-bit md5-prefix keys, hashed in the array BEFORE the
    explode: the inverted-index and verify joins downstream shuffle
    longs instead of ~20-char strings.  The SQL oracle applies the
    identical hash expression, so set sizes and intersection counts are
    bit-identical across engines even in the astronomically-unlikely
    collision case — both engines collide identically.

    Dedup is ``array_distinct`` BEFORE the explode — per-doc set
    semantics computed map-side (doc_id is unique in ``docs``), where a
    post-explode ``.distinct()`` would shuffle the whole exploded
    corpus index just to drop within-doc repeats (r05).
    """
    hashed = F.array_distinct(F.transform(shingles_col(n), word_hash))
    return docs.select("doc_id", F.explode(hashed).alias("shingle"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing >=1 shingle.

    Output: (doc_a, doc_b, n_common, n_a, n_b, jaccard) with doc_a<doc_b.
    Integer set sizes make the join exact; jaccard rounded to 6 dp.

    ``max_shingle_df`` is the stop-shingle cap (round-1 VERDICT: a hot
    shingle shared by k docs generates C(k,2) pair rows in the self-join
    — quadratic in its document frequency).  When set, candidate pairs
    come only from shingles with document frequency <= max_shingle_df;
    n_common/jaccard are then verified EXACTLY over the full shingle
    sets of the candidates, so values never change — only pairs whose
    EVERY common shingle is hotter than the cap are missed (such pairs
    share boilerplate, not content).  The candidate join is the standard
    frequency-capped inverted-index shape of AllPairs/PPJoin.

    The per-doc shingle-ARRAY table feeds three consumers (the
    candidate explode and both verify sides) and is persisted so the
    Arrow shingling pass runs once (see ``_pair_common_counts``);
    reclamation is left to the ContextCleaner.
    """
    j = _pair_common_counts(docs, n, max_shingle_df)
    j = j.withColumn(
        "jaccard",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ),
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Overlap-coefficient (containment) near-dup: ``n_common /
    min(n_a, n_b)`` (Broder 1997's containment measure over n-gram
    sets).  The asymmetric-size signal Jaccard dilutes: a 50-word
    passage quoted inside a 5000-word doc has Jaccard ~0.01 but
    containment ~1.0 for the smaller doc — the quote/subset
    relationships a training-data pipeline wants to catch after
    document-level dedup has passed both docs as "unique".

    Output: (doc_a, doc_b, n_common, n_a, n_b, containment) with
    doc_a < doc_b; exact integer counts, containment rounded to 6 dp.
    Same frequency-capped inverted-index shape (and the same exactness
    caveat) as ``ngram_jaccard_pairs`` — candidates from shingles with
    df <= ``max_shingle_df``, counts verified over full shingle sets.
    """
    c = _pair_common_counts(docs, n, max_shingle_df)
    out = c.withColumn(
        "containment",
        F.round(
            F.col("n_common").cast("double") / F.least("n_a", "n_b"), 6
        ),
    )
    return out.filter(F.col("containment") >= threshold).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "containment"
    )


def _pair_common_counts(
    docs: DataFrame,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) for every candidate pair
    sharing >=1 (optionally df-capped) shingle — the shared core of
    ``ngram_jaccard_pairs`` and ``containment_pairs``; see the former
    for the cap semantics.

    Shape (r06 rewrite of the capped path): the unit of state is the
    PER-DOC distinct shingle-hash array (map-side, one row per doc)
    instead of the exploded (doc, shingle) index.

    - candidates: explode the array once, group by shingle, keep
      buckets with df <= cap, and emit each bucket's C(df,2) ordered
      pairs map-side from the sorted doc list (bounded by the cap) —
      ONE aggregation replaces the df-count agg + df join + index
      self-join of the old plan;
    - exact verify: join the (small, candidate-driven) pair table back
      to the per-doc arrays on each side and count common shingles
      with ``array_intersect`` — n_common over the FULL sets, exactly
      as before, but the two joins carry |cand| rows against |docs|
      rows instead of shuffling the whole exploded index twice, and
      the per-pair count needs no groupBy at all;
    - sizes: ``size(array)`` map-side, replacing the per-doc count agg.

    The old plan's exploded-index verify (2 index-wide shuffles + a
    pair groupBy) measured 3.9s/5.9s (sf1.0/sf0.1) for
    dedup_containment; this shape removes every index-sized exchange
    except the one candidate aggregation.
    """
    from pyspark import StorageLevel

    arrs = shingle_hash_arrays(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    s = arrs.select("doc_id", F.explode("_sh").alias("shingle"))
    if max_shingle_df is not None:
        buckets = (
            s.groupBy("shingle")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("_ds"))
            .filter(F.size("_ds") <= max_shingle_df)
        )
        # C(df,2) ordered pairs per surviving bucket, map-side: df is
        # bounded by the cap, so the fan-out is <= C(cap,2) per bucket
        combos = F.flatten(
            F.transform(
                F.col("_ds"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("_ds"), i + 2, F.size(F.col("_ds"))
                    ),
                    lambda y: F.struct(
                        x.alias("doc_a"), y.alias("doc_b")
                    ),
                ),
            )
        )
        cand = (
            buckets.select(F.explode(combos).alias("_p"))
            .select("_p.doc_a", "_p.doc_b")
            .distinct()
        )
    else:
        a = s.alias("a")
        b = s.alias("b")
        cand = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    # exact verify over the FULL per-doc sets; the candidate side is
    # small, so AQE broadcasts it at runtime — the array table itself
    # is never shuffled (no hint: at a scale where cand outgrows the
    # broadcast threshold these degrade to partitioned joins instead
    # of OOMing the driver)
    wa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_sh").alias("_sh_a"),
        F.size("_sh").cast("long").alias("n_a"),
    )
    wb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_sh").alias("_sh_b"),
        F.size("_sh").cast("long").alias("n_b"),
    )
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long").alias(
                "n_common"
            ),
            "n_a",
            "n_b",
        )
    )


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """k=12 MinHash components per doc (columns mh0..mh11).

    ENTIRELY map-side: one Arrow pass per partition — no explode, no
    groupBy, zero shuffle (min over the raw multiset equals min over
    the distinct shingle set, so no distinct either).  Signatures are
    per-doc functions of the doc alone; at 100 TB this is a pure
    scan-project whose parallelism equals the scan partitioning.
    """
    # Arrow/numpy path (r06): the shingle hashing runs through the
    # hashlib shingler (``_shingle_batches``) and all 12 permutation
    # minima come from one vectorized (12 x |shingles|) int64
    # ``(a*h + b) % P`` min-reduce per doc — replacing 12 interpreted
    # transform lambdas per shingle.  Exact-integer equal to the HOF
    # formulation: every operand is positive so numpy ``%`` == pmod,
    # and a*h < 2^63 (a < 2^32, h < P = 2^31-1) never overflows.
    # Docs shorter than one shingle emit no row, as before (pinned by
    # test_minhash_signatures_matches_hof).
    import numpy as np
    import pandas as pd

    amat = np.array([a for a, _ in MINHASH_AB], dtype=np.int64)[:, None]
    bmat = np.array([b for _, b in MINHASH_AB], dtype=np.int64)[:, None]
    names = [f"mh{i}" for i in range(len(MINHASH_AB))]
    shingler = _shingle_batches(n, distinct=False)

    def gen(batches):
        for pdf in shingler(batches):
            ids, sigs = [], []
            for doc_id, hs in zip(pdf["doc_id"], pdf["_sh"]):
                if not hs:
                    continue
                h = np.asarray(hs, dtype=np.int64) % MINHASH_P
                ids.append(doc_id)
                sigs.append(((amat * h + bmat) % MINHASH_P).min(axis=1))
            if not ids:
                continue
            sig = np.stack(sigs)
            out = {"doc_id": ids}
            for i, name in enumerate(names):
                out[name] = sig[:, i]
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, " + ", ".join(f"{c} long" for c in names)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    max_band_df: int | None = None,
) -> DataFrame:
    """LSH banding: 4 bands x 3 rows; candidate pairs = docs sharing >=1
    band key.  Output (doc_a, doc_b, n_common_bands).

    Scale shape: signatures job is one explode+groupBy; banding job is
    groupBy(band_key) — never an all-pairs product.

    ``max_band_df`` is the band-bucket frequency cap (round-2 VERDICT:
    a band bucket of k docs emits C(k,2) candidate rows, so a
    degenerate corpus — many near-empty docs collapsing to identical
    signatures — makes one bucket quadratic, the same failure mode
    ``ngram_jaccard_pairs.max_shingle_df`` fixes).  When set, only
    (band, key) buckets with document frequency <= the cap form
    candidates; pairs lost share a boilerplate-hot signature and would
    be re-found by the exact-verify stage of a full dedup chain.
    """
    sig = minhash_signatures(docs, n)
    # Band extraction is a map-side posexplode over the signature row —
    # ONE pass, no 4-branch union (round-3 regression: a per-band union
    # re-planned the signature job per branch and quadrupled shuffle
    # partitions; the self-join then recomputed the unpersisted capped
    # subplan for BOTH sides — 800-task stages for a 263-row result).
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{bnd * ROWS_PER_BAND + r}")
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for bnd in range(N_BANDS)
        ]
    )
    allbands = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "key")
    )
    # ONE aggregation on (band, key) replaces the old window-count +
    # persisted self-join (r06): each bucket keeps its sorted doc list,
    # the df cap filters map-side on the list size (same semantics as
    # the window count), and the bucket's C(k,2) ordered pairs are
    # emitted by a map-side combination explode bounded by the cap —
    # the ``_pair_common_counts`` candidate shape.  The pair count per
    # (doc_a, doc_b) is then n_common_bands exactly as the join
    # produced it.  Single consumer of the band table, so nothing is
    # persisted.
    buckets = allbands.groupBy("band", "key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("_ds")
    )
    if max_band_df is not None:
        buckets = buckets.filter(F.size("_ds") <= max_band_df)
    combos = F.flatten(
        F.transform(
            F.col("_ds"),
            lambda x, i: F.transform(
                F.slice(F.col("_ds"), i + 2, F.size(F.col("_ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common_bands"))
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Per-doc SimHash: majority vote per bit over word hashes.

    Map-side: one Arrow pass per partition — no explode, no groupBys,
    zero shuffle.  Votes count word OCCURRENCES (multiset), same as
    the exploded formulation; NULL-text docs emit NO row (the
    oracle's unnest semantics — r04 ADVICE; a non-NULL text always
    splits to >= 1 token, so the old size(words) > 0 guard reduces to
    text IS NOT NULL).

    r06: the JVM form evaluated ``bits`` interpreted fold lambdas per
    word occurrence (~140M lambda steps at sf1.0); here the word
    hashes come from hashlib's C md5 (the ``_shingle_batches``
    argument — identical conv(substring(md5..)) values, pinned by
    test_simhash_matches_hof) and the per-bit votes are one vectorized
    (|words| x bits) numpy reduction per doc.  Exact-integer equal:
    votes are int sums, the sign test and bit assembly are the same.
    """
    import numpy as np
    import pandas as pd

    mask = (1 << bits) - 1
    shifts = np.arange(bits, dtype=np.int64)

    def gen(batches):
        import hashlib

        for pdf in batches:
            ids, out = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                if txt is None:
                    continue
                hs = np.fromiter(
                    (
                        int(
                            hashlib.md5(w.encode("utf-8")).hexdigest()[:15],
                            16,
                        )
                        & mask  # == pmod(word_hash, 2^bits): hash >= 0
                        for w in txt.split(" ")
                    ),
                    dtype=np.int64,
                )
                bits_m = (hs[:, None] >> shifts) & 1  # |words| x bits
                votes = (2 * bits_m - 1).sum(axis=0)
                ids.append(doc_id)
                out.append(
                    int(((votes >= 0).astype(np.int64) << shifts).sum())
                )
            if not ids:
                continue
            yield pd.DataFrame({"doc_id": ids, "simhash": out})

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, simhash long"
    )


def dup_clusters(pairs: DataFrame, max_iter: int | None = None) -> DataFrame:
    """Connected components over duplicate pairs: (doc_id, cluster_id).

    The dedup capstone — near-dup PAIRS must become GROUPS before a
    keep-one-representative policy can apply (a~b, b~c => one cluster
    {a,b,c} even if a!~c directly).  cluster_id = the minimum doc_id
    reachable in the undirected pair graph.

    Algorithm: iterative min-label propagation — each round every node
    takes min(own label, neighbors' labels); converges in O(graph
    diameter) rounds, each one equi-join + groupBy (shuffles on doc_id
    only, never materializing paths).  This is the standard large-scale
    connected-components shape (the reference analog is GenTS's group
    assembly, hfcollection.py:145-190, which assumes key-equality
    groups; near-dup grouping needs transitive closure).

    Driver-side loop with a convergence check: iteration count is
    bounded by the cluster diameter (tiny for dup clusters), NOT data
    size; each iteration is fully distributed.

    By default the loop runs UNTIL converged (changed == 0) — the
    iteration bound is the graph diameter, which needs no
    data-independent cap.  ``max_iter`` exists only as an explicit
    safety valve; exhausting it with labels still changing RAISES
    (returning silently would hand ``keep_representatives`` wrong
    cluster_ids — round-2 ADVICE).

    Each round's labels are materialized with a checkpoint — persist
    alone does NOT truncate logical lineage, so the plan tree nested
    one level per round and the driver OOMed stringifying it at
    diameter ~24 (caught by
    test_dup_clusters_random_graph_vs_union_find).  With the per-round
    cut, plan size is O(1) in rounds — the standard iterative-graph
    shape (GraphX/GraphFrames checkpoint the same way).  When the
    session has a checkpoint dir configured the cut is a RELIABLE
    ``checkpoint()`` (replicated; survives executor loss — what a
    production cluster run should use); otherwise ``localCheckpoint``
    (executor-local blocks: an executor loss mid-convergence fails the
    job, acceptable for single-JVM/local runs).  Superseded rounds'
    localCheckpoint blocks (one row per doc appearing in a duplicate
    pair, NOT the corpus) are reclaimed by the ContextCleaner as
    references drop; RELIABLE checkpoint files are only auto-removed
    when ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` —
    otherwise they live until the checkpoint dir is cleaned with the
    application, so a long-lived session running dedup repeatedly
    should set that conf or use a per-run checkpoint subdir.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
            )
        )
        .distinct()
        .persist()
    )
    def _cut(df: DataFrame) -> DataFrame:
        sc = df.sparkSession.sparkContext
        try:
            reliable = sc.getCheckpointDir() is not None
        except AttributeError:  # very old PySpark
            reliable = False
        return df.checkpoint() if reliable else df.localCheckpoint()

    labels = _cut(
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    try:
        it = 0
        while True:
            it += 1
            if max_iter is not None and it > max_iter:
                raise RuntimeError(
                    f"dup_clusters did not converge within max_iter="
                    f"{max_iter} rounds; cluster_ids would be wrong — "
                    "raise the cap or pass max_iter=None"
                )
            neigh = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("b"),
                        F.col("label").alias("nlabel"),
                    ),
                    "b",
                )
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.min("nlabel").alias("min_neigh"))
            )
            new_labels = _cut(
                labels.join(neigh, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce("min_neigh", "label")
                    ).alias("label"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        return labels.select(
            "doc_id", F.col("label").alias("cluster_id")
        )
    finally:
        edges.unpersist()


def keep_representatives(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Per-document keep/drop decision from duplicate clusters.

    The final dedup step: every document keeps ``cluster_id`` (its own
    id when unclustered) and ``keep`` — true for the cluster
    representative (min doc_id) and for all unclustered docs.  A
    training-data pipeline filters ``keep`` to materialize the deduped
    corpus; one broadcast-size join against the cluster table (clusters
    ~ #dup docs, tiny relative to the corpus).
    """
    c = clusters.select("doc_id", "cluster_id")
    out = docs.select("doc_id").join(c, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("keep"),
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplication census — the repeated-span signal of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better"): every position-aware n-word span, counted corpus-wide;
    each doc reports how much of it is made of spans that occur at
    least ``min_count`` times anywhere in the corpus (within-doc
    repeats count toward the total — a doc repeating its own paragraph
    is as much a memorization hazard as a cross-doc copy).

    Output per doc: (doc_id, n_spans, n_dup_spans, max_span_count,
    dup_ratio) where n_spans counts positions WITH multiplicity,
    n_dup_spans the positions whose span clears the corpus threshold,
    max_span_count the doc's hottest span's corpus count, and
    dup_ratio = n_dup_spans/n_spans (0.0 for sub-n-word docs).

    Scale shape (unlike pair dedup, entirely LINEAR — no candidate
    enumeration, so no frequency cap is needed): one explode of 60-bit
    span hashes (hashed in the array, map-side), one groupBy(span) with
    map-side partial counts, an inverted-index join back on the long
    key, one groupBy(doc_id).  The exploded index feeds both the count
    and the join side, so it is persisted (``shingles_col`` is
    map-side; without an Exchange there is no ReusedExchange
    materialization point and the split+md5 would run twice).
    """
    from pyspark import StorageLevel

    # Arrow/hashlib shingler with multiplicity (r06): one Python md5
    # pass replaces the interpreted per-shingle concat+md5+conv chain
    # (see ``_shingle_batches``), and the span count falls out of the
    # SAME array (len == greatest(|words|-(n-1), 0) by construction,
    # NULL text -> empty), so the sizes side needs no second text scan.
    arrs = shingle_hash_arrays(docs, n, distinct=False).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    spans = arrs.select("doc_id", F.explode("_sh").alias("span"))
    totals = spans.groupBy("span").agg(F.count("*").alias("total"))
    dup = (
        spans.join(totals.filter(F.col("total") >= min_count), "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.max("total").alias("max_span_count"),
        )
    )
    sizes = arrs.select("doc_id", F.size("_sh").alias("n_spans"))
    return sizes.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("max_span_count", F.lit(0)).cast("long").alias(
            "max_span_count"
        ),
        F.when(F.col("n_spans") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans"),
                6,
            )
        )
        .alias("dup_ratio"),
    )
