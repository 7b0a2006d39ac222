"""Physical-plan shape assertions (SURVEY.md §4).

The optimizer guarantees the reference implements by hand (filter before
read, header-only scans) must appear in Catalyst's plans: predicate
pushdown into the parquet scan, column pruning, map-side partial
aggregation, broadcast of small join sides.
"""

from __future__ import annotations

from gents_spark.driver_queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filters_push_into_scan(spark):
    p = _plan(spark, "filter_include_exclude")
    assert "PushedFilters" in p
    # the time-range predicate must reach the parquet reader
    assert "GreaterThanOrEqual(ts" in p and "LessThan(ts" in p


def test_rollup_scan_prunes_columns(spark):
    p = _plan(spark, "rollup_1m")
    # events has 6 columns; the rollup needs only ts, event_type, value
    assert "ReadSchema" in p
    sched = p[p.index("ReadSchema"):].splitlines()[0]
    assert "ts" in sched and "event_type" in sched and "value" in sched
    assert "props" not in sched and "user_id" not in sched


def test_rollup_has_partial_aggregation(spark):
    """Map-side combine before the exchange — the property that keeps the
    (source,bucket) shuffle proportional to bucket count, not row count."""
    p = _plan(spark, "rollup_1h")
    lower = p.lower()
    assert lower.count("hashaggregate") >= 2  # partial + final
    assert "exchange" in lower


def test_small_dim_join_broadcasts(spark):
    p = _plan(spark, "revenue_by_segment")
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_anti_join_stays_a_join(spark):
    p = _plan(spark, "customers_no_orders")
    assert "LeftAnti" in p or "left_anti" in p.lower()


def test_copartitioned_tier_build_has_no_data_exchange(spark):
    """The one-big-shuffle pipeline shape: with raw hash-partitioned on
    (source, _gchunk), the multi-tier fan-out aggregation AND the
    gap-fill lead window over every tier must need no further exchange —
    only the tiny chunk-summary carry (hash(source, tier) over
    |sources x days x tiers| rows) and its broadcast remain.  A
    regression here silently reintroduces a full shuffle of every tier
    row."""
    import pyspark.sql.functions as F

    from gents_spark.operators.gapfill import gapfill
    from gents_spark.operators.rollup import rollup
    from gents_spark.synth import synth_sequences
    from gents_spark.timeparse import with_event_time

    seqs = synth_sequences(spark, 2, 500)
    raw = (
        with_event_time(seqs, step_s=3600)
        .select("source", "event_time", "n_tok")
        .withColumn("_gchunk", F.date_trunc("day", F.col("event_time")))
        .repartition(8, "source", "_gchunk")
        .persist()
    )
    raw.count()  # materialize: plan shows InMemoryRelation, as in run()
    tiers = ["1m", "1h", "1d"]
    final = gapfill(
        rollup(raw, tiers, gchunk_col="_gchunk"), tiers, mode="locf",
        gchunk_col="_gchunk",
    )
    p = final._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # operator inventory from the formatted plan's detail section
    ops = [
        line.split(") ", 1)[1].split(" [")[0].strip()
        for line in p.splitlines()
        if line.startswith("(") and ") " in line
    ]
    # the lead window must sit directly on the tier aggregation with no
    # Exchange between them (both reuse the cached raw's partitioning);
    # scan the ops between the first Window and its nearest upstream
    # aggregate
    w = ops.index("Window")
    agg = max(
        i for i, o in enumerate(ops[:w]) if o.endswith("HashAggregate")
    )
    between = ops[agg:w]
    assert not any(o.startswith("Exchange") for o in between), ops
    # total real shuffles: the raw repartition (inside the cached
    # InMemoryRelation printout) + exactly one tiny carry exchange
    exchanges = [o for o in ops if o == "Exchange"]
    assert len(exchanges) <= 3, f"unexpected exchanges: {ops}"
    raw.unpersist()


def test_sessionize_is_single_shuffle(spark):
    """session_stats: lag window, cumsum window and the session groupBy
    all share the user_id clustering -> exactly ONE data exchange."""
    import re

    p = _plan(spark, "sessionize_events")
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_ex == 1, p


def test_stratified_sample_has_no_exchange(spark):
    """The md5 sampling rule is a pure map-side filter."""
    p = _plan(spark, "stratified_sample")
    assert "Exchange" not in p, p


def test_vocab_topk_is_take_ordered(spark):
    """Top-k must be distributed TakeOrdered, never a global sort of
    the whole vocabulary into one partition."""
    p = _plan(spark, "vocab_topk")
    assert "TakeOrderedAndProject" in p, p


def test_interval_join_is_equi_join_not_cartesian(spark):
    """The binned range join must plan as a hash equi-join on
    (user, bin) — no BroadcastNestedLoopJoin / CartesianProduct."""
    p = _plan(spark, "interval_join_follow")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or (
        "BroadcastHashJoin" in p
    ), p


def test_per_doc_text_stats_are_map_side(spark):
    """The round-4 map-side rewrites must STAY map-side: per-doc stats
    (repetition fold, Gopher filter, PII scrub, SimHash votes, MinHash
    signatures) need no rows to meet other rows, so their plans contain
    no aggregate-induced Exchange — only the explicit spread-the-
    single-file repartition the driver queries add (RoundRobin), and
    none at all for the bare operators."""
    import re

    from gents_spark.operators.dedup import minhash_signatures, simhash
    from gents_spark.operators.textstats import (
        pii_scrub,
        quality_filter,
        repetition_stats,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")
    for op in (repetition_stats, quality_filter, pii_scrub, simhash,
               minhash_signatures):
        p = op(docs)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert not re.search(r"^\(\d+\) Exchange", p, flags=re.M), (
            op.__name__, p,
        )
        assert "HashAggregate" not in p and "SortAggregate" not in p, (
            op.__name__,
        )


def test_ivf_assignment_is_map_side(spark):
    """r04 VERDICT #3: IVF cell assignment is a pure per-row function —
    argmax over literal centroids — so its plan has NO Exchange and no
    aggregate between the corpus scan and the assigned-cell projection
    (the old crossJoin + row_number window shuffled corpus x n_centroids
    rows)."""
    import re

    from gents_spark.operators.similarity import (
        ivf_assign,
        with_quantized,
    )

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    base = with_quantized(emb)
    rows = base.filter("vec_id < 16").orderBy("vec_id").collect()
    cents = [(int(r["vec_id"]), [int(x) for x in r["q"]], int(r["n2"]))
             for r in rows]
    p = ivf_assign(base, cents)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert not re.search(r"^\(\d+\) Exchange", p, flags=re.M), p
    assert "HashAggregate" not in p and "SortAggregate" not in p
    assert "Join" not in p and "Window" not in p


def test_ivf_topk_single_exchange_no_corpus_self_join(spark):
    """r05: the IVF search plan must not re-shuffle the corpus to attach
    cell ids — assignment is projected inline on the corpus side, probe
    and query sides join by BROADCAST, so the ONLY hash Exchange left is
    the final per-query top-k window on query_id (candidates, not the
    corpus), and there is no sort-merge join anywhere."""
    import re

    from gents_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    p = ivf_topk(emb)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "SortMergeJoin" not in p, p
    hash_ex = re.findall(r"Arguments: hashpartitioning\(([a-zA-Z_]+)", p)
    assert set(hash_ex) <= {"query_id"}, (hash_ex, p)


def test_lsh_bucket_pairs_no_vec_id_exchange(spark):
    """r05: banded-LSH bucket search computes band keys and quantized
    payloads in ONE map-side projection — no corpus self-join on vec_id
    to re-attach (q, n2); the only hash Exchanges are on the bucket key
    (band, key)."""
    import re

    from gents_spark.operators.similarity import lsh_bucket_pairs

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    p = lsh_bucket_pairs(emb)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    hash_ex = re.findall(r"Arguments: hashpartitioning\(([a-zA-Z_]+)", p)
    assert hash_ex and all(c in ("band", "key") for c in hash_ex), (hash_ex,)


def test_token_entropy_is_map_side(spark):
    """token_entropy computes per-doc entropy from sorted-array run
    lengths — a pure per-row function, so its plan must contain no
    Exchange and no aggregate (the naive explode+groupBy shape would
    shuffle |tokens| rows)."""
    import re

    from gents_spark.operators.vocab import token_entropy

    docs = spark.read.parquet(SF + "/documents.parquet")
    p = token_entropy(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert not re.search(r"^\(\d+\) Exchange", p, flags=re.M), p
    assert "HashAggregate" not in p and "SortAggregate" not in p, p


def test_oracle_paired_queries_emit_no_array_or_map_columns(spark):
    """Gate-shape guard: the driver's correctness gate canonicalizes
    each oracle-paired result with a pandas ``sort_values`` over every
    column, which raises ``TypeError: unhashable type: 'list'`` on any
    array- or map-typed output (the r04 ``quality_filter`` red row).
    Operators may RETURN arrays (quality_filter's drop_reasons does) —
    the GATE projection must flatten them (``array_join``).  Analysis
    only (``df.schema``), so the full registry stays cheap to sweep."""
    import __spark_entry__ as entry_mod
    from pyspark.sql.types import ArrayType, MapType

    oracles = entry_mod.oracle_sql()
    offenders = {}
    for name, fn in entry_mod.queries().items():
        if name not in oracles:
            continue  # rows-only queries are never value-canonicalized
        df = fn(spark, SF)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_late_r05_screens_plan_shapes(spark):
    """Scale-discipline pins for the late-r05 screens: winsorized_1d
    gathers and folds in ONE exchange (groupBy carries the sorted
    array; percentiles/means are projections over it); freshness joins
    its one-row corpus watermark by broadcast, never a shuffle; and
    none of the four compiles to per-row Python."""
    import re

    from gents_spark.driver_queries import QUERIES

    def plan(name):
        df = QUERIES[name](spark, SF)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    p = plan("winsorized_1d")
    assert len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M)) == 1, p
    p = plan("freshness")
    assert "BroadcastExchange" in p and "CartesianProduct" not in p, p
    for name in (
        "winsorized_1d", "freshness", "embedding_drift_1d",
        "token_coverage", "zipf_fit", "seasonal_naive_1h",
        "gap_percentiles",
    ):
        assert "BatchEvalPython" not in plan(name), name
