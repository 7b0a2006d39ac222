"""Design-for-scale audit: physical-plan features of every gate query.

Compiles each ``__spark_entry__.queries()`` entry against an sf dir —
WITHOUT running the query's own action — and reports the plan features
that matter at 100 TB.  (A few operators run bounded driver-side jobs
at DataFrame-construction time and therefore execute during the audit
too: cosine_topk and ivf_topk collect their query vectors and seed
centroids, kmeans/trained-IVF run the k-row-per-iteration Lloyd loop,
dup_clusters runs its convergence loop — all metadata-scale by design,
but not free.)

- ``shuf``   hash-partitioning Exchanges (each is a full shuffle of its
             input; the number that must survive a 1000-executor run)
- ``bcast``  BroadcastExchanges (small side shipped to every executor —
             fine by construction)
- ``smj``    SortMergeJoins (a shuffle + sort on both sides; none of
             our queries should need one — broadcast or bucket-local
             joins cover them)
- ``rowudf`` BatchEvalPython = per-row Python UDF (the forbidden slow
             path; must stay 0 everywhere)
- ``arrow``  ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas =
             vectorized pandas-UDF stages (allowed where built-ins
             cannot express the op: codecs, LTTB, multimodal decode)
- ``cart``   CartesianProduct / BroadcastNestedLoopJoin (quadratic —
             only acceptable on provably tiny inputs, e.g. the
             all-pairs recall baselines in tests, never a gate query)
- ``cache``  InMemoryTableScan occurrences.  NOTE: when this is > 0 the
             other counts OVERCOUNT what actually executes —
             ``executedPlan().toString()`` recursively prints every
             InMemoryRelation's cached BUILD plan, so an iterative
             operator that materializes+persists per round (e.g.
             ``dup_clusters``: the convergence count forces each
             round's cache) shows every round's lineage stacked, while
             each executed round only pays its own join + groupBy.

Usage: python tools/plan_audit.py [sf_dir] [query ...]

Exit code 1 if any audited query contains a per-row Python UDF or a
CartesianProduct over a non-tiny side — the two hard failures.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from gents_spark.session import get_spark  # noqa: E402

FEATURES = {
    "shuf": r"Exchange hashpartitioning",
    "range": r"Exchange rangepartitioning",
    "bcast": r"BroadcastExchange",
    "smj": r"SortMergeJoin",
    "rowudf": r"BatchEvalPython",
    "arrow": r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"
             r"|FlatMapGroupsWithStateExec",
    "cart": r"CartesianProduct|BroadcastNestedLoopJoin",
    "cache": r"InMemoryTableScan",
}


def audit(sf_dir: str, only: list[str]) -> int:
    spark = get_spark(
        "local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    names = only or list(queries)
    width = max(len(n) for n in names)
    header = f"{'query':<{width}}  " + "  ".join(
        f"{k:>6}" for k in FEATURES
    )
    print(header)
    print("-" * len(header))
    hard_fail = []
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"{name:<{width}}  ERROR {type(e).__name__}: {e}")
            hard_fail.append(name)
            continue
        counts = {
            k: len(re.findall(pat, plan)) for k, pat in FEATURES.items()
        }
        row = f"{name:<{width}}  " + "  ".join(
            f"{counts[k]:>6}" for k in FEATURES
        )
        flags = []
        if counts["rowudf"]:
            flags.append("PER-ROW-PYTHON")
            hard_fail.append(name)
        if counts["cart"]:
            # tiny-side cartesian (bounds crossJoin in m4, k-row
            # centroid literals) is fine; flag for eyeballing only
            flags.append("cartesian(check tiny side)")
        print(row + ("   <-- " + ", ".join(flags) if flags else ""))
    spark.stop()
    if hard_fail:
        print(f"\nHARD FAILURES: {hard_fail}")
        return 1
    print("\nOK: no per-row Python UDFs anywhere")
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    sys.exit(audit(sf, args[1:]))
