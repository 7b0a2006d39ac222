"""Sequence packing: assign documents to fixed-token-budget windows.

Pretraining batches are built by CONCATENATING documents into a single
token stream and CHOPPING it into fixed-size windows ("concat-and-chop",
the packing used by GPT-style pipelines).  The distributed form: within
each key group, order sequences deterministically, take the exclusive
running token sum, and derive each sequence's window id and offset
arithmetically —

    pack_id        = cum_before div budget   (integer division)
    offset_in_pack = cum_before % budget

A sequence whose tokens straddle a window boundary is attributed to the
window holding its FIRST token (its tail spills into the next window),
exactly like the flat token stream.

Scale shape: ``pack_tokens`` runs one window aggregation per key
partition — fine while every key's corpus fits one task's sort.  For a
GIANT single source (one key = half the corpus), ``pack_tokens_chunked``
is the per-(key, chunk) parallel-prefix escape hatch — the same local
prefix + tiny summary-lag + offset-join pattern as
``sessions.sessionize_chunked`` and ``gapfill``'s day-summary carry
(checked against the dense-spine ``oracle_gapfill_locf`` /
``oracle_gapfill_linear`` in ``tests/oracle.py``) — so no one task ever
sorts a whole source.  Both are exact integer arithmetic in
whole-stage codegen (``div``/``%`` on longs — no double rounding, exact
past 2^53), and chunked output is EXACTLY equal to the plain operator
(pinned by test).

No global total order is ever materialized (a global single-stream pack
would serialize the cumsum; per-source packs are what a sharded trainer
consumes anyway).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _attach_pack_cols(df: DataFrame, budget: int) -> DataFrame:
    """pack_id / offset_in_pack from an existing ``cum_before`` column.

    Integral ``div`` + ``%`` on longs: exact for the full bigint range
    (a double ``floor(a/b)`` loses exactness past 2^53 cumulative
    tokens, which a 10^12-sequence corpus exceeds).
    """
    return df.withColumn(
        "pack_id", F.expr(f"cum_before div {int(budget)}")
    ).withColumn("offset_in_pack", F.col("cum_before") % F.lit(budget))


def pack_tokens(
    df: DataFrame,
    budget: int,
    key: str = "source",
    order: str = "doc_id",
    weight: str = "n_tok",
) -> DataFrame:
    """Add ``cum_before``, ``pack_id``, ``offset_in_pack`` per row.

    ``budget``: window size in tokens (or any additive weight unit);
    ``order`` must be unique within ``key`` for a deterministic stream.
    One shuffle on ``key``; each key's stream sorts in one task — use
    ``pack_tokens_chunked`` when a single key dominates the corpus.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(F.col(weight)).over(w), F.lit(0)).cast("long")
    return _attach_pack_cols(df.withColumn("cum_before", cum), budget)


def pack_tokens_chunked(
    df: DataFrame,
    budget: int,
    key: str = "source",
    order: str = "doc_id",
    weight: str = "n_tok",
    chunk: str | Column | None = None,
) -> DataFrame:
    """``pack_tokens`` for a GIANT single key: parallel-prefix over
    chunks, exactly equal to the plain operator (pinned by test).

    ``chunk`` is a column name or expression that MUST be monotone
    non-decreasing in ``order`` within each key (e.g. a doc_id prefix,
    or ``substring(order, 1, p)`` for lexicographic ids) so that
    chunk-major, order-minor iteration reproduces the plain per-key
    order.  Default: the first 2 chars of ``order`` — valid ONLY for
    string ids (a string prefix is always monotone in the full string's
    lexicographic order); for a NUMERIC order column the stringified
    prefix is NOT monotone (9 -> '9' sorts after 100 -> '10'), so the
    default RAISES and the caller must pass an explicit chunk (e.g.
    ``F.col(order) div 100_000``).

    1. local EXCLUSIVE prefix sum of ``weight`` per (key, chunk) —
       windows run per chunk, so one key's corpus spreads over its
       chunks instead of serializing into one task's sort;
    2. per-(key, chunk) summary (total weight) is tiny — |keys x chunks|
       rows; an exclusive prefix sum over summaries (lag window per key)
       gives each chunk's starting OFFSET in the key's token stream;
    3. offsets join back on (key, chunk):
       cum_before = chunk_offset + local_cum.  No forced broadcast hint
       — for the giant-single-key case the summary is tiny and AQE
       broadcasts it on its own (round-3 ADVICE convention).

    Two extra shuffles of summary-sized data vs the plain operator.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if chunk is None:
        from pyspark.sql.types import StringType

        if not isinstance(df.schema[order].dataType, StringType):
            raise ValueError(
                f"default chunk (2-char prefix) requires a string "
                f"'{order}' column — a stringified numeric prefix is "
                f"not monotone ('9' > '10'); pass chunk= explicitly, "
                f"e.g. F.col('{order}') div 100000"
            )
    ch = (
        F.col(chunk)
        if isinstance(chunk, str)
        else chunk
        if chunk is not None
        else F.substring(F.col(order), 1, 2)
    )
    d = df.withColumn("_pch", ch)
    wc = (
        Window.partitionBy(key, "_pch")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "_lcum",
        F.coalesce(F.sum(F.col(weight)).over(wc), F.lit(0)).cast("long"),
    )
    summ = d.groupBy(key, "_pch").agg(
        F.sum(F.col(weight)).cast("long").alias("_ctot")
    )
    ws = Window.partitionBy(key).orderBy("_pch")
    summ = summ.withColumn(
        "_coff",
        F.coalesce(
            F.sum("_ctot").over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    joined = d.join(summ.select(key, "_pch", "_coff"), [key, "_pch"])
    out = joined.withColumn(
        "cum_before", (F.col("_coff") + F.col("_lcum")).cast("long")
    ).drop("_pch", "_lcum", "_coff")
    return _attach_pack_cols(out, budget)


def pack_stats(
    packed: DataFrame, key: str = "source", budget: int | None = None
) -> DataFrame:
    """Per-(key, pack) fill statistics: sequence count and token sum.

    The usual packing-efficiency audit — the LAST pack of each key is
    the only one allowed to be under-full in concat-and-chop.

    With ``budget`` given, also reports the boundary behavior that
    decides attention-masking cost downstream: ``n_straddle`` sequences
    whose tokens continue past the pack boundary, and ``max_overhang``
    — how far the worst straddler reaches into the following pack(s)
    (a sequence longer than the budget overhangs more than one).  All
    exact integer arithmetic on the packing columns; one groupBy on
    the already-packed table.
    """
    aggs = [
        F.count("*").alias("n_seqs"),
        F.sum("n_tok").alias("sum_tok"),
        F.min("offset_in_pack").alias("first_offset"),
    ]
    if budget is not None:
        end = F.col("offset_in_pack") + F.col("n_tok")
        aggs += [
            F.sum(
                F.when(end > budget, 1).otherwise(0)
            ).cast("long").alias("n_straddle"),
            F.greatest(
                F.max(end) - F.lit(budget), F.lit(0)
            ).cast("long").alias("max_overhang"),
        ]
    return packed.groupBy(key, "pack_id").agg(*aggs)


def chunk_documents(
    docs: DataFrame,
    text: str = "text",
    doc_id: str = "doc_id",
    max_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document's whitespace token stream into fixed-size
    OVERLAPPING training chunks — the context-window prep step between
    curation and packing: stride = ``max_tokens - overlap``; chunk i
    covers words ``[i*stride, i*stride + max_tokens)``, so every token
    appears in at least one chunk and boundary context is repeated
    ``overlap`` words into the next chunk (the standard sliding-window
    tokenizer-prep shape; ``pack_documents`` then bins the chunks).

    Chunk count is the exact integer ``1`` if ``n <= max_tokens`` else
    ``ceil((n - max_tokens)/stride) + 1`` — the last chunk may be
    shorter, never empty.  A NULL text yields no rows; an empty string
    is one one-word chunk (both engines split '' to ['']).

    ENTIRELY map-side: per-row sequence(0, n_chunks-1) -> explode ->
    slice — no shuffle, no join, no window; at 100 TB this is pure
    whole-stage-codegen fan-out bounded by tokens/stride per doc.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens={max_tokens}: expected >= 1")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap={overlap}: expected 0 <= overlap < max_tokens"
        )
    stride = max_tokens - overlap
    ws = F.split(F.col(text), " ")
    n = F.size(ws)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        (n - max_tokens + stride - 1) / F.lit(stride) + 1
    ).cast("int")
    d = (
        docs.filter(F.col(text).isNotNull())
        .select(
            F.col(doc_id).alias("doc_id"),
            ws.alias("_ws"),
            n.alias("_n"),
            n_chunks.alias("n_chunks"),
        )
        .select(
            "doc_id",
            "_ws",
            "_n",
            "n_chunks",
            F.explode(
                F.sequence(F.lit(0), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
        )
    )
    start = F.col("chunk_idx") * F.lit(stride)
    piece = F.slice(F.col("_ws"), start + 1, F.lit(max_tokens))
    return d.select(
        "doc_id",
        "chunk_idx",
        "n_chunks",
        start.alias("word_start"),
        F.least(F.lit(max_tokens), F.col("_n") - start).alias("n_words"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
