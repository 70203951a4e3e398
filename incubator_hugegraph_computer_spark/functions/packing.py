"""Sequence packing for LLM training-data pipelines.

Concat-and-chunk packing (the GPT-style pretraining layout): documents
are concatenated into one logical token stream in a deterministic
order, and the stream is cut into fixed-size sequences of ``budget``
tokens. Each document's placement is therefore a pure function of the
corpus — ``start_offset`` = the exclusive prefix sum of token counts in
id order — which makes the layout reproducible across reruns and
engines, and lets a SQL oracle replay it with one window function.

The prefix sum is the scale hazard: the naive formulation is
``SUM(...) OVER (ORDER BY doc_id)`` — a single-task global window, the
exact anti-pattern flagged in round 1 for dense-id minting. This module
uses the same partition-offset fix as
``sources/extractor.dense_ids_by_sort``: range-partition by id (ranges
are ordered), sum tokens within each partition in parallel, cumsum the
P per-partition totals on the driver (P rows, trivially small), and
send the offsets back (here as a broadcast P-row table; the mint puts
them in the plan as an array literal) — every stage is fully parallel, no
single-task exchange, so the layout of a 100 TB corpus is computed in
one pass + one P-row action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from incubator_hugegraph_computer_spark.functions.text import _tokens


def pack_sequences(
    documents: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign every document its place in the packed token stream.

    Returns one row per document:

    - ``n_tokens``   — whitespace/punctuation token count (long),
    - ``start_offset`` — exclusive prefix sum of ``n_tokens`` in
      ``id_col`` order (the doc's first token's position in the
      concatenated stream),
    - ``seq_first`` / ``seq_last`` — the first and last ``budget``-token
      sequence the doc lands in (``seq_last = seq_first`` for empty
      docs),
    - ``n_seqs`` — how many sequences the doc spans (boundary-straddling
      docs span ≥ 2; the quantity a packing-efficiency report sums).

    All division is integral (``div``) on longs — no floating point, so
    offsets stay exact beyond 2^53 tokens.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = documents.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    tok = documents.select(
        id_col, F.size(_tokens(F.col(text_col))).cast("long").alias("n_tokens")
    )
    part = (
        tok.repartitionByRange(n_parts, id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    sums = sorted(
        (r["_pid"], r["s"])
        for r in part.groupBy("_pid")
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("s"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, s in sums:
        offsets.append((pid, acc))
        acc += s
    off_df = F.broadcast(spark.createDataFrame(offsets, "_pid int, _off long"))
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.col("_off") + F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "start_offset"
    )
    # materialize placements while `part` is still cached, then release
    # the cache — without this every pack_sequences call leaks one cached
    # DataFrame for the session's lifetime (and the placement must not be
    # recomputed after unpersist: _pid has to match the collected sums)
    placed = (
        part.join(off_df, "_pid")
        .select(id_col, "n_tokens", start)
        .localCheckpoint(eager=True)
    )
    part.unpersist()
    seq_first = F.expr(f"start_offset div {budget}")
    seq_last = F.when(F.col("n_tokens") > 0, F.expr(f"(start_offset + n_tokens - 1) div {budget}")).otherwise(seq_first)
    return placed.select(
        id_col,
        "n_tokens",
        "start_offset",
        seq_first.cast("long").alias("seq_first"),
        seq_last.cast("long").alias("seq_last"),
    ).withColumn(
        "n_seqs",
        F.when(F.col("n_tokens") > 0, F.col("seq_last") - F.col("seq_first") + 1)
        .otherwise(F.lit(0))
        .cast("long"),
    )


def packing_efficiency(packed: DataFrame, budget: int) -> DataFrame:
    """One-row summary of a packed layout: total tokens, number of
    sequences cut, fill ratio of the final layout, and how many docs
    straddle a sequence boundary (the cross-attention-contamination
    count a masking strategy needs to know)."""
    return packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.expr(f"(max(start_offset + n_tokens) + {budget} - 1) div {budget}"))
        .cast("long")
        .alias("n_sequences"),
        F.sum((F.col("n_seqs") > 1).cast("long")).alias("n_straddlers"),
    ).select(
        "n_docs",
        "total_tokens",
        "n_sequences",
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_sequences") * F.lit(budget)).cast("double"),
            6,
        ).alias("fill_ratio"),
        "n_straddlers",
    )


def chunk_documents(
    documents: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the context-chunking
    complement to concat-and-chunk packing (RAG indexing / long-doc
    splitting): each document yields chunks of ``window`` tokens
    starting every ``stride`` tokens (chunk starts 1, 1+stride, ... up
    to the last start <= n_tokens; the final chunk may be short).
    Empty documents yield no chunks.

    Output: (doc_id, chunk_id 0-based, n_chunk_tokens, chunk_text).

    Physical shape: one projection + one ``posexplode`` — NO shuffle at
    any corpus size; fan-out per document is ceil(n_tokens / stride).
    The per-document ``sequence`` is a once-per-doc interpreted
    expression (the same budget class as the bigram ``zip_with`` in
    ``text.repetition_stats``), not a per-token HOF.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = documents.select(
        id_col, _tokens(F.col(text_col)).alias("_t")
    ).where(F.size("_t") >= 1)
    ch = toks.select(
        id_col,
        "_t",
        F.posexplode(F.sequence(F.lit(1), F.size("_t"), F.lit(stride))).alias(
            "chunk_id", "_start"
        ),
    )
    body = F.slice("_t", F.col("_start"), window)
    return ch.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(body).alias("n_chunk_tokens"),
        F.array_join(body, " ").alias("chunk_text"),
    )
