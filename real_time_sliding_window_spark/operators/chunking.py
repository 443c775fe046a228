"""Document chunking and sequence packing for pretraining pipelines.

Two ops every context-window pipeline needs, both pure Catalyst
expressions (no UDFs, map-side only until the caller aggregates):

- **chunk**: slice each document's token stream into fixed-size windows
  with optional overlap (stride < size) — the standard way long documents
  become training examples. One `posexplode(transform(sequence(...)))`
  per row; no shuffle.
- **sequential packing**: assign documents (in a deterministic order) to
  fixed-token-budget bins via a running cumulative sum — how pretraining
  packers concatenate short documents into full context windows. One
  window function per partition key; deterministic because the order key
  (doc_id) is unique, so the DuckDB oracle is exact.

Tokens here are whitespace words (the cross-engine-exact basis used across
the repo); swap the splitter for a real tokenizer's counts upstream —
the chunk/pack math is token-definition-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as SqlWindow

from real_time_sliding_window_spark.util import ensure_parallelism


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """One row per (doc, chunk): (id, chunk_idx, chunk_text, n_tokens).

    chunk i covers words [i*stride + 1, i*stride + chunk_tokens]
    (1-based, inclusive slicing — identical on both engines); the number
    of chunks is ceil((n - chunk_tokens) / stride) + 1, floored at 1 so
    every document yields at least one (possibly short) chunk, and capped
    at floor((n - 1) / stride) + 1 so every chunk starts inside the word
    array — without the cap a gap-chunking call (stride > chunk_tokens)
    would emit a phantom empty chunk past the end (ADVICE r02).
    """
    stride = stride or chunk_tokens
    words = ensure_parallelism(
        df.select(
            F.col(id_col),
            F.split(F.col(text_col), " ").alias("__w"),
        )
    )
    n_chunks = F.expr(
        f"greatest(least("
        f"cast(ceil((size(__w) - {chunk_tokens}) / {stride}) as int) + 1, "
        f"cast(floor((size(__w) - 1) / {stride}) as int) + 1), 1)"
    )
    chunks = F.expr(
        f"transform(sequence(0, __nc - 1), "
        f"i -> array_join(slice(__w, i * {stride} + 1, {chunk_tokens}), ' '))"
    )
    out = (
        words.withColumn("__nc", n_chunks)
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
        )
    )
    n_tok = (
        F.length("chunk_text")
        - F.length(F.regexp_replace("chunk_text", " ", ""))
        + F.lit(1)
    ).cast("long")
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        n_tok.alias("n_tokens"),
    )


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_col: str = "source",
    budget_tokens: int = 4096,
    n_shards: int = 1,
) -> DataFrame:
    """Deterministic sequential packing: within each partition key, docs
    (ordered by id) are assigned to bins by cumulative token count —
    pack_id = floor(tokens_before_this_doc / budget). Output one row per
    doc: (id, partition[, shard], n_tokens, pack_id). A doc longer than the
    budget still gets a bin (chunk first via chunk_documents when that
    matters).

    Scale note: a running sum ordered within a partition key is ONE task
    per key — sequential packing is inherently serial per stream. With
    ``n_shards > 1`` docs are first split into deterministic hash shards
    (content-addressed: md5 of the id, so a doc's shard never depends on
    partitioning) and packed per (partition, shard): n_shards independent
    pack streams per key, each its own task — how parallel packers
    actually write, at the cost of up to one partially-filled bin per
    shard instead of one per key.
    """
    n_tok = (
        F.length(text_col)
        - F.length(F.regexp_replace(text_col, " ", ""))
        + F.lit(1)
    ).cast("long")
    part_cols = [partition_col]
    toks = df.select(
        F.col(id_col), F.col(partition_col), n_tok.alias("n_tokens")
    )
    if n_shards > 1:
        shard = F.expr(
            f"cast(conv(substr(md5(cast({id_col} as string)), 1, 4), 16, 10) as bigint)"
            f" % {n_shards}"
        )
        toks = toks.withColumn("shard", shard)
        part_cols.append("shard")
    w = (
        SqlWindow.partitionBy(*part_cols)
        .orderBy(id_col)
        .rowsBetween(SqlWindow.unboundedPreceding, 0)
    )
    running = F.sum("n_tokens").over(w)
    return toks.select(
        id_col,
        *part_cols,
        "n_tokens",
        F.floor((running - F.col("n_tokens")) / F.lit(budget_tokens))
        .cast("long")
        .alias("pack_id"),
    )
