"""Corpus drift measurement — exact integer token-distribution deltas.

A production training-data pipeline watches WHERE its tokens come from:
a crawl source changing its mix (new spam template, a language shift, a
boilerplate wave) shows up as mass moving between points of the token
distribution long before quality gates trip. The standard monitor is a
distance between relative frequencies of two corpus slices (two sources,
or two time windows of the same source).

Everything here is EXACT integer math so the metric is reproducible
bit-for-bit across engines and runs (the DuckDB oracle replays it):
relative frequencies are floor'd parts-per-million (``cnt * ppm div
total``) and the per-token delta is ``|ppm_a - ppm_b|`` — the summed
delta is the (quantized) L1 / total-variation distance x 2e6.

Scale shape: ONE explode + ONE conditional-count agg over tokens (the
vocabulary, Heaps-bounded, not the corpus), a 1-row totals broadcast,
and a distributed top-k (TakeOrderedAndProject) — no joins between the
slices, no second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_sliding_window_spark.functions import columns as C


def token_drift(
    docs: DataFrame,
    slice_col: str,
    slice_a: str,
    slice_b: str,
    text_col: str = "text",
    top_k: int | None = None,
    ppm: int = 1_000_000,
) -> DataFrame:
    """Per-token drift between two slices of a corpus.

    Output: (token, cnt_a, cnt_b, ppm_a, ppm_b, delta_ppm), optionally
    the ``top_k`` drifted tokens by (delta_ppm DESC, token ASC — a total
    deterministic order). ``sum(delta_ppm)`` over the full table is the
    quantized L1 distance between the two token distributions.

    Raises on an empty slice (a distribution over zero tokens has no
    frequencies; surfacing that beats emitting nulls — and under ANSI
    mode a zero divisor would error mid-job anyway). The totals are
    collected as TWO scalars (the k-means-constants discipline), at the
    cost of one extra tokenize+agg pass; a monitor that runs this hourly
    over a delta slice never notices, a one-shot over the full corpus
    can `.localCheckpoint()` ``docs`` first if the double scan matters.
    """
    ex = docs.filter(F.col(slice_col).isin([slice_a, slice_b])).select(
        F.col(slice_col).alias("_slice"),
        F.explode(C.tokens(text_col)).alias("token"),
    )
    per_tok = ex.groupBy("token").agg(
        F.count(F.when(F.col("_slice") == slice_a, 1)).alias("cnt_a"),
        F.count(F.when(F.col("_slice") == slice_b, 1)).alias("cnt_b"),
    )
    return _drift_from_counts(per_tok, top_k=top_k, ppm=ppm)


def _drift_from_counts(
    per_tok: DataFrame, top_k: int | None, ppm: int
) -> DataFrame:
    """ppm tail shared by the batch and incremental paths: ``per_tok``
    is (token, cnt_a, cnt_b) exact counts."""
    tot = per_tok.agg(
        F.sum("cnt_a").alias("tot_a"), F.sum("cnt_b").alias("tot_b")
    )
    row = tot.collect()[0]  # two scalars — constants, never data
    if not row["tot_a"] or not row["tot_b"]:
        raise ValueError(
            f"token_drift: empty slice (tot_a={row['tot_a']}, "
            f"tot_b={row['tot_b']}) — both slices need tokens"
        )
    out = per_tok.select(
        "token",
        "cnt_a",
        "cnt_b",
        F.expr(f"cnt_a * {ppm}L div {row['tot_a']}L").alias("ppm_a"),
        F.expr(f"cnt_b * {ppm}L div {row['tot_b']}L").alias("ppm_b"),
    ).withColumn("delta_ppm", F.abs(F.col("ppm_a") - F.col("ppm_b")))
    if top_k is not None:
        out = out.orderBy(
            F.col("delta_ppm").desc(), F.col("token").asc()
        ).limit(top_k)
    return out


def run_token_count_index(
    stream: DataFrame,
    sink,
    checkpoint: str,
    slice_col: str,
    text_col: str = "text",
):
    """Incremental drift substrate: append one (slice, token, cnt) row
    per (slice, token) per micro-batch through the exactly-once sink.
    Token counts are exactly additive, so summing any batch RANGE of the
    index reproduces the batch counts of that range bit-for-bit — drift
    between "last hour" and "the week before" is two prefix sums over the
    log, never a corpus rescan.
    Redelivered batches are dropped by the sink's marker; a document
    that arrives again in a new batch is counted again, as it should be
    (counts mean occurrences, not document identity)."""

    def _body(batch: DataFrame, batch_id: int) -> None:
        sink.write_batch(
            batch.select(
                F.col(slice_col).alias("slice"),
                F.explode(C.tokens(text_col)).alias("token"),
            )
            .groupBy("slice", "token")
            .agg(F.count(F.lit(1)).alias("cnt")),
            batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(_body)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .queryName("token-count-index")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drift_from_index(
    index: DataFrame,
    slice_a: str,
    slice_b: str,
    top_k: int | None = None,
    ppm: int = 1_000_000,
) -> DataFrame:
    """Drift between two slices from the incremental token-count index
    (``run_token_count_index`` output, optionally pre-filtered by
    batch_id range via ``read_committed(with_batch_id=True)``). Sums the
    per-batch counts — exact, so the result equals ``token_drift`` over
    the same underlying rows bit-for-bit (pinned in pytest)."""
    per_tok = (
        index.filter(F.col("slice").isin([slice_a, slice_b]))
        .groupBy("token")
        .agg(
            F.sum(
                F.when(F.col("slice") == slice_a, F.col("cnt")).otherwise(0)
            ).alias("cnt_a"),
            F.sum(
                F.when(F.col("slice") == slice_b, F.col("cnt")).otherwise(0)
            ).alias("cnt_b"),
        )
    )
    return _drift_from_counts(per_tok, top_k=top_k, ppm=ppm)
