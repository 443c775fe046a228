"""Keyword retrieval over the document corpus: inverted-index TF-IDF top-k.

Given free-text queries, rank documents by term-frequency × inverse
document frequency over an exploded postings index. The plan is the
canonical distributed retrieval shape — one explode + one partial-agg
count builds the postings, the query side broadcasts, scoring is a hash
join + map-side-combined sum, and per-query top-k lowers to
WindowGroupLimit. At 100 TB the postings table is the thing you persist
(bucketed by term, storage.py) and queries touch only their terms'
postings.

Cross-engine determinism (the repo-wide oracle discipline): the idf
weight is the INTEGER ``(N * 1000) div (df + 1)`` — a log-free rational
idf, monotone-equivalent to ln-idf for ranking within the common df
regime — so scores are exact int64 sums and the DuckDB twin hash-matches
at any scale. Production swap-in for graded relevance: BM25's saturating
tf and ln-idf (floats; ranking-stable but not bit-portable).
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from real_time_sliding_window_spark.functions import columns as C
from real_time_sliding_window_spark.util import ensure_parallelism

IDF_SCALE = 1000


def tokenize_query(text: str) -> list[str]:
    """Driver-side twin of columns.tokens ([a-z0-9]+ over lowercase)."""
    return re.findall(r"[a-z0-9]+", text.lower())


def postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted index: (term, doc_id, tf). One explode + one hash agg."""
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(C.tokens(text_col)).alias("term"),
    )
    return toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def score_postings(
    post: DataFrame,
    n_docs: int,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Score a (term, doc_id, tf) postings table against free-text queries
    — the shared back half of batch ``tfidf_topk`` and the incremental
    index (``postings_stream``). ``n_docs`` is the corpus size the idf is
    computed against (the caller knows it; an index table cannot)."""
    spark = post.sparkSession
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    weighted = post.join(dfreq, "term").withColumn(
        "w", F.expr(f"({n_docs}L * {IDF_SCALE}) div (df + 1)")
    )
    q_terms = [
        (qid, term) for qid, text in queries for term in set(tokenize_query(text))
    ]
    qdf = spark.createDataFrame(q_terms, "query_id string, term string")
    scored = (
        weighted.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def run_postings_index(
    stream: DataFrame,
    sink,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """INCREMENTAL index maintenance: drain the document stream, appending
    each micro-batch's (term, doc_id, tf) postings to the index table
    through the exactly-once sink (streaming/sink.py — idempotent under
    redelivery). The tf aggregation runs INSIDE foreachBatch — it is
    batch-local by design (a streaming groupBy would need a watermark and
    would hold postings state forever), because tf is doc-local: a doc's
    term counts are complete the moment the doc arrives.

    Correctness contract (pinned by ``TestStreamingPostings``): as long as
    each doc_id arrives in ONE micro-batch (the ingest guarantee of a
    document feed; use ``deduped_stream`` upstream for at-least-once
    sources), the UNION of all committed increments equals the batch
    ``postings()`` of the full corpus — no cross-batch merge is ever
    needed, and df/idf are computed at QUERY time from the accumulated
    index (``score_postings``), never stored stale. At 100 TB the index
    table is partitioned/bucketed by term (storage.py) so query terms
    prune to their buckets.
    """
    def _body(batch: DataFrame, batch_id: int) -> None:
        # the ONE postings definition — reusing postings() keeps the
        # "union of increments == batch postings" invariant by construction
        sink.write_batch(postings(batch, id_col, text_col), batch_id)

    q = (
        stream.writeStream.foreachBatch(_body)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .queryName("postings-index")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def tfidf_topk(
    df: DataFrame,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Top-k documents per query by integer TF-IDF.

    ``queries``: (query_id, free text) pairs; terms are tokenized with the
    same tokenizer as the corpus. Score(doc, q) = Σ over matched terms of
    ``tf · ((N·1000) div (df+1))`` — exact int64 arithmetic end to end.
    Ties break toward the lower doc_id (deterministic output).

    ``max_df`` (scale guard, same doctrine as the dedup family): drop
    postings of terms present in more than max_df documents from scoring.
    A stopword term joins to nearly EVERY document (the retrieval analogue
    of the ngram df-cap hazard, BENCH/DFCAP.md) while its idf weight is
    ≈ 1000/df — negligible; cutting it bounds the join fan-out per query
    term at max_df rows. Mirrored in the driver oracle when set.
    """
    # Materialize the postings once (r6): scoring references them from
    # several branches (df counts, the weighted join) and tokenize+count
    # would otherwise re-run per un-reused branch. Postings are the thing
    # production persists anyway (module docstring); at 100 TB this
    # barrier is the bucketed postings table, not an in-memory checkpoint.
    post = postings(df, id_col, text_col).localCheckpoint(eager=True)
    n_docs = df.select(id_col).distinct().count()
    return score_postings(post, n_docs, queries, k=k, max_df=max_df)


# --- BM25 (integer-scaled) ---------------------------------------------------
#
# Okapi BM25 with k1 = 1.2, b = 0.75, rebuilt in EXACT int64 arithmetic so the
# DuckDB oracle hash-matches at any scale (repo-wide cross-engine discipline;
# floats reproduce only per-engine). Derivation, with N = corpus size,
# SL = total token count, dl = doc length, avgdl = SL/N:
#
#   tf-component = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
#
# Substituting k1 = 12/10, b = 3/4 and scaling dl/avgdl to PER-MILLE
# (r = (dl·N·1000) div SL) then multiplying num and den by 1000:
#
#   num = 2200·tf        den = 1000·tf + 300 + (9·r) div 10
#
#   comp   = (num · COMP_SCALE) div den            (≤ 2.2·COMP_SCALE)
#   idf    = ((2·(N − df) + 1) · IDF_SCALE) div (2·df + 1)
#            — the classic (N − df + 0.5)/(df + 0.5) ratio, ×2 to clear
#            the halves, log-free (monotone in df, ranking-equivalent
#            within the common df regime; same doctrine as tfidf_topk)
#   score  = Σ over matched terms of idf · comp    (int64)
#
# int64 headroom at 100 TB: r needs dl·N·1000 < 2^63 (fine to N·dl ≈ 9·10^15;
# beyond that drop the per-mille scale to per-cent), idf ≤ 2N·IDF_SCALE, and
# score ≤ terms · idf · 2.2·COMP_SCALE — at N = 10^10 that is ~5·10^18 per
# 10-term query, inside int64. The integer div quantizes the tf-component to
# COMP_SCALE levels; ties break toward the lower doc_id on both engines.

BM25_COMP_SCALE = 100_000


def bm25_score_postings(
    post: DataFrame,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Score a (term, doc_id, tf) postings table by integer-scaled BM25.

    Every BM25 input — doc length, corpus size N, total token count SL,
    document frequency — is derivable from the postings alone, so this
    runs unchanged over the ACCUMULATED incremental index
    (``run_postings_index``), where the raw documents are long gone:
    the same query-time-stats contract ``score_postings`` gives tfidf
    (df/idf never stored stale), extended to the length stats. N counts
    TOKENIZED documents (a doc whose text tokenizes to nothing has no
    postings and is invisible to ranking — it can never match a query).

    Same plan shape as ``score_postings`` (broadcast query terms + hash
    join + map-side-combined sum + WindowGroupLimit top-k) plus one
    extra agg over the postings for the per-doc length table. The corpus
    constants (N, SL) are a 1-row agg collected driver-side — constants,
    not data. ``max_df`` is the same stopword fan-out guard as
    ``tfidf_topk``, mirrored in the oracle.
    """
    doclen = post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n_docs, sum_len = (
        doclen.agg(
            F.count(F.lit(1)).cast("long"),
            F.sum("dl").cast("long"),
        ).collect()[0]
    )
    if not n_docs:
        raise ValueError("bm25: empty corpus (no tokenized documents)")
    dfreq = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    weighted = (
        post.join(dfreq, "term")
        .join(doclen, "doc_id")
        .withColumn(
            "r", F.expr(f"(dl * {n_docs}L * 1000) div {sum_len}L")
        )
        .withColumn(
            "comp",
            F.expr(
                f"(2200 * tf * {BM25_COMP_SCALE}L)"
                " div (1000 * tf + 300 + (9 * r) div 10)"
            ),
        )
        .withColumn(
            "w",
            F.expr(
                f"((2 * ({n_docs}L - df) + 1) * {IDF_SCALE}) div (2 * df + 1)"
            ),
        )
    )
    q_terms = [
        (qid, term) for qid, text in queries for term in set(tokenize_query(text))
    ]
    qdf = post.sparkSession.createDataFrame(
        q_terms, "query_id string, term string"
    )
    scored = (
        weighted.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("w") * F.col("comp")).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk(
    df: DataFrame,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Top-k documents per query by integer-scaled Okapi BM25 (batch
    entry: tokenizes the corpus, then scores the postings — see
    ``bm25_score_postings`` for the arithmetic and the incremental-index
    contract)."""
    # Same materialize-once barrier as tfidf_topk (r6): bm25 scoring reads
    # the postings from FOUR branches (the doclen collect is a separate
    # action), so an un-materialized tokenize+count pass would run ≥2×.
    return bm25_score_postings(
        postings(df, id_col, text_col).localCheckpoint(eager=True),
        queries, k=k, max_df=max_df,
    )
