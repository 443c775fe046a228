"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All per-row math is JVM-side higher-order functions over the shared token
column (functions/columns.py); outputs are integers or md5 hex so the
DuckDB oracle matches bit-for-bit. These are the per-document scoring
passes a training-data pipeline runs before filtering — embarrassingly
parallel, zero shuffle until the final (optional) aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_sliding_window_spark.functions import columns as C
from real_time_sliding_window_spark.util import ensure_parallelism

# tiny per-language stopword inventories (n-gram-heuristic language ID)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "la", "que", "los", "una", "es"],
    "fr": ["le", "les", "et", "des", "une", "est"],
}
LANG_ORDER = ["en", "de", "es", "fr"]  # deterministic argmax tie-break


def _hits(tokens_col: str, words: list[str]) -> Column:
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter({tokens_col}, t -> array_contains(array({arr}), t)))"
    ).cast("long")


def _lang_cascade(hits_col) -> Column:
    """First language (in LANG_ORDER) whose hit count ties the max — a CASE
    cascade with the same shape as the DuckDB oracle. ``hits_col`` maps
    lang -> hit-count Column."""
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1 :]
        cond = None
        for other in later:
            c = hits_col(lang) >= hits_col(other)
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-hit language scores + argmax prediction (tie: LANG_ORDER)."""
    t = ensure_parallelism(df).withColumn("__tok", C.tokens(text_col))
    hit_cols = {lang: _hits("__tok", STOPWORDS[lang]) for lang in LANG_ORDER}
    out = t.select(
        F.col(id_col),
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in LANG_ORDER],
    )
    return out.withColumn(
        "predicted_lang", _lang_cascade(lambda lang: F.col(f"hits_{lang}"))
    )


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = ("source",),
    lang: str = "en",
    min_tokens: int = 5,
    min_distinct_permille: int = 200,
) -> DataFrame:
    """End-to-end curation gate in ONE pass: exact-dedup canonicals only
    (min id per text hash, a window — no join), target language by the
    stopword argmax, token-count and lexical-diversity thresholds.

    This is the kept set a training pipeline feeds to tokenization. A
    join-of-derivations formulation scans the table once per signal; here
    every signal is a column expression over a single scan, and the only
    shuffle is the text-hash window that picks canonical ids.
    Output: (id, *extra_cols, n_tokens).
    """
    from pyspark.sql.window import Window as SqlWindow

    t = ensure_parallelism(df).withColumn("__tok", C.tokens(text_col))
    hit_cols = {lg: _hits("__tok", STOPWORDS[lg]) for lg in LANG_ORDER}
    pred = _lang_cascade(lambda lg: hit_cols[lg])
    n_tok = F.size("__tok").cast("long")
    n_distinct = F.expr("size(array_distinct(__tok))").cast("long")
    permille = F.when(
        n_tok > 0, F.floor(F.lit(1000) * n_distinct / n_tok)
    ).otherwise(F.lit(0)).cast("long")
    canon = F.min(id_col).over(
        SqlWindow.partitionBy(F.md5(F.col(text_col)))
    )
    return (
        t.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            n_tok.alias("n_tokens"),
            pred.alias("__lang"),
            permille.alias("__permille"),
            canon.alias("__canon"),
        )
        .filter(
            (F.col(id_col) == F.col("__canon"))
            & (F.col("__lang") == lang)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("__permille") >= min_distinct_permille)
        )
        .select(id_col, *extra_cols, "n_tokens")
    )


def percentile_gate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    pct: float = 0.10,
    accuracy: int = 50_000,
) -> DataFrame:
    """Per-group percentile floor: append each group's ``pct``-quantile of
    ``value_col`` as ``gate_threshold`` and keep only rows at or above it
    — the curation rule "drop each source's bottom decile" without any
    global sort.

    The threshold comes from the mergeable Greenwald-Khanna sketch
    (operators/windows.py::approx_group_percentiles — O(accuracy·log n)
    per group, flows through map-side partial agg), so no executor ever
    buffers a group's raw values; the per-group thresholds are a
    groups-sized table broadcast back onto the scan. In the sketch's
    exact regime (group n ≤ accuracy) the threshold is precisely the
    discrete order statistic (DuckDB ``quantile_disc``), making the gate
    engine-exact for integer value columns; beyond it, GK's rank error
    ≤ n/accuracy bounds how far the cut can drift
    (BENCH/PERCENTILES.md).
    """
    from real_time_sliding_window_spark.operators.windows import (
        approx_group_percentiles,
    )

    p_col = f"p_{str(pct).replace('.', '_')}"
    thr = approx_group_percentiles(
        df, value_col, [group_col], (pct,), accuracy=accuracy
    ).select(
        group_col, F.col(p_col).alias("gate_threshold")
    )
    return df.join(F.broadcast(thr), group_col).filter(
        F.col(value_col) >= F.col("gate_threshold")
    )


def quality_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Integer quality features + a 0-1000 composite score.

    Features: token count, distinct-token count, alnum char count, non-alnum
    (punct/space) count; score = distinct/total ratio in per-mille, floored —
    exact integer semantics on both engines.
    """
    t = ensure_parallelism(df).withColumn("__tok", C.tokens(text_col))
    n_tok = F.size("__tok").cast("long")
    n_distinct = F.expr("size(array_distinct(__tok))").cast("long")
    alnum_chars = F.expr(
        "aggregate(__tok, 0L, (a, t) -> a + length(t))"
    ).cast("long")
    total_chars = F.length(text_col).cast("long")
    score = F.when(n_tok > 0, F.floor(F.lit(1000) * n_distinct / n_tok)).otherwise(
        F.lit(0)
    ).cast("long")
    return t.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        alnum_chars.alias("alnum_chars"),
        (total_chars - alnum_chars).alias("other_chars"),
        score.alias("distinct_permille"),
    )


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace words vs regex tokens vs a BPE-ish subword estimate.

    The subword estimate counts 4-char chunks per token (ceil(len/4)) — the
    standard chars/4 heuristic, exact in integer math.
    """
    t = ensure_parallelism(df).withColumn("__tok", C.tokens(text_col))
    ws_words = F.size(F.split(F.col(text_col), " ")).cast("long")
    re_tokens = F.size("__tok").cast("long")
    subwords = F.expr(
        "aggregate(__tok, 0L, (a, t) -> a + cast(ceil(length(t) / 4.0) as long))"
    )
    return t.select(
        F.col(id_col),
        ws_words.alias("ws_words"),
        re_tokens.alias("re_tokens"),
        subwords.alias("subword_est"),
    )


def fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalized-content fingerprint: md5 over the canonical token join —
    whitespace/punct/case-insensitive document identity."""
    t = ensure_parallelism(df).withColumn("__tok", C.tokens(text_col))
    return t.select(
        F.col(id_col),
        F.md5(F.array_join("__tok", " ")).alias("fingerprint"),
        F.md5(F.array_join(F.slice("__tok", 1, 8), " ")).alias("prefix_fingerprint"),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al. 2021
    §A1.1 — the standard web-corpus quality gates): duplicate-word
    fraction and most-frequent-bigram fraction. Heavily repeated documents
    (keyword stuffing, boilerplate loops, templated spam) score high and
    get filtered before training.

    Zero shuffle: the top-bigram count is computed per row as the longest
    run of equal adjacent elements in the SORTED bigram array (equal
    bigrams are adjacent after sorting, so max run == max multiplicity) —
    an interpreted aggregate() lambda over a bounded array, same cost
    class as the other text passes, instead of an explode + groupBy + max
    (two shuffles) formulation. All outputs are exact integers plus one
    int64/int64 double division, so the DuckDB oracle (unnest + group by
    twin) matches bit-for-bit.
    """
    t = ensure_parallelism(df).withColumn("__tok", C.tokens(text_col))
    n_words = F.size("__tok").cast("long")
    n_distinct = F.expr("size(array_distinct(__tok))").cast("long")
    # explicit <2-token guard: sequence(1, 0) yields a DESCENDING [1, 0]
    # in Spark, not an empty array
    bigrams = F.expr(
        "if(size(__tok) >= 2, "
        "transform(sequence(1, size(__tok) - 1), "
        "i -> concat(__tok[i - 1], ' ', __tok[i])), "
        "array())"
    )
    top_run = F.expr(
        "aggregate(sort_array(__bg), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(a, x) -> named_struct("
        "  'prev', x, "
        "  'run', if(x = a.prev, a.run + 1L, 1L), "
        "  'best', greatest(a.best, if(x = a.prev, a.run + 1L, 1L))), "
        "a -> a.best)"
    )
    out = t.withColumn("__bg", bigrams).select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        F.size("__bg").cast("long").alias("n_bigrams"),
        top_run.alias("top_bigram_count"),
    )
    dup_frac = F.when(
        F.col("n_words") > 0,
        F.lit(1.0)
        - F.col("n_distinct_words").cast("double")
        / F.col("n_words").cast("double"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.col("n_bigrams") > 0,
        F.col("top_bigram_count").cast("double")
        / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "*", dup_frac.alias("dup_word_frac"), top_frac.alias("top_bigram_frac")
    )


# --- PII redaction -----------------------------------------------------------
#
# Patterns chosen from the Java-regex ∩ RE2 common dialect (character classes,
# bounded repetition — no backrefs, no lookaround) so the Spark expression and
# the DuckDB oracle twin compile to the SAME language; order of application is
# fixed (emails first — their local parts may contain digit runs) so engines
# agree byte-for-byte on the redacted text.

PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_LONGNUM_RE = r"[0-9]{6,}"
PII_EMAIL_TAG = "<email>"
PII_LONGNUM_TAG = "<num>"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub e-mail addresses and long digit runs (IDs / phone-shaped
    numbers) from a text column — the curation pass a training pipeline
    runs before anything leaves the raw zone.

    Output: ``(id, text_redacted, n_emails, n_longnums)``. Counts come
    from ``regexp_extract_all`` BEFORE replacement; replacement is
    global on both engines (Spark's ``regexp_replace`` replaces all
    matches; the DuckDB twin passes the ``'g'`` flag). Everything is a
    map-only JVM-side expression — zero shuffle, scales as a pure scan
    at 100 TB. Long-digit-run counting happens AFTER e-mail removal so
    a digit-bearing e-mail local part is counted once, as an e-mail.
    """
    no_email = F.regexp_replace(
        F.col(text_col), PII_EMAIL_RE, PII_EMAIL_TAG
    )
    return ensure_parallelism(df).select(
        F.col(id_col),
        F.regexp_replace(
            no_email, PII_LONGNUM_RE, PII_LONGNUM_TAG
        ).alias("text_redacted"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(PII_LONGNUM_RE), F.lit(0)))
        .cast("long")
        .alias("n_longnums"),
    )


def _segment_frame(
    df: DataFrame, id_col: str, text_col: str, width: int
) -> DataFrame:
    """(__id, n_segs, __segs) — the shared segmenter of the batch removal
    pass and the incremental df index (they MUST cut identically or the
    index-derived hot set diverges from the batch one)."""
    words = ensure_parallelism(
        df.select(
            F.col(id_col).alias("__id"),
            F.split(F.col(text_col), " ").alias("__w"),
        )
    )
    # split() always returns >= 1 element, so sequence(0, n-1) is never
    # descending (the sequence(1,0) == [1,0] trap) — ceil(size/width) >= 1
    return words.select(
        "__id",
        F.expr(
            f"transform(sequence(0, cast(ceil(size(__w) / {width}.0) as int) - 1), "
            f"s -> array_join(slice(__w, s * {width} + 1, {width}), ' '))"
        ).alias("__segs"),
    ).select("__id", F.size("__segs").cast("long").alias("n_segs"), "__segs")


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
    min_df: int = 4,
    broadcast_hot: bool = True,
    hot_segments: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level boilerplate removal: drop every ``width``-word segment
    that appears in at least ``min_df`` distinct documents, and reassemble
    what is left (the CCNet / RefinedWeb line-dedup pass, re-expressed over
    whitespace segments because the corpus carries no newline structure).

    Documents are cut into consecutive NON-overlapping ``width``-word
    segments (the last one may be shorter). A segment's document frequency
    is counted over DISTINCT documents, so a phrase repeated inside one
    document is not boilerplate evidence; once a segment is classified
    hot, ALL its occurrences are removed from every document.

    Output: ``(id, n_segs, n_kept, clean_text)`` — one row per input
    document, including documents whose every segment was removed
    (``n_kept = 0``, ``clean_text = ''``): the id universe is never
    filtered by a curation pass (round-4 review doctrine).

    Scale shape: one hash-agg shuffle over segment occurrences (corpus
    words / width rows) to count df, then an anti-join against the hot
    set, then one reassembly shuffle on the document id — at 100 TB the
    reassembly co-locates with a doc_id-bucketed layout and the df agg
    is the only unavoidable exchange. The hot set is bounded by
    occurrences/min_df; with ``broadcast_hot`` the anti-join is map-side
    (the common case — boilerplate is the heavy tail of the df
    distribution), set it False to fall back to a shuffled anti-join
    when the hot set itself is too large to broadcast. Segmenting is a
    higher-order transform over the PRE-SPLIT words array (never split
    inside the lambda: higher-order functions are interpreted, so an
    expression inside the lambda runs once per element, and a ``split``
    there would re-split the whole document once per segment).

    ``hot_segments`` (a 1-column ``seg`` frame) substitutes an externally
    maintained hot set — e.g. ``hot_segments_from_index`` over the
    incremental df index — for the in-plan df computation; ``min_df`` is
    then ignored.
    """
    # materialize the segment pass once (r6): `base` feeds the exploded
    # occurrence table AND the final id-universe join, and `exploded` is
    # itself read by both the df count and the anti-join — without the
    # barrier the interpreted segment transform runs per reference.
    base = _segment_frame(df, id_col, text_col, width).localCheckpoint(
        eager=True
    )
    exploded = base.select(
        "__id", "n_segs", F.posexplode("__segs").alias("ord", "seg")
    )
    if hot_segments is not None:
        hot = hot_segments.select("seg")
    else:
        hot = (
            exploded.select("__id", "seg")
            .distinct()
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") >= min_df)
            .select("seg")
        )
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = exploded.join(hot, "seg", "left_anti")
    clean = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(ord, seg))), x -> x.seg)"),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("__id", "n_segs")
        .join(clean, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def run_segment_df_index(
    stream: DataFrame,
    sink,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
):
    """Incremental substrate for boilerplate removal: append one
    ``(seg, df_inc)`` row per distinct (document, segment) group per
    micro-batch through the exactly-once sink. Under the append-only-
    unique-id contract (a document arrives in exactly ONE batch — the
    postings/Gramian index contract) per-batch distinct df increments
    are globally additive, so the summed index reproduces the batch df
    of the accumulated corpus bit-for-bit and the hot set — and
    therefore the removal pass — matches a full batch recompute exactly
    (pinned in pytest). A redelivered batch is dropped by the sink's
    marker; a document REVISED in a later batch breaks the contract the
    same way it breaks the postings index (its old segments keep their
    df votes)."""

    def _body(batch: DataFrame, batch_id: int) -> None:
        segs = _segment_frame(batch, id_col, text_col, width).select(
            "__id", F.explode("__segs").alias("seg")
        )
        sink.write_batch(
            segs.distinct()
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("df_inc")),
            batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(_body)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .queryName("segment-df-index")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def hot_segments_from_index(index: DataFrame, min_df: int = 4) -> DataFrame:
    """The hot-segment set from the incremental df index (optionally
    pre-filtered to a batch range via ``read_committed(with_batch_id=
    True)``): sum the per-batch increments, threshold. Feed the result to
    ``remove_boilerplate(hot_segments=...)`` to clean ANY slice of the
    corpus against the accumulated evidence without re-counting it."""
    return (
        index.groupBy("seg")
        .agg(F.sum("df_inc").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("seg")
    )
