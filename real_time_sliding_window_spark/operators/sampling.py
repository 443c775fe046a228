"""Deterministic sampling, split assignment, and decontamination.

Training-data pipelines need reproducible row selection at 100 TB, which
rules out RNG-based sampling (`df.sample` draws differ per run, per
partitioning, and per engine). Everything here is CONTENT-ADDRESSED:
selection is a pure function of a key column via md5, so

- the same row lands in the same sample/split on every run, every engine
  (DuckDB oracle is expression-identical), and after any repartition;
- sampling composes with incremental ingest (new rows don't reshuffle old
  assignments) — the property ``TABLESAMPLE`` and seeded RNG lack;
- everything is one map-side expression: zero shuffle until the caller
  aggregates.

`decontaminate` is the classic eval-set hygiene pass: find held-out
documents sharing any word k-gram with the training split — an
inverted-index semi-join across splits with a document-frequency cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_sliding_window_spark.functions import columns as C
from real_time_sliding_window_spark.util import ensure_parallelism


def hash_bucket(key_col: str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets): first 4 md5 hex chars of the
    stringified key, mod n_buckets — exact int math on both engines.
    (65,536 hash values mod 100 gives buckets 0-35 a +0.15 % occupancy
    bias — irrelevant for sampling/splits, and determinism is the point.)"""
    return F.expr(
        f"cast(conv(substr(md5(cast({key_col} as string)), 1, 4), 16, 10) as bigint)"
        f" % {n_buckets}"
    )


def hash_sample(
    df: DataFrame, key_col: str, rate_pct: int, n_buckets: int = 100
) -> DataFrame:
    """Keep rows whose hash bucket < rate_pct — a reproducible ~rate_pct%
    sample, stable under reruns, repartitioning, and incremental ingest."""
    return df.filter(hash_bucket(key_col, n_buckets) < rate_pct)


def split_assignment(
    df: DataFrame,
    key_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Append a deterministic train/val/test split column (hash ranges:
    [0,train) train, [train,train+val) val, rest test)."""
    b = hash_bucket(key_col, 100)
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    rates: dict[str, int],
    default_pct: int = 0,
    n_buckets: int = 100,
) -> DataFrame:
    """Per-source sampling rates — the corpus-MIXING primitive (r4).

    Training mixtures are specified as per-source proportions ("keep 80%
    of wiki, 20% of forums, 5% of crawl"); this is ``hash_sample`` with a
    source-dependent threshold: keep a row iff its content-addressed
    bucket < rates[source] (``default_pct`` for unlisted sources). All
    hash_sample properties carry over — reproducible across runs,
    engines and repartitionings; new rows never reshuffle old decisions
    (incremental ingest keeps the mixture); one map-side expression,
    zero shuffle, trivially oracle-replayable. Down-sampling only (a
    rate > 100 keeps everything; up-weighting a source is the trainer's
    repeat-factor, not the sampler's job).

    Rates are PERCENTAGES regardless of ``n_buckets`` (advice r4): the
    threshold compares ``bucket * 100 < pct * n_buckets`` in exact int
    math, so ``pct=80`` keeps ~80% whether the hash space is 100 or
    1000 buckets — a larger ``n_buckets`` only refines the granularity
    (and fractional percents become expressible as e.g. pct*10 buckets
    of 1000).
    """
    b = hash_bucket(key_col, n_buckets)
    rate = F.lit(default_pct)
    for src, pct in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, F.lit(pct)).otherwise(rate)
    return df.filter(b * F.lit(100) < rate * F.lit(n_buckets))


def temperature_mixture(
    df: DataFrame,
    key_col: str,
    source_col: str,
    alpha: float = 0.5,
    n_buckets: int = 1000,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-based source balancing — the multilingual-LLM sampling
    rule (alpha-smoothed multinomial, as in public mBERT/XLM-R recipes):
    re-weight a skewed corpus so the effective mixture over sources is
    proportional to ``size_i ** alpha`` instead of raw ``size_i``,
    flattening head sources and up-weighting the tail.

    Down-sampling only: each source keeps rate
    ``r_i = (min_size / size_i) ** (1 - alpha)`` — the SMALLEST source
    keeps 100% and every larger source is thinned toward the target
    mixture (alpha=1 keeps everything; alpha=0 equalizes sources to the
    smallest). Rates are applied through the same content-addressed
    ``hash_bucket`` as mixture_sample, so the selection inherits its
    reproducibility: stable under reruns, repartitionings, engines, and
    incremental ingest of already-seen sources.

    SCALE SHAPE — everything stays in the plan, nothing on the driver:
    (1) one partial+final agg to a sources-sized count table, (2) a
    1-row global-min broadcast onto it, (3) the rate table broadcast
    back onto the scan as an equi-join + map-side filter. Two scans of
    ``df`` total (counts + filter), zero wide shuffles of data rows.

    ``size_i`` is row count, or ``sum(weight_col)`` when given (e.g.
    token counts — mixtures are usually specified over tokens).

    ORACLE PARITY: the default ``alpha=0.5`` lowers the power to
    ``sqrt``, which IEEE-754 requires to be correctly rounded — the
    floor'd integer rate is bit-identical on Spark and DuckDB. Other
    alphas use ``power()``, correct to libm precision; a rate on a
    1-ulp knife edge could differ across engines (documented, not
    gated).

    Output: input rows of the kept sample plus ``rate_pm`` (the
    source's keep-rate in ``n_buckets``-ths).
    """
    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"temperature_mixture: alpha must be in [0,1], got {alpha}")
    size = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    ).cast("double").alias("src_size")
    counts = df.groupBy(source_col).agg(size)
    gmin = counts.agg(F.min("src_size").alias("min_size"))
    ratio = F.col("min_size") / F.col("src_size")
    r = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    rates = (
        counts.crossJoin(F.broadcast(gmin))
        .select(
            source_col,
            F.floor(r * F.lit(float(n_buckets))).cast("long").alias("rate_pm"),
        )
    )
    return df.join(F.broadcast(rates), source_col).filter(
        hash_bucket(key_col, n_buckets) < F.col("rate_pm")
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy best-first corpus selection under a token budget (r4):
    order documents by (score DESC, id ASC) and keep the longest prefix
    whose cumulative token count stays <= ``budget`` — the deterministic
    "fill the training mix with the best data first" rule.

    SCALE LOWERING — the naive plan is a global sort + running sum, i.e.
    one partition holding the corpus (the classic window-function scale
    killer). Because the running sum is MONOTONE, the prefix rule
    factors into two bounded passes instead:

    1. aggregate tokens per score STRATUM (one partial+final agg; the
       integer score domain is small — e.g. 0..1000 for
       ``distinct_permille``), running-sum over strata only (a window
       over <= |score domain| rows), and collect TWO scalars: the lowest
       fully-included score and the budget remaining at its boundary —
       constants, same discipline as the k-means centroid collect;
    2. keep every doc with score above the cutoff (map-side filter),
       plus the boundary stratum's prefix by id — a window restricted
       to ONE score value, whose size is the stratum occupancy, not the
       corpus.

    Output: (id, score, tokens, cum_tokens) of selected docs,
    cum_tokens being the global running sum (reconstructed exactly from
    the per-stratum offsets). Equals the naive single-window rule row
    for row; the oracle replays the naive form.
    """
    from pyspark.sql.window import Window as SqlWindow

    # integral score domain is the contract, ENFORCED (review r4): a
    # float score would be silently truncated by the long cast — e.g. a
    # [0,1] quality score collapses into one stratum and the "best-first"
    # order degenerates to doc_id order with no error. Pre-quantize
    # floats (e.g. floor(score * 1000)) before calling.
    score_type = df.schema[score_col].dataType.typeName()
    if score_type not in ("byte", "short", "integer", "long"):
        raise ValueError(
            f"token_budget_select needs an INTEGRAL score column; "
            f"{score_col} is {score_type} — quantize it first "
            f"(e.g. floor({score_col} * 1000))"
        )
    # materialize once: scored fans out to 3-4 consumers (strata agg,
    # boundary collect, full join, edge path) and separate actions get
    # no ReusedExchange (the repo's multi-branch rule)
    scored = df.select(
        F.col(id_col),
        F.col(score_col).cast("long").alias("__score"),
        F.col(token_col).cast("long").alias("__toks"),
    ).localCheckpoint(eager=True)
    strata = scored.groupBy("__score").agg(F.sum("__toks").alias("__stoks"))
    w = SqlWindow.orderBy(F.col("__score").desc())
    strata = strata.withColumn("__cum", F.sum("__stoks").over(w)).withColumn(
        "__prev", F.col("__cum") - F.col("__stoks")
    ).localCheckpoint(eager=True)  # tiny; feeds boundary collect + full join
    # two scalar constants off a <=|score domain|-row frame
    boundary = (
        strata.filter(
            (F.col("__prev") <= budget) & (F.col("__cum") > budget)
        )
        .select("__score", "__prev")
        .collect()
    )
    if boundary:
        cutoff, used_before = int(boundary[0][0]), int(boundary[0][1])
    else:
        cutoff, used_before = None, None  # whole corpus fits (or empty)

    # within-stratum prefix sums reconstruct the exact global running sum
    # (stratum offset __prev + per-id prefix); windows partition by score,
    # so no partition ever holds more than one stratum
    iw = SqlWindow.partitionBy("__score").orderBy(F.col(id_col).asc())
    full = strata.filter(F.col("__cum") <= budget).select(
        "__score", "__prev"
    )
    cols = [
        F.col(id_col),
        F.col("__score").alias("score"),
        F.col("__toks").alias("n_tokens"),
        F.col("__cum_out").alias("cum_tokens"),
    ]
    out = (
        scored.join(full, "__score")
        .withColumn("__cum_out", F.col("__prev") + F.sum("__toks").over(iw))
        .select(*cols)
    )
    if cutoff is not None:
        edge = (
            scored.filter(F.col("__score") == cutoff)
            .withColumn(
                "__cum_out", F.sum("__toks").over(iw) + F.lit(used_before)
            )
            .filter(F.col("__cum_out") <= budget)
            .select(*cols)
        )
        out = out.unionByName(edge)
    return out


def decontaminate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    holdout_splits: tuple[str, ...] = ("val", "test"),
    shingle_k: int = 8,
    max_df: int | None = 128,
    bloom_bits: int | None = None,
    bloom_hashes: int = 4,
) -> DataFrame:
    """Held-out docs sharing ≥1 word k-gram with any train doc.

    Output: (id_col, split, n_contaminated_shingles) — one row per
    CONTAMINATED held-out doc; a pipeline drops them (or the matching train
    docs) before training. k=8 is the common eval-decontamination gram
    size. The join is an inverted-index semi-join restricted to
    sub-max_df shingles (corpus-wide boilerplate is not contamination
    evidence, and the cap bounds the join linearly; BENCH/DFCAP.md).

    ``bloom_bits`` switches the plan (not the result): the train-shingle
    set's Bloom image (operators/bloom.py) prunes held-out shingles
    map-side before the exact confirm join — the move that matters when
    the blocklist outgrows an exact broadcast. No false negatives, so
    output is byte-identical either way (pinned in TestBloom).
    """
    words = ensure_parallelism(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(split_col).alias("split"),
            F.split(F.col(text_col), " ").alias("__w"),
        )
    )
    base = words.select(
        "doc_id",
        "split",
        F.array_distinct(C.shingles_from_words("__w", shingle_k)).alias("__sh"),
    ).localCheckpoint(eager=True)
    index = base.select("doc_id", "split", F.explode("__sh").alias("shingle"))
    if max_df is not None:
        rare = (
            index.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        index = index.join(rare, "shingle")
    train_sh = index.filter(F.col("split") == "train").select("shingle").distinct()
    held = index.filter(F.col("split").isin(list(holdout_splits)))
    if bloom_bits is not None:
        # scale path (operators/bloom.py): when the train shingle set is too
        # large to broadcast exactly, its Bloom image still is — prefilter
        # the held-out side map-side, then run the SAME exact confirm join
        # (no false negatives => byte-identical result, cheaper plan)
        from real_time_sliding_window_spark.operators.bloom import (
            bloom_build,
            bloom_prefilter,
        )

        train_sh = train_sh.localCheckpoint(eager=True)
        bloom = bloom_build(train_sh, "shingle", bloom_bits, bloom_hashes)
        held = bloom_prefilter(held, "shingle", bloom, bloom_bits, bloom_hashes)
    return (
        held.join(train_sh, "shingle")
        .groupBy(F.col("doc_id").alias(id_col), "split")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


def holdout_shingle_table(
    holdout: DataFrame, text_col: str = "text", shingle_k: int = 8
) -> DataFrame:
    """Distinct word k-grams of a held-out corpus — the static side of the
    ingest guard. Build once, persist/bucket it; one column, broadcastable
    when the eval set is small (it usually is)."""
    words = holdout.select(F.split(F.col(text_col), " ").alias("__w"))
    return (
        words.select(
            F.explode(
                F.array_distinct(C.shingles_from_words("__w", shingle_k))
            ).alias("shingle")
        )
        .distinct()
    )


def contamination_filter(
    docs: DataFrame,
    holdout_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
) -> DataFrame:
    """Ingest guard: DROP documents sharing any word k-gram with the
    held-out shingle table — eval data can never leak into a
    continuously-ingested training set.

    Batch / micro-batch semantics: explode the incoming docs' shingles,
    inner-join the (static) holdout table to find hit ids, left-anti join
    them away. For a streaming ingest apply this inside ``foreachBatch``
    (each micro-batch is a plain DataFrame there) — a stream-level anti
    join against a stream-derived distinct would need watermarked state
    for no benefit, since the guard has no cross-batch memory. Inverse of
    ``decontaminate`` (which audits an already-landed corpus).
    """
    words = docs.withColumn("__w", F.split(F.col(text_col), " "))
    sh = words.withColumn(
        "__sh", F.array_distinct(C.shingles_from_words("__w", shingle_k))
    )
    hits = (
        sh.select(F.col(id_col), F.explode("__sh").alias("shingle"))
        .join(holdout_shingles.select("shingle"), "shingle")
        .select(id_col)
        .distinct()
    )
    return docs.join(hits, id_col, "left_anti")


def groupwise_bottomk_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """EXACTLY min(k, |group|) rows per group, chosen uniformly by content
    address — the deterministic replacement for per-group reservoir
    sampling.

    ``hash_sample`` keeps a deterministic *fraction*; pipelines also need
    a deterministic *count* per stratum ("20 docs per source for the eval
    set"). Rank rows within each group by the md5 hex of the key (hex
    strings compare identically on every engine — lowercase ASCII) and
    keep rank ≤ k. Because md5 is uniform on the key, this is a uniform
    without-replacement draw, yet:

    - rerunnable: same rows every run, any partitioning, any engine
      (the DuckDB oracle is expression-identical);
    - bottom-k MERGEABLE under incremental ingest: the bottom-k of a
      union is computable from per-increment bottom-k's alone, so an
      incremental pipeline keeps k candidate rows per group per
      increment, never the full history (the classic bottom-k sketch);
    - distributed: the rank ≤ k filter lowers to WindowGroupLimit —
      per-partition top-k pruning BEFORE the single shuffle on
      group_col, so k rows per group per input partition is all that
      moves (plan-pinned in test_plans.py).

    Determinism contract (advice r5): ``key_col`` must be UNIQUE per row
    within each group. Two rows with equal keys have identical (md5, key)
    sort values, so row_number ranks them arbitrarily and which physical
    row survives ``rank <= k`` may vary across runs/partitionings (the
    secondary ``key_col`` sort breaks nothing there — equal-md5 ties ARE
    equal keys). With unique keys the order is total and the draw is
    engine-stable; callers sampling by a non-unique column should pass a
    unique key (e.g. the row id) or accept run-dependent tie picks.
    """
    from pyspark.sql.window import Window

    if k <= 0:
        raise ValueError(f"groupwise_bottomk_sample: k must be >= 1, got {k}")
    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
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
