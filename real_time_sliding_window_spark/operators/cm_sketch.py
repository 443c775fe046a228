"""Count-min sketch — fixed-size, exactly-additive frequency summaries
(r5).

A frequent-items summary such as Misra-Gries answers "which items are
frequent" with UNDER-estimates and O(m) state but cannot answer a point
query for an untracked item. The count-min sketch [Cormode &
Muthukrishnan, "An Improved Data Stream Summary: The Count-Min Sketch
and its Applications", J. Algorithms 55(1), 2005] is the complementary
OVER-estimating structure: a depth×width matrix of exact bucket counts,
``est(x) = min_r matrix[r][bucket_r(x)]``, with

- ``est >= true`` for every key (each row's bucket contains the key's
  full weight plus whatever collided into it);
- ``est <= true + e·N/width`` with probability ``1 - e^-depth`` over
  the hash choice (N = total inserted weight).

Unlike MG there is no decrement rule, so the matrix is a PURE SUM of
per-row bucket counts. That buys three properties the suite leans on:

- DETERMINISTIC: same input ⇒ bit-identical matrix, so the DuckDB
  oracle can replay sketch construction AND estimation exactly (buckets
  are md5-derived — the engine-parity hash doctrine; no xxhash64,
  which DuckDB lacks);
- EXACTLY additive: ``cm(A ⊎ B) = cm(A) + cm(B)`` pointwise, so
  per-batch sketches merge bit-losslessly (``cm_merge``) — NOT the HLL
  estimator caveat;
- one-pass distributed build: the explode is depth rows per input row,
  but map-side partial aggregation collapses each task's output to at
  most depth×width rows before the single shuffle — the shuffle volume
  is sketch-sized, not corpus-sized.

Reference anchor: no counterpart in the reference (its windows store
every item); north-rule scale surface, sibling of windows.py's GK
quantiles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_expr(key_sql: str, r: int, width: int) -> str:
    """SQL text for row ``r``'s bucket of ``key_sql`` — 15 md5 hex chars
    (always-positive int64 on both engines, the simhash doctrine) mod
    width. The row index is salted into the digest so the depth hash
    functions are independent. Identical text runs on DuckDB."""
    return (
        f"cast(conv(substr(md5(concat('cm{r}:', {key_sql})), 1, 15), 16, 10)"
        f" as bigint) % {width}"
    )


def _bucket(key_col: str, r: int, width: int) -> Column:
    return F.expr(bucket_expr(key_col, r, width))


def cm_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    pre_agg: bool = False,
) -> DataFrame:
    """Build the sketch: ``(r, c, cnt)`` rows, one per NON-EMPTY matrix
    cell (absent cell ≡ 0 — ``cm_estimate`` coalesces). ``weight_col``
    aggregates that column's weight instead of row counts (must be
    non-negative for the CM bounds to hold; not enforced — a weighted
    sketch with negatives is the count-mean-min variant with different
    guarantees).

    Plan: project → posexplode(depth buckets) → hash agg. The partial
    aggregate bounds per-task shuffle output at depth×width rows
    regardless of input size; the final agg output is ≤ depth×width
    rows total. depth/width are NOT stored in the rows — pass the same
    values to ``cm_estimate`` (mismatched width silently re-buckets;
    the driver query pins parity via the oracle twin)."""
    if depth < 1 or width < 1:
        raise ValueError(f"need depth, width >= 1, got {depth}x{width}")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    rows = df.select(
        F.col(key_col).cast("string").alias("__k"), w.alias("__w")
    )
    if pre_agg:
        # Collapse to one row per DISTINCT key before the depth-way md5
        # fan-out (r6, guide §2.3 "aggregate before you shuffle"): for
        # Zipf-ish keys (corpus tokens) this cuts the md5/conv work from
        # depth×rows to depth×vocab. The sketch is identical — the bucket
        # depends only on the key, and Σ per-key weights distributes over
        # the (r, c) sum. Costs one extra key-grouped shuffle (map-side
        # partials bound it at distinct-keys-per-task), so it is opt-in:
        # near-unique keys (join-size orderkeys) keep the default
        # shuffle-free path whose only exchange is sketch-sized.
        rows = rows.groupBy("__k").agg(F.sum("__w").alias("__w"))
    pairs = rows.select(
        F.posexplode(
            F.array(*[_bucket("__k", r, width) for r in range(depth)])
        ).alias("r", "c"),
        "__w",
    )
    return pairs.groupBy("r", "c").agg(F.sum("__w").alias("cnt"))


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Pointwise sum of same-shape sketches — exact, order-insensitive
    (integer addition). Union + one sketch-sized hash agg."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cm_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Join-size estimation from two sketches [Cormode & Muthukrishnan
    §4.2]: the equi-join cardinality |A ⋈ B| on the sketched key equals
    the inner product of the two frequency vectors, and
    ``min_r Σ_c A[r][c]·B[r][c]`` OVER-estimates it (collisions only
    add) within ``e·N_a·N_b/width`` with probability ``1 − e^−depth``.
    The sketches must share (depth, width) — the caller's contract, as
    with ``cm_estimate``.

    Output: one row ``(est_join_size)``. Plan: both sketch sides are
    ≤ depth×width rows; the equi-join on (r, c) broadcasts one side, the
    per-row products sum in a depth-row agg, and a 1-row min finishes —
    the whole estimate costs O(sketch), never O(data): the planner-side
    join-size oracle a 100 TB optimizer wants BEFORE committing to a
    shuffle strategy."""
    # Full-outer cell join (advice r5): same dot products as the inner
    # join (cells present on one side only multiply by 0), but the
    # per-row frame now covers every r populated in EITHER sketch, which
    # lets the depth validation below ride the SAME single pass — no
    # second consumer of either sketch, so no re-run of the (possibly
    # corpus-sized) sketch-build pipelines. The join itself stays
    # sketch-sized (≤ depth×width rows per side).
    cells = sketch_a.alias("a").join(
        sketch_b.alias("b"), ["r", "c"], "full_outer"
    )
    per_row = cells.groupBy("r").agg(
        F.sum(
            F.coalesce(F.col("a.cnt"), F.lit(0))
            * F.coalesce(F.col("b.cnt"), F.lit(0))
        ).alias("dot"),
        F.max(
            F.when(F.col("a.cnt").isNotNull(), 1).otherwise(0)
        ).alias("__has_a"),
        F.max(
            F.when(F.col("b.cnt").isNotNull(), 1).otherwise(0)
        ).alias("__has_b"),
    )
    # a row with NO overlapping cells has dot = 0 and must reach the
    # min (it proves the true product is 0) — spine over all depth rows
    spine = sketch_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("r"), F.lit(True).alias("__sp")
    )
    full = spine.join(per_row, "r", "full_outer")
    est = full.agg(
        F.min(
            F.when(
                F.col("__sp"), F.coalesce(F.col("dot"), F.lit(0).cast("long"))
            )
        ).alias("est_join_size"),
        # depth validation: every inserted key lands in a bucket of EVERY
        # row, so a non-empty sketch populates r = 0..build_depth−1
        # exactly. Caller depth above the build depth used to inject
        # all-zero spine rows (est silently 0); below, it silently
        # ignored rows. Either way the per-side populated-row count is
        # neither 0 (empty sketch — fine, est 0) nor depth — asserted
        # in-plan, zero extra actions.
        F.count(F.when(F.col("__sp").isNull(), 1)).alias("__extra"),
        F.count(F.when(F.col("__has_a") == 1, 1)).alias("__na"),
        F.count(F.when(F.col("__has_b") == 1, 1)).alias("__nb"),
    )
    return est.select(
        F.when(
            F.assert_true(
                (F.col("__extra") == 0)
                & F.col("__na").isin(0, depth)
                & F.col("__nb").isin(0, depth),
                F.concat(
                    F.lit(
                        "cm_inner_product: sketch depth mismatch — caller "
                        f"depth={depth} but sketches populate "
                    ),
                    F.col("__na").cast("string"),
                    F.lit(" / "),
                    F.col("__nb").cast("string"),
                    F.lit(" rows"),
                ),
            ).isNull(),
            F.col("est_join_size"),
        ).alias("est_join_size")
    )


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates: for each probe key, ``min`` over the
    depth rows of its bucket counts. Output: ``(key_col, est_count)``.

    Plan: probes explode to depth (r, c) coordinates and LEFT-join the
    sketch (missing cell ⇒ 0 — min with any absent row is 0, i.e. the
    key was never inserted). The sketch side is BOUNDED by construction
    (≤ depth×width rows) and broadcasts — a left-outer join can only
    build its right side, and here the right side is the one with the
    size guarantee, so probes may be arbitrarily many (estimate every
    corpus key if you like) with zero shuffle on the probe side; the
    min-agg groups by key on depth rows each."""
    coords = probes.select(
        F.col(key_col).cast("string").alias("__k")
    ).select(
        "__k",
        F.posexplode(
            F.array(*[_bucket("__k", r, width) for r in range(depth)])
        ).alias("r", "c"),
    )
    joined = coords.join(F.broadcast(sketch), ["r", "c"], "left")
    return (
        joined.groupBy("__k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .withColumnRenamed("__k", key_col)
    )
