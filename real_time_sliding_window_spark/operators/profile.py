"""Column profiling — the data-quality pass a pipeline runs on every new
table before trusting it (null rates, cardinalities, value ranges).

One scan for ANY number of columns. Exact distinct counts compile to one
Expand-based aggregate (Spark's multi-count-distinct lowering: the scan is
replicated once per distinct column INSIDE the shuffle, so k columns cost a
k× shuffle, not k scans); ``exact_distinct=False`` switches to HLL++
``approx_count_distinct`` sketches, which partial-merge like any other agg
— no Expand, flat shuffle — the right default at 100 TB where a ±2%
cardinality is what you wanted anyway.

Values are surfaced as strings so the output schema is column-type-agnostic;
keep profiled columns to ints/strings when cross-engine hash identity
matters (float formatting differs between engines — same reason the oracle
queries quantize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_sliding_window_spark.util import ensure_parallelism


def profile_columns(
    df: DataFrame, cols: list[str], exact_distinct: bool = True
) -> DataFrame:
    """One row per profiled column: ``(column, n_rows, n_null, n_distinct,
    min_value, max_value)``. n_distinct excludes nulls (count-distinct
    semantics on both engines); min/max ignore nulls and are stringified.
    """
    if not cols:
        raise ValueError("profile_columns: need at least one column")
    # Hostile-name safety (advice r5): column names reach generated SQL
    # twice — as the stack() row literal and as references to the wide
    # aggregate's columns. References use POSITIONAL sanitized aliases
    # (__n_0, ...) so the name never parses as an identifier, and the
    # literal escapes backslash + quote; the aggregate inputs are
    # backtick-quoted with doubled inner backticks (bare F.col("a.b")
    # would parse the dot as a struct access). Output values are
    # byte-identical for well-formed names.
    def _ref(c: str) -> F.Column:
        return F.col("`" + c.replace("`", "``") + "`")

    edf = ensure_parallelism(df)
    aggs = []
    for i, c in enumerate(cols):
        nd = (
            F.count_distinct(_ref(c))
            if exact_distinct
            else F.approx_count_distinct(_ref(c))
        )
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{i}"),
            F.count(F.when(_ref(c).isNull(), 1)).alias(f"__null_{i}"),
            nd.cast("long").alias(f"__nd_{i}"),
            F.min(_ref(c)).cast("string").alias(f"__min_{i}"),
            F.max(_ref(c)).cast("string").alias(f"__max_{i}"),
        ]
    wide = edf.agg(*aggs)
    def _lit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    stacked = ", ".join(
        f"{_lit(c)}, __n_{i}, __null_{i}, __nd_{i}, __min_{i}, __max_{i}"
        for i, c in enumerate(cols)
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(column, n_rows, n_null, n_distinct, min_value, max_value)"
        )
    )
