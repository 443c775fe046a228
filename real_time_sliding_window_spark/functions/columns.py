"""Shared vectorized column builders (all JVM-side Catalyst expressions).

Every function here returns a Column built purely from
``pyspark.sql.functions`` — no Python UDFs — so the whole hot path stays
inside whole-stage codegen and is trivially scalable. Each builder has an
exactly-equivalent DuckDB SQL form used by the oracle queries; determinism
across engines is guaranteed by integer arithmetic (quantized dot products,
counts) and md5 (identical hex output everywhere).

Design notes:
- tokens: ``[a-z0-9]+`` over lowercased text — a regex class with identical
  semantics in Java regex and DuckDB's RE2.
- shingles: word k-grams with 1-based inclusive slicing on both engines.
- cosine: embeddings quantized to int(round(x*1000)); dot and norms are
  exact int64 sums, so the final double division is bit-identical across
  engines and summation orders.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text_col: str = "text") -> Column:
    return F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")


def shingles_from_words(words_col: str, k: int = 3) -> Column:
    """Word k-gram shingles from a pre-split words array column.

    Takes the words ARRAY, not the text: higher-order functions are
    interpreted (no codegen), so any expression inside the lambda is
    re-evaluated per element — ``slice(split(text), i, k)`` would re-split
    the whole document once per shingle (O(words²) per doc). Keep
    ``split`` in an upstream projection (materialized across an exchange)
    so the lambda slices a bound array reference.
    """
    return F.expr(
        f"transform(sequence(1, greatest(size({words_col}) - {k - 1}, 1)), "
        f"i -> array_join(slice({words_col}, i, {k}), ' '))"
    )


def quantize(embedding_col: str, scale: int = 1000) -> Column:
    """float array -> exact int64 array (cross-engine-deterministic basis).

    The multiply happens in DOUBLE explicitly: float32 * int keeps float32
    on some engines and widens on others, and a knife-edge product (x.5
    boundary) then rounds differently — observed once in 599 sf0.1 pairs
    before the cast was pinned (cosine mismatch in the 5th decimal)."""
    return F.expr(
        f"transform({embedding_col}, "
        f"x -> cast(round(cast(x as double) * {scale}) as long))"
    )


def int_dot(a_col: str, b_col: str) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )


def int_norm(a_col: str) -> Column:
    """sqrt of the exact integer self-dot (double, deterministic)."""
    return F.sqrt(
        F.expr(f"aggregate({a_col}, 0L, (acc, v) -> acc + v * v)").cast("double")
    )


def sign_sketch(qv_col: str, n_planes: int = 8) -> Column:
    """LSH sign sketch: bit p = sign of <v, h_p> for dense pseudo-random
    ±1 hyperplanes h_p (every dimension contributes to every plane, so a
    small perturbation of a vector rarely flips a bit — unlike sparse
    stride-based planes)."""
    sk = F.lit(0)
    for p in range(n_planes):
        proj = F.expr(
            f"aggregate(transform({qv_col}, (x, i) -> "
            f"case when pmod((i + 1) * {p + 7}, 13) < 7 then x else -x end), "
            f"0L, (a, v) -> a + v)"
        )
        sk = sk + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sk
