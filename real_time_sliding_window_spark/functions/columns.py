"""Shared vectorized column builders (all JVM-side Catalyst expressions).

Every function here returns a Column built purely from
``pyspark.sql.functions`` — no Python UDFs — so the whole hot path stays
inside whole-stage codegen and is trivially scalable. Each builder has an
exactly-equivalent DuckDB SQL form used by the oracle queries; determinism
across engines is guaranteed by integer arithmetic (counts) and md5
(identical hex output everywhere).

Design notes:
- tokens: ``[a-z0-9]+`` over lowercased text — a regex class with identical
  semantics in Java regex and DuckDB's RE2.
- shingles: word k-grams with 1-based inclusive slicing on both engines.
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
