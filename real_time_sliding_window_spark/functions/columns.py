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
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text_col: str = "text") -> Column:
    return F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
