"""Property-based equivalence guard for a dual-implementation contract:
`as_of_join_union` (union + last-value carry) vs `as_of_join` (interval +
rank) — equal by construction of the ordering rules.

Fixed-fixture tests pin known edge cases; the Hypothesis test sweeps
randomized event lists (a tiny ts range forces equal-ts ties) so a future
semantic drift in either implementation trips the guard. Few examples,
big state space per example — Spark round-trips dominate, so depth beats
count here.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from real_time_sliding_window_spark.operators.joins import (
    as_of_join,
    as_of_join_union,
)

T0 = datetime(2024, 1, 1)

event_strategy = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2"]),          # key
        st.integers(min_value=0, max_value=30),  # ts offset (ties likely)
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lefts=event_strategy, rights=event_strategy)
def test_asof_union_equals_interval_random(spark, lefts, rights):
    ldf = spark.createDataFrame(pd.DataFrame({
        "user": [u for u, _ in lefts],
        "lid": range(len(lefts)),
        "ts": [T0 + timedelta(seconds=s) for _, s in lefts],
    }))
    rdf = spark.createDataFrame(pd.DataFrame({
        "user": [u for u, _ in rights],
        "rid": range(len(rights)),
        "ts": [T0 + timedelta(seconds=s) for _, s in rights],
    }))
    key = lambda p: sorted(
        map(tuple, p[sorted(p.columns)].itertuples(index=False))
    )
    for horizon in (timedelta(seconds=10), None):
        a = as_of_join(
            ldf, rdf, keys=["user"], left_ts="ts", right_ts="ts",
            horizon=horizon, tiebreakers=["rid"],
        ).toPandas()
        b = as_of_join_union(
            ldf, rdf, keys=["user"], left_ts="ts", right_ts="ts",
            horizon=horizon, tiebreakers=["rid"],
        ).toPandas()
        assert sorted(a.columns) == sorted(b.columns)
        assert key(a) == key(b)


def test_asof_null_permutation_lefts_distinct_ids(spark):
    """ADVICE r03: xxhash64 skips null inputs, so left rows that are
    null-permutations of each other — (NULL,'x') vs ('x',NULL) — hashed
    identically and the rn disambiguator permuted NON-identical rows
    under stage retry. With null indicators interleaved into the hash,
    both rows flow through as_of_join, each exactly once, with the
    correct per-row match."""
    ldf = spark.createDataFrame(pd.DataFrame({
        "user": ["u1", "u1"],
        "a": [None, "x"],
        "b": ["x", None],
        "ts": [T0 + timedelta(seconds=5), T0 + timedelta(seconds=9)],
    }))
    rdf = spark.createDataFrame(pd.DataFrame({
        "user": ["u1", "u1"],
        "rid": [1, 2],
        "ts": [T0 + timedelta(seconds=4), T0 + timedelta(seconds=8)],
    }))
    out = as_of_join(
        ldf, rdf, keys=["user"], left_ts="ts", right_ts="ts",
        tiebreakers=["rid"],
    ).toPandas()
    assert len(out) == 2
    match = {
        (row.l_a, row.l_b): row.r_rid for row in out.itertuples()
    }
    assert match[(None, "x")] == 1  # ts=5 -> latest right at ts=4
    assert match[("x", None)] == 2  # ts=9 -> latest right at ts=8
