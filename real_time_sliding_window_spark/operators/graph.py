"""Iterative graph analytics — integer fixed-point PageRank (r5).

The suite's graph family so far: the approximate k-NN similarity
graph (similarity.py::knn_graph). PageRank
adds the canonical ITERATIVE dataflow shape — per-iteration join +
aggregate with lineage truncation — computed in exact integer
fixed-point so the DuckDB oracle replays every iteration bit-for-bit
(float damping would drift per summation order, the same reason the
money columns are integer cents):

- ranks carry ``scale`` units of total mass (default 10^9);
- iteration: ``rank' = base + (damping_pct · Σ_in contrib) DIV 100``
  with ``contrib = rank DIV out_degree`` and
  ``base = (100 − damping_pct) · scale DIV (100 · n)`` — all floor
  divisions on non-negative int64, identical on both engines;
- dangling nodes (no out-edges) contribute nothing: the "pruned"
  formulation — total mass leaks slightly instead of being
  redistributed, stated rather than hidden (the redistribution variant
  adds a per-iteration global sum; same plan shape if ever needed).

Scale notes: each iteration is one join on ``src`` (ranks ⋈ edges — both
sides partition on the same key) + one aggregate on ``dst``; the edge
list with degrees is localCheckpointed ONCE and reused every iteration
(multi-branch reuse doctrine — without the barrier each iteration
re-derives the degree join), and ranks are checkpointed per iteration so
the lineage never grows with iteration count (the connected-components
lesson). State between iterations is one (node, rank) row per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer PageRank over a directed edge list (module docstring).
    Output: ``(node, rank_scaled)`` for every node appearing as a source
    OR destination; ranks sum to ≤ ``scale`` (dangling/teleport floor
    leakage). ``damping_pct`` is an integer percentage (85 = the classic
    0.85)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be 0..100, got {damping_pct}")
    # Materialize the edge list ONCE before anything branches on it (r6,
    # guide §2.4/§5): `e` is referenced by nodes (twice via the union),
    # deg, and the e_deg join — five plan references total. When the edge
    # list is itself an expensive subquery (pagerank_knn feeds the whole
    # LSH k-NN graph here), each un-materialized reference re-runs that
    # pipeline; measured 38s → ~24s at sf1 from this one barrier.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # one scalar — constants-only driver traffic
    if n == 0:
        # empty graph: empty result, not a ZeroDivisionError buried in
        # the base-mass arithmetic
        return nodes.withColumn("rank_scaled", F.lit(0).cast("long"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = e.join(deg, "src").localCheckpoint(eager=True)
    base = (100 - damping_pct) * scale // (100 * n)
    ranks = nodes.withColumn("rank_scaled", F.lit(scale // n).cast("long"))
    for _ in range(n_iter):
        contribs = (
            e_deg.join(
                ranks, e_deg["src"] == ranks["node"]
            )
            .select(
                "dst",
                F.expr("rank_scaled DIV deg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("mass"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(mass, 0L)) DIV 100"
                    )
                ).cast("long").alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
