"""Plan-shape assertions: the scale properties PLANS.md documents must hold
structurally, not just anecdotally — pushdown, partial agg, broadcast, and
rank-limit pushdown are part of each operator's contract."""

from __future__ import annotations

import __spark_entry__ as E

from real_time_sliding_window_spark.plans.audit import scorecard

SF = "/root/testdata/sf0.001"


def test_every_query_has_an_oracle_twin():
    """Spark-free: a driver query without its DuckDB twin (or a twin
    whose query is gone) is caught here, not only by oracle_check."""
    assert set(E.queries()) == set(E.oracle_sql())


def test_filter_pushdown_and_partial_agg(spark):
    sc = scorecard(E.q_lineitem_pricing(spark, SF))
    assert sc["pushed_filters"], "shipdate filter must reach the parquet scan"
    assert sc["partial_agg"], "map-side combine must precede the shuffle"
    assert sc["scan_cols"] <= 5, "column pruning must reach the scan"


def test_topk_rank_limit_pushdown(spark):
    sc = scorecard(E.q_topk_events_per_user(spark, SF))
    assert sc["window_group_limit"], "top-k must use WindowGroupLimit"


def test_dim_join_broadcasts(spark):
    sc = scorecard(E.q_orders_by_segment(spark, SF))
    assert sc["broadcast_join"], "customer dim must broadcast, not shuffle"


def test_window_agg_single_shuffle(spark):
    sc = scorecard(E.q_tumbling_events(spark, SF))
    assert sc["partial_agg"]
    # one shuffle for the group-by (+ possibly AQE read) — never a global sort
    assert sc["exchanges"] <= 2


def test_bucketed_join_no_join_shuffle(spark, tmp_path):
    """Two tables bucketed+sorted on the join key sort-merge-join with ZERO
    Exchange on either join side — the only shuffle left is the final small
    aggregation (storage.py co-location contract)."""
    from pyspark.sql import functions as F

    from real_time_sliding_window_spark.storage import (
        join_shuffle_count,
        write_bucketed,
    )

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, "orders_b", ["o_orderkey"], 4)
        write_bucketed(li, "lineitem_b", ["l_orderkey"], 4)

        def agg(l, o):
            return l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
                "o_orderpriority"
            ).agg(F.count(F.lit(1)).alias("n"))

        bucketed = agg(spark.table("lineitem_b"), spark.table("orders_b"))
        plain = agg(li, orders)
        assert join_shuffle_count(bucketed) == 1   # final agg only
        assert join_shuffle_count(plain) >= 3      # both join sides + agg
        # co-location is free semantically: identical results
        a = sorted(map(tuple, bucketed.collect()))
        b = sorted(map(tuple, plain.collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_late_suppliers_single_sort_shared_by_both_windows(spark):
    """r4 Q21 lowering guard: the two collect_set windows (EXISTS /
    NOT-EXISTS twins) must share ONE Sort over one exchange on
    l_orderkey — two Window nodes, one Sort, no self-join of the
    lineitem branch, no multi-distinct Expand."""
    df = E.q_late_suppliers(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2
    import re

    sorts = len(re.findall(r"\bSort\b", plan))
    assert sorts <= 1, f"windows must share one sort, saw {sorts}"
    assert "Expand" not in plan, "no multi-distinct Expand in this lowering"
    sc = scorecard(df)
    assert sc["broadcast_join"], "supplier+nation dims must broadcast"
    assert sc["pushed_filters"], "orderstatus filter must reach the scan"


def test_small_qty_revenue_broadcast_and_pushdown(spark):
    sc = scorecard(E.q_small_qty_revenue(spark, SF))
    assert sc["broadcast_join"], "filtered part dim must broadcast"
    assert sc["pushed_filters"], "brand filter must reach the part scan"
    assert sc["partial_agg"]


def test_time_partition_pruning(spark, tmp_path):
    """Date-partitioned layout: a __pdate predicate prunes whole partition
    directories (PartitionFilters non-empty, files read < total files)."""
    from real_time_sliding_window_spark.storage import (
        partition_filters,
        write_time_partitioned,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "ev_by_day")
    write_time_partitioned(ev, path, ts_col="ts", granularity="day")

    allf = spark.read.parquet(path)
    n_days = allf.select("__pdate").distinct().count()
    assert n_days > 1  # layout actually split

    import pyspark.sql.functions as _F

    one_day = allf.filter(_F.col("__pdate") == "2024-01-03")
    pf = partition_filters(one_day)
    assert "__pdate" in pf, f"no partition filter in scan: {pf!r}"
    # pruning is PHYSICAL: the executed scan's own metrics report one
    # partition/file read out of n_days (inputFiles() can't show this —
    # it reflects the pre-pruning relation)
    one_day.collect()

    def scan_metric(df, name):
        node = df._jdf.queryExecution().executedPlan()
        stack = [node]
        while stack:
            n = stack.pop()
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == name and n.nodeName().startswith("Scan"):
                    return kv._2().value()
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
            try:
                stack.append(n.executedPlan())  # AQE wrapper
            except Exception:
                pass
        return None

    assert scan_metric(one_day, "numPartitions") == 1
    # and the data is intact for that day
    expect = ev.filter(_F.date_format("ts", "yyyy-MM-dd") == "2024-01-03").count()
    assert one_day.count() == expect


def test_retention_drops_only_expired_partitions(spark, tmp_path):
    """Retention = O(1) partition-directory drops on the time-partitioned
    layout; surviving data is bit-identical to a row-level filter."""
    from real_time_sliding_window_spark.storage import (
        drop_expired_partitions,
        write_time_partitioned,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "ev_ret")
    write_time_partitioned(ev, path, ts_col="ts", granularity="day")

    preview = drop_expired_partitions(path, "2024-01-04", dry_run=True)
    assert preview and all(v < "2024-01-04" for v in preview)
    dropped = drop_expired_partitions(path, "2024-01-04")
    assert dropped == preview

    import pyspark.sql.functions as _F

    kept = spark.read.parquet(path)
    expect = ev.filter(_F.date_format("ts", "yyyy-MM-dd") >= "2024-01-04")
    assert kept.count() == expect.count()
    assert kept.select(_F.min("ts")).first()[0] >= expect.select(_F.min("ts")).first()[0]


def test_q15_argmax_broadcasts_scalar_and_dim(spark):
    """The 1-row max and the supplier dim must broadcast — no shuffle join
    against the aggregated revenue."""
    sc = scorecard(E.q_top_revenue_suppliers(spark, SF))
    assert sc["broadcast_join"]
    assert sc["pushed_filters"], "shipdate range must reach the scan"


def test_q4_semi_join_prunes_lineitem_scan(spark):
    """Q4's EXISTS lowers to one LEFT SEMI; lineitem contributes exactly
    its two join columns at the scan."""
    sc = scorecard(E.q_priority_late_orders(spark, SF))
    assert sc["partial_agg"]
    plan = E.q_priority_late_orders(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_q7_trade_volume_dims_broadcast_filters_pushed(spark):
    """The 6-way Q7-shape join: nation/supplier dims broadcast, nation-name
    filters reach the dim scans, map-side combine before the final agg, and
    the big sides shuffle at most on orderkey/custkey/group keys."""
    import re

    sc = scorecard(E.q_nation_trade_volume(spark, SF))
    assert sc["pushed_filters"] and sc["broadcast_join"] and sc["partial_agg"]
    plan = (
        E.q_nation_trade_volume(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3


class TestZOrder:
    """storage.write_zordered — file-skipping measured straight from the
    parquet footers: per-file min/max rectangles vs slice predicates."""

    @staticmethod
    def _overlap_fraction(path, col, lo, hi):
        import glob

        import pyarrow.parquet as pq

        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        assert files
        hits = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        fmin = s.min if fmin is None else min(fmin, s.min)
                        fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is None or (fmax >= lo and fmin <= hi):
                hits += 1
        return hits / len(files)

    def test_zorder_prunes_both_dimensions(self, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from real_time_sliding_window_spark.storage import write_zordered

        rng = np.random.default_rng(71)
        n = 40_000
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "x": rng.integers(0, 10_000, n),
                    "y": rng.integers(0, 10_000, n),
                    "payload": rng.integers(0, 100, n),
                }
            )
        )
        zpath = str(tmp_path / "zorder")
        plain = str(tmp_path / "plain")
        write_zordered(df, zpath, ["x", "y"], bits=10, n_files=16)
        df.repartition(16).write.parquet(plain)

        # a 10%-wide slice in EITHER dimension touches few z-files but
        # every randomly-partitioned file
        for col in ("x", "y"):
            zfrac = self._overlap_fraction(zpath, col, 4000, 4999)
            pfrac = self._overlap_fraction(plain, col, 4000, 4999)
            assert pfrac == 1.0, (col, pfrac)
            # repartitionByRange samples with an RDD-id-derived seed, so
            # exact file boundaries shift with unrelated session history
            # (observed 8/16 vs 9/16 overlapping files for the same data
            # depending on how many RDDs preceded this test). The claim
            # under test is pruning vs the full-overlap plain layout, not
            # an exact boundary placement — assert with seed headroom.
            assert zfrac <= 0.65, (col, zfrac)

        # layout is lossless: same rows back
        got = spark.read.parquet(zpath)
        assert got.count() == n
        assert got.columns == ["x", "y", "payload"]
        joined = (
            df.groupBy("x").count().alias("a")
            .join(got.groupBy("x").count().alias("b"), "x")
            .filter("a.count <> b.count")
        )
        assert joined.count() == 0
