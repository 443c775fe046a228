"""Generate an sf1 (10× bench-scale) dataset by deterministic tiling of
the driver's sf0.1 parquet (VERDICT r03 #1).

The driver ships sf{0.001,0.01,0.1}; the remaining scale risk is drift
and plan blowup only visible ANOTHER 10× up. This script synthesizes
sf1 from sf0.1 with structure-preserving tiles (no RNG — every value is
a pure function of the source row and its tile index k ∈ 0..9; tile 0 is
the sf0.1 data verbatim), so the oracle gate can run unchanged
against `--out` (default /tmp/sf1):

- dims (region, nation): copied — dims don't scale with fact data.
- keyed tables: per-tile key offsets large enough to never collide
  (custkey +k·1e6, orderkey +k·1e7, suppkey +k·1e5, partkey +k·1e6,
  event/user/doc ids likewise); foreign keys remapped with the SAME
  offsets so join cardinalities scale exactly linearly. Name columns get
  a `-t{k}` suffix so name-grouped queries don't merge tiles.
- events: ids offset, ts/value/props kept — event-time density grows
  10×, the scale-up a window engine actually faces.
- documents: Heaps'-law vocabulary growth — each tile's words salted
  with probability 1/2, deterministic in (word, position, tile), salt
  purely [a-z0-9] so it stays one token.
  Planted near-dups survive WITHIN a tile; cross-tile copies are not
  near-dups — near-dup density per tile is constant, total linear.
  n_chars keeps the source value (metadata column; no query derives it
  from text).

Run: python tools/gen_sf1.py [--mult 10] [--out /tmp/sf1]
Then: python tools/oracle_check.py /tmp/sf1
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from real_time_sliding_window_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

OFF = {
    "custkey": 1_000_000,
    "orderkey": 10_000_000,
    "suppkey": 100_000,
    "partkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
}


def _salted_text(k: int):
    return F.array_join(
        F.expr(
            "transform(split(text, ' '), (w, i) -> "
            f"if((xxhash64(w, i, {k}) & 1) = 0, w, concat(w, 'q{k}q')))"
        ),
        " ",
    ).alias("text")


def tile_exprs(table: str, k: int):
    t = F.lit(f"-t{k}")
    if table == "customer":
        return [
            (F.col("c_custkey") + k * OFF["custkey"]).alias("c_custkey"),
            F.concat(F.col("c_name"), t).alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        ]
    if table == "supplier":
        return [
            (F.col("s_suppkey") + k * OFF["suppkey"]).alias("s_suppkey"),
            F.concat(F.col("s_name"), t).alias("s_name"),
            "s_nationkey", "s_acctbal",
        ]
    if table == "part":
        return [
            (F.col("p_partkey") + k * OFF["partkey"]).alias("p_partkey"),
            F.concat(F.col("p_name"), t).alias("p_name"),
            "p_brand", "p_type", "p_size", "p_retailprice",
        ]
    if table == "orders":
        return [
            (F.col("o_orderkey") + k * OFF["orderkey"]).alias("o_orderkey"),
            (F.col("o_custkey") + k * OFF["custkey"]).alias("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        ]
    if table == "lineitem":
        return [
            (F.col("l_orderkey") + k * OFF["orderkey"]).alias("l_orderkey"),
            (F.col("l_partkey") + k * OFF["partkey"]).alias("l_partkey"),
            (F.col("l_suppkey") + k * OFF["suppkey"]).alias("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ]
    if table == "events":
        return [
            (F.col("event_id") + k * OFF["event_id"]).alias("event_id"),
            "ts",
            (F.col("user_id") + k * OFF["user_id"]).alias("user_id"),
            "event_type", "value", "props",
        ]
    if table == "documents":
        return [
            (F.col("doc_id") + k * OFF["doc_id"]).alias("doc_id"),
            _salted_text(k) if k else F.col("text"),
            "lang", "source", "n_chars",
        ]
    raise ValueError(table)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--files", type=int, default=8)
    args = ap.parse_args()

    spark = get_spark(
        app_name="gen-sf1", master="local[16]", shuffle_partitions=16
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    for table in ["region", "nation"]:
        spark.read.parquet(f"{SRC}/{table}.parquet").coalesce(1) \
            .write.mode("overwrite").parquet(f"{args.out}/{table}.parquet")
        print(f"{table}: copied")

    for table in [
        "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents",
    ]:
        base = spark.read.parquet(f"{SRC}/{table}.parquet")
        tiles = [base.select(*tile_exprs(table, k)) for k in range(args.mult)]
        out = tiles[0]
        for tdf in tiles[1:]:
            out = out.unionByName(tdf)
        out.repartition(args.files).write.mode("overwrite") \
            .parquet(f"{args.out}/{table}.parquet")
        n = spark.read.parquet(f"{args.out}/{table}.parquet").count()
        print(f"{table}: {n} rows")

    spark.stop()


if __name__ == "__main__":
    main()
