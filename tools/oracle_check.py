"""Local mimic of the driver's DuckDB-oracle correctness run.

Runs every ``__spark_entry__.queries()`` entry against its
``oracle_sql()`` twin on the same parquet tables and compares
row count + column names + an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def norm_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            pdf[c] = pd.to_datetime(col).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            pdf[c] = col.round(6).map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        else:
            pdf[c] = col.astype(str).where(col.notna(), "NULL")
    joined = pdf.astype(str).apply(lambda r: "\x1f".join(r), axis=1)
    rows = sorted(joined.tolist()) if len(joined) else []
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from real_time_sliding_window_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # driver layout = one file per table; generated sets (e.g.
            # tools/gen_sf1.py) are Spark directory-style — glob those
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.monotonic() - t0
        if name not in oracles:
            print(f"{name:28s} rows={len(sdf):8d}  (rows-only: no oracle)  {t_spark:5.1f}s")
            if len(sdf) == 0:
                failures.append((name, "0 rows (rows-only)"))
            continue
        odf = con.sql(oracles[name]).df()
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        else:
            hs, ho = norm_hash(sdf), norm_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
        status = "OK " if not problems else "FAIL"
        print(f"{name:28s} rows={len(sdf):8d}  {status}  {t_spark:5.1f}s  {'; '.join(problems)}")
        if problems:
            failures.append((name, problems))
            # show a small diff aid
            merged_cols = sorted(set(sdf.columns) & set(odf.columns))
            if merged_cols and len(sdf) and len(odf):
                s_sorted = sdf[merged_cols].sort_values(merged_cols).reset_index(drop=True)
                o_sorted = odf[merged_cols].sort_values(merged_cols).reset_index(drop=True)
                n = min(len(s_sorted), len(o_sorted))
                neq = (s_sorted.iloc[:n].astype(str).values != o_sorted.iloc[:n].astype(str).values).any(axis=1)
                idx = neq.nonzero()[0][:3] if neq.any() else []
                for i in idx:
                    print("  spark :", s_sorted.iloc[i].to_dict())
                    print("  oracle:", o_sorted.iloc[i].to_dict())
    spark.stop()
    if failures:
        print("FAILURES:", [f[0] for f in failures])
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
