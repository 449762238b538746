#!/usr/bin/env python
"""Local Spark-vs-DuckDB oracle parity gate — mirrors the driver's
CORRECTNESS check: row count + column names + order-insensitive values.

Usage: python scripts/check_oracle.py [--sf-dir DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    """pandas frame -> canonical sorted form for order-insensitive compare."""
    import pandas as pd

    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(9)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def mismatch(sdf, odf) -> str | None:
    """Why the Spark frame ``sdf`` differs from the oracle frame ``odf``
    (column names, row count, then order-insensitive values), or None."""
    s, o = normalize(sdf), normalize(odf)
    if list(s.columns) != list(o.columns):
        return f"column mismatch {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"row count {len(s)} vs {len(o)}"
    if not s.equals(o):
        bad = (s != o).any(axis=1)
        return (f"{int(bad.sum())} differing rows\n"
                f"  spark: {s[bad].head(3).to_dict('records')}\n"
                f"  oracle: {o[bad].head(3).to_dict('records')}")
    return None


def query_line(ok: bool, name: str, detail: str, spark_s: float,
               oracle_s: float | None = None) -> str:
    """One per-query result line. Spark's seconds (plan + collect) and the
    DuckDB oracle's seconds are timed apart and printed apart, so a slow
    oracle is not read as a slow Spark query. The times come before the
    detail, which may run over several lines."""
    times = f"spark {spark_s:.1f}s"
    if oracle_s is not None:
        times += f", oracle {oracle_s:.1f}s"
    return f"{'ok  ' if ok else 'FAIL'} {name} [{times}]: {detail}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import duckdb

    from pii_spark.queries import ORACLES, QUERIES
    from pii_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    only = {n for n in args.only.split(",") if n}
    failures = []
    ran = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(query_line(False, name, f"spark error: {str(e)[:500]}",
                             time.time() - t0))
            continue
        spark_s = time.time() - t0
        if name not in ORACLES:
            print(query_line(True, name, f"rows-only, {len(sdf)} rows",
                             spark_s))
            if len(sdf) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        t0 = time.time()
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(query_line(False, name, f"duckdb error: {str(e)[:500]}",
                             spark_s, time.time() - t0))
            continue
        oracle_s = time.time() - t0
        why = mismatch(sdf, odf)
        if why is not None:
            failures.append((name, why))
            print(query_line(False, name, why, spark_s, oracle_s))
            continue
        print(query_line(True, name, f"{len(sdf)} rows match", spark_s,
                         oracle_s))

    spark.stop()
    print(f"\n{ran - len(failures)}/{ran} queries pass")
    if failures:
        for n, msg in failures:
            print(f"  FAILED {n}: {msg[:300]}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
