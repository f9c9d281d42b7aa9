"""Local twin of the driver's correctness gate: run each entry query on
Spark and its oracle on DuckDB, compare row count + sorted-column value
frame (order-insensitive).  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype("float64").round(6)
        else:
            try:
                df[c] = pd.to_numeric(df[c], downcast=None).astype("int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, ".")
    from mmore_spark.entryqueries import ORACLE, QUERIES, TABLES
    from mmore_spark.session import get_spark

    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", master="local[8]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are directories of part files (e.g. the
        # generated sf1.0); the driver's testdata are single files
        src = f"{p}/*.parquet" if os.path.isdir(os.path.realpath(p)) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        try:
            odf = con.sql(ORACLE[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rows spark={len(sdf)} duck={len(odf)}")
            failures += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                          rtol=0, atol=1e-9)
        except AssertionError as e:
            print(f"FAIL  {name}: {str(e)[:400]}")
            failures += 1
            continue
        print(f"ok    {name}: rows={len(sdf)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
