"""Local mimic of the driver's correctness gate: run every registered query
on Spark and its oracle on DuckDB over the same parquet tables, compare
row-count + column names + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from epss_spark import registry
from epss_spark.schemas import TABLE_NAMES
from epss_spark.session import get_spark


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import datetime as dt

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        elif str(df[c].dtype) == "object":
            sample = df[c].dropna().head(1)
            if len(sample) and isinstance(sample.iloc[0], (dt.date, dt.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").dt.strftime(
                    "%Y-%m-%dT%H:%M:%S.%f"
                )
            else:
                df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    a, b = normalize(spark_pdf.copy()), normalize(duck_pdf.copy())
    for c in a.columns:
        if str(a[c].dtype).startswith("float"):
            ok = ((a[c].isna() & b[c].isna()) | (a[c] == b[c])).all()
            if not ok:
                diff = (a[c] - b[c]).abs().max()
                exact_frac = float((a[c] == b[c]).mean())
                problems.append(
                    f"col {c}: float mismatch, max|Δ|={diff!r}, exact_frac={exact_frac:.4f}"
                )
        else:
            if not a[c].equals(b[c]):
                neq = (a[c].astype(str) != b[c].astype(str)).sum()
                ex = a.loc[a[c].astype(str) != b[c].astype(str), c].head(3).tolist()
                exb = b.loc[a[c].astype(str) != b[c].astype(str), c].head(3).tolist()
                problems.append(f"col {c}: {neq} rows differ, e.g. {ex} vs {exb}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duck_con(sf_dir)
    queries, oracles = registry.get_queries(), registry.get_oracles()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only), rows={len(sdf)} [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"   - {p}")
            failed.append(name)
        else:
            print(f"OK   {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall green")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
