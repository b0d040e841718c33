"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from financial_knowledge_graphs_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            # Decimal objects, timestamps, strings → canonical string
            df[c] = df[c].map(lambda v: None if v is None else str(float(v)) if _is_num(v) else str(v))
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _is_num(v) -> bool:
    import decimal

    return isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entry.queries()
    if only - set(qs):
        print(f"not registered: {sorted(only - set(qs))}")
        return 1
    spark = get_spark("oracle-check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"{name}: NO ORACLE")
            failures += 1
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            ddf = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        a, b = canon(sdf), canon(ddf)
        if list(a.columns) != list(b.columns):
            print(f"{name}: SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}")
            failures += 1
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_cols = [c for c in a.columns if neq[c].any()]
            print(f"{name}: VALUE MISMATCH in {bad_cols} ({int(neq.any(axis=1).sum())} rows)")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"   e.g. col={c} row={idx}: spark={a[c][idx]!r} duck={b[c][idx]!r}")
            failures += 1
            continue
        print(f"{name}: OK ({len(a)} rows)")
    total = len(only or qs)
    print(f"{total - failures}/{total} OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
