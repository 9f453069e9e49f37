"""Driver-mimicking correctness check: run every __spark_entry__.queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as entry_mod
    from metadata_reconciliation_tool_spark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check, no oracle)")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            failures.append(name)
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            failures.append(name)
            continue
        if len(s) != len(o):
            print(f"FAIL  {name}: rows {len(s)} vs {len(o)}")
            failures.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, rtol=0, atol=0)
            print(f"OK    {name}: {len(s)} rows")
        except AssertionError as e:
            print(f"FAIL  {name}: value mismatch: {str(e)[:300]}")
            failures.append(name)
    print(f"\n{len(qs) - len(failures)}/{len(qs)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
