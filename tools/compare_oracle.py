"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs each __spark_entry__.queries() entry and its oracle_sql() twin,
compares row count, column names, and order-insensitive values.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pdf_plumber_util_spark.session import get_spark

    spark = get_spark(app_name="compare_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(got)} rows")
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            failures += 1
            continue
        g, w = normalize(got), normalize(want)
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            bad_cols = [c for c in g.columns if neq[c].any()]
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"  first diff col={c} row={idx}: spark={g[c][idx]!r} duckdb={w[c][idx]!r}")
            failures += 1
            continue
        print(f"PASS {name}: {len(got)} rows, {len(got.columns)} cols")
    from pdf_plumber_util_spark.contract import clear_shared_lines

    clear_shared_lines()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
