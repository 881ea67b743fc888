"""Driver-style correctness harness: run every queries() entry on Spark and
its oracle_sql() on DuckDB at the given sf dir; compare row count, schema
width, and order-insensitive values. Usage: python tools/check_oracle.py
[sf_dir] [only_query ...]
"""

import os
import sys

import duckdb
import pandas as pd

# the checkout this tool sits in, so each checkout checks its own library
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from light_splade_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(6)
        elif "bool" in str(df[c].dtype):
            df[c] = df[c].astype(bool)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(got)} rows")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=False, atol=1e-6)
            print(f"PASS {name}: {len(g)} rows")
        except AssertionError as ex:
            failures.append(name)
            print(f"FAIL {name}: values differ: {str(ex)[:400]}")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
