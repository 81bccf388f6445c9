"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (df.round(6).astype(str)
            .sort_values(by=list(df.columns)).reset_index(drop=True))


def main() -> int:
    from jesse_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"FAIL {name}: spark error {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as exc:
            failures.append((name, f"ORACLE ERROR: {exc}"))
            print(f"FAIL {name}: oracle error {exc}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"columns {list(got.columns)} vs {list(exp.columns)}"))
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            continue
        g, e = canon(got), canon(exp)
        if not g.equals(e):
            diff = (g != e).any(axis=1)
            failures.append((name, "values"))
            print(f"FAIL {name}: value mismatch, first diffs:")
            print(pd.concat([g[diff].head(3), e[diff].head(3)], keys=["got", "exp"]))
            continue
        print(f"ok   {name}: {len(got)} rows match")
    spark.stop()
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
