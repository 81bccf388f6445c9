"""Focused oracle check: `python tools/check_some.py q1 q2 ...` runs the
named queries() entries against their DuckDB oracles on sf0.001, sf0.01
and sf0.1 (the driver's correctness SFs).  Exit 0 iff all match."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entrymod  # noqa: E402
from tools.check_oracles import canon  # noqa: E402

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def main() -> int:
    from jesse_spark.session import get_spark

    names = sys.argv[1:]
    spark = get_spark("oracle-some", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    rc = 0
    for sf in SFS:
        con = duckdb.connect()
        for t in entrymod.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
        for name in names:
            got = canon(qs[name](spark, sf).toPandas())
            exp = canon(con.sql(oracles[name]).df())
            if got.equals(exp):
                print(f"ok   {name} @ {sf} ({len(got)} rows)")
            else:
                rc = 1
                print(f"FAIL {name} @ {sf}: spark {len(got)} vs oracle {len(exp)}")
                print(got.head(5))
                print(exp.head(5))
        con.close()
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
