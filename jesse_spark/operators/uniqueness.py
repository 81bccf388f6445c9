"""Key uniqueness — jesse's uniqueItems (#20) generalized to a table key.

jesse runs a cheap O(n) set-cardinality check and only on mismatch the
O(n²) scan that identifies the duplicate
(jesse_validator_draft4.erl:837-873).  The table-scale analog keeps the
same two-phase shape:

1. **approx phase** (no shuffle of raw keys): one aggregate computing
   ``count`` vs ``approx_count_distinct`` (HLL++).  If approx_distinct
   is far below count, duplicates certainly exist; if it's within HLL
   error, the answer is "probably unique" — cheap early signal.
2. **exact phase**: hash-partitioned ``groupBy(key).count > 1``.
   Partial (map-side) aggregation means each executor emits at most one
   row per distinct key per partition, so the shuffle carries ~distinct
   keys, not ~rows.  Skewed hot keys are split by AQE; for adversarial
   skew (one key = half the table) the salted variant runs
   :func:`~jesse_spark.operators.skew.salted_group_agg`, which
   aggregates ``(key, salt)`` first, then ``key``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jesse_spark.operators.skew import salted_group_agg


def approx_unique_stats(df: DataFrame, key: str, *, rsd: float = 0.02) -> DataFrame:
    """Phase 1: single-row aggregate (count, approx_distinct, ratio)."""
    return df.agg(
        F.count(F.col(key)).alias("cnt"),
        F.approx_count_distinct(F.col(key), rsd).alias("approx_distinct"),
    ).select(
        "cnt",
        "approx_distinct",
        (F.col("approx_distinct") / F.col("cnt")).alias("distinct_ratio"),
    )


def find_duplicates(df: DataFrame, key: str, *, salted: bool = False,
                    salt_buckets: int = 64) -> DataFrame:
    """Phase 2: exact duplicate keys ``(key, dup_count)``.

    salted=True pre-aggregates on (key, salt) to split a pathological
    hot key across salt_buckets reducers before the final combine
    (SURVEY.md §4 custom item 2).  Both count rows, a NULL key's too."""
    if not salted:
        counts = df.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias("dup_count"))
    else:
        # salted_group_agg counts column values: count a non-null literal
        counts = salted_group_agg(
            df.select(F.col(key), F.lit(1).alias("_row")), key, {"_row": "count"},
            salt_buckets=salt_buckets).withColumnRenamed("_row_count", "dup_count")
    return counts.filter(F.col("dup_count") > 1)


def uniqueness_violations(df: DataFrame, key: str, **kw) -> DataFrame:
    """Duplicate keys as jesse-style violation rows
    (constraint 'not_unique' — jesse_schema_validator.hrl:132)."""
    return find_duplicates(df, key, **kw).select(
        F.col(key).alias("clip_id") if key != "clip_id" else F.col(key),
        F.lit("not_unique").alias("constraint"),
        F.lit(f"/{key}").alias("path"),
        F.col("dup_count").cast("string").alias("observed"),
    )
