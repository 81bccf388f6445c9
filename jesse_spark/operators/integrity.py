"""Referential integrity — jesse's $ref (#30) generalized to tables.

A ``$ref`` to a reference table is a semi join (valid rows) / anti join
(violations) on the key (SURVEY.md §2.3 #30).  Dimension sides below a
size threshold are explicitly broadcast — at 100 TB the fact side must
never shuffle for a 3-row codec table; for genuinely large reference
sides Spark falls back to a shuffled sort-merge join and AQE converts
back to broadcast at runtime when the built side turns out small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _maybe_broadcast(ref: DataFrame, broadcast_ref: bool) -> DataFrame:
    return F.broadcast(ref) if broadcast_ref else ref


def ri_valid(df: DataFrame, key: str, ref: DataFrame, ref_key: str | None = None,
             *, broadcast_ref: bool = True,
             distinct_ref: bool = True) -> DataFrame:
    """``distinct_ref=False`` skips the pre-dedup shuffle of the
    reference keys — semantically free for a semi join (EXISTS), and
    the right call when the ref key is a primary key: the dedup only
    pays off when the reference side carries many duplicate keys into
    a shuffled join (r6)."""
    ref_key = ref_key or key
    r = ref.select(F.col(ref_key).alias(key))
    if distinct_ref:
        r = r.distinct()
    return df.join(_maybe_broadcast(r, broadcast_ref), on=key, how="left_semi")


def ri_violations(df: DataFrame, key: str, ref: DataFrame, ref_key: str | None = None,
                  *, broadcast_ref: bool = True) -> DataFrame:
    """Rows of ``df`` whose ``key`` has no match in ``ref``.  The
    reference keys are not deduplicated: an anti join's result does not
    depend on duplicate build keys."""
    ref_key = ref_key or key
    r = _maybe_broadcast(ref.select(F.col(ref_key).alias(key)), broadcast_ref)
    return df.join(r, on=key, how="left_anti")


def ri_violation_rows(df: DataFrame, key: str, ref: DataFrame,
                      ref_key: str | None = None, *, id_col: str = "clip_id",
                      broadcast_ref: bool = True) -> DataFrame:
    """Orphan rows in jesse's violation shape; the RI failure reuses the
    'schema_not_found' code — the $ref target does not exist
    (jesse_database.erl:109-125 throw; FIXTURES.md §1.2)."""
    return ri_violations(df, key, ref, ref_key, broadcast_ref=broadcast_ref).select(
        F.col(id_col),
        F.lit("schema_not_found").alias("constraint"),
        F.lit(f"/{key}").alias("path"),
        F.col(key).cast("string").alias("observed"),
    )
