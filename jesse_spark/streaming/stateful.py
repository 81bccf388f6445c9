"""Per-key violation streaks over a validated table.

A *consecutive-invalid streak* is the canonical order-dependent check:
whether a key is quarantined depends on the ORDER of its rows, which no
plain groupBy aggregate carries.  :func:`violation_streaks_batch`
computes it with windows and one aggregation.  The engine runs no
streaming queries (SURVEY.md §2.5: resumability comes from snapshot
pinning and per-partition checkpoint manifests); the tests keep an
``applyInPandasWithState`` formulation of the same state machine as
this operator's stream-vs-batch oracle.

State per key: (rows, invalid_rows, streak, quarantined).  A key whose
streak of invalid rows reaches ``quarantine_after`` is flagged
quarantined and stays flagged (sticky) — the upstream feed for that
key needs human attention even if later rows recover.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def violation_streaks_batch(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    valid_col: str = "valid",
    tiebreak_cols: tuple[str, ...] = (),
    quarantine_after: int = 3,
) -> DataFrame:
    """Sticky-quarantine streak verdicts per key over a complete,
    static table, as plain windows + one aggregation (no Python in the
    plan).

    Per-row streak via running sums (no islands sub-grouping): with
    ``s`` = cumulative invalid count in ts order and ``m`` = running
    max of ``s`` AT valid rows, the consecutive-invalid streak ending
    at an invalid row is ``s - coalesce(m, 0)`` (the invalid rows since
    the last valid one), and 0 at a valid row.  Then one groupBy(key):
    ``quarantined`` iff max(streak) >= quarantine_after (the sticky
    flag) and ``streak`` = the LAST row's value (max_by ts).

    Scale: the window's hash partitioning on the key satisfies the
    final aggregation's distribution, so the whole plan runs in ONE
    shuffle (asserted structurally in tests/test_plans.py).
    ``tiebreak_cols`` makes the order total when ``ts_col`` can tie
    (pass the event id).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # NULL valid ≡ NOT valid (a row whose verdict is unknown continues
    # the streak) — coalesced here AND in the tests' streaming oracle
    # so both share one semantic instead of the sum/when split a raw
    # NULL would produce (counted by neither branch).
    valid = F.coalesce(F.col(valid_col), F.lit(False))
    invalid_l = (~valid).cast("long")
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w_cum = (Window.partitionBy(key_col).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = (
        df.select(key_col, ts_col, valid_col, *tiebreak_cols)
        .withColumn("_s", F.sum(invalid_l).over(w_cum))
        .withColumn("_m", F.max(F.when(valid, F.col("_s"))).over(w_cum))
        .withColumn("_streak", F.when(valid, F.lit(0))
                    .otherwise(F.col("_s") - F.coalesce(F.col("_m"),
                                                        F.lit(0))))
    )
    last = F.struct(*order)
    return (
        base.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(invalid_l).alias("invalid_rows"),
            F.max_by("_streak", last).alias("streak"),
            (F.max("_streak") >= quarantine_after).alias("quarantined"),
        )
        .withColumnRenamed(key_col, "key")
    )
