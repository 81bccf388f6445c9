"""Stream-vs-batch equivalence for the violation-streak operator at
table scale (VERDICT r4 advice #3).

The sf0.01 events table (10k rows, every user spanning many Arrow
chunks) is drained through the REAL ``applyInPandasWithState`` operator
as a multi-trigger file stream with adversarial intra-batch order, and
the final per-key state is diffed — field for field — against the
DuckDB-oracled batch analog ``violation_streaks_batch`` on the same
input.  The r3 chunk-ordering bug lived exactly on this seam
(the streaming operator's materialize-then-sort); small in-test corpora can miss
chunk-boundary bugs that only appear when a key's rows straddle many
chunks in one trigger.

Stream contract honored by the harness: WITHIN a trigger rows may
arrive in any order (the operator sorts); ACROSS triggers time must
move forward (trigger order is stream order) — so files are split on
contiguous ts ranges but shuffled internally.

The streaming operator lives here, not in the product: the engine runs
no streaming queries, and this ``applyInPandasWithState`` formulation
of the streak state machine is the oracle the batch operator is diffed
against.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("invalid_rows", T.LongType()),
    T.StructField("streak", T.LongType()),
    T.StructField("quarantined", T.BooleanType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("rows", T.LongType()),
    T.StructField("invalid_rows", T.LongType()),
    T.StructField("streak", T.LongType()),
    T.StructField("quarantined", T.BooleanType()),
])


def violation_streaks(
    validated: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    valid_col: str = "valid",
    quarantine_after: int = 3,
) -> DataFrame:
    """``validated`` (a streaming DataFrame with ``valid_col``) → one
    update row per key per trigger with the running streak state.

    Rows are ordered by ``ts_col`` INSIDE each micro-batch — the whole
    group is materialized and sorted once (a key's rows can span several
    Arrow chunks whose relative order is arbitrary shuffle order, so
    per-chunk sorting would be wrong); cross-batch order is the stream's
    trigger order, as with any stateful streaming operator."""

    def track(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            rows, invalid, streak, quarantined = state.get
        else:
            rows, invalid, streak, quarantined = 0, 0, 0, False
        # A key's rows within one micro-batch can span multiple Arrow
        # chunks (default ~10k rows each) and chunk-to-chunk order is
        # arbitrary shuffle order — sorting each chunk independently
        # would compute the streak in wrong row order for keys with
        # >1 chunk per trigger.  Materialize the whole group, sort once.
        chunks = list(pdfs)
        group = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(group):
            group = group.sort_values(ts_col)
            # NULL valid ≡ NOT valid — same coalesce-to-False semantic
            # as violation_streaks_batch (None arrives as object-dtype
            # None or float NaN depending on the Arrow path; both must
            # read invalid, and bare NaN is truthy, so normalize)
            for ok in group[valid_col].to_numpy():
                rows += 1
                if ok is not None and ok == ok and bool(ok):
                    streak = 0
                else:
                    invalid += 1
                    streak += 1
                    if streak >= quarantine_after:
                        quarantined = True
        state.update((int(rows), int(invalid), int(streak), bool(quarantined)))
        yield pd.DataFrame([{
            "key": key[0], "rows": rows, "invalid_rows": invalid,
            "streak": streak, "quarantined": quarantined,
        }])

    return (
        validated.select(key_col, ts_col, valid_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            track,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )



def test_streaks_stream_equals_batch_10k(spark, tmp_path):
    from jesse_spark.streaming.stateful import violation_streaks_batch

    ev = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select(
            "event_id", "ts",
            F.col("user_id").cast("string").alias("user_id"),
            # valid = "not an error event", with injected NULL verdicts
            # (event_id % 97 == 0) to exercise the NULL ≡ invalid
            # coalesce on BOTH paths
            F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("boolean"))
            .otherwise(~F.col("event_type").eqNullSafe(F.lit("error")))
            .alias("valid"),
        )
    )
    n_total = ev.count()
    assert n_total >= 10_000, n_total
    # ts-only ordering must be total per key, else stream (stable sort)
    # and batch (arbitrary SQL tie order) could legitimately differ
    assert ev.groupBy("user_id", "ts").count().filter("count > 1").count() == 0

    # ---- batch truth -----------------------------------------------------
    batch = {r["key"]: (r["rows"], r["invalid_rows"], r["streak"],
                        r["quarantined"])
             for r in violation_streaks_batch(
                 ev, key_col="user_id", ts_col="ts", valid_col="valid",
                 quarantine_after=3).collect()}

    # ---- adversarial stream layout ---------------------------------------
    # 6 contiguous ts slices (cross-trigger time moves forward), each
    # internally SHUFFLED (intra-trigger order is arbitrary); one file
    # per slice, appended in order so FileStreamSource (oldest mtime
    # first, maxFilesPerTrigger=1) replays them as 6 micro-batches
    src = str(tmp_path / "events_stream")
    sliced = ev.withColumn("_slice", F.ntile(6).over(Window.orderBy("ts")))
    for i in range(1, 7):
        (sliced.filter(F.col("_slice") == i).drop("_slice")
         .orderBy(F.hash("event_id"))       # shuffle within the slice
         .coalesce(1).write.mode("append").parquet(src))
        time.sleep(0.05)                    # distinct mtimes → file order

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                          "10000")
    # 73-row chunks: every key's per-trigger rows straddle many chunks
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "73")
    try:
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        streaks = violation_streaks(
            stream, key_col="user_id", ts_col="ts", valid_col="valid",
            quarantine_after=3)
        q = (streaks.writeStream.format("memory")
             .queryName("streak_equiv_10k").outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        # update-mode memory sink keeps one row per key per trigger;
        # `rows` grows monotonically, so max(rows) row == final state
        final: dict = {}
        for r in spark.sql("select * from streak_equiv_10k").collect():
            cur = final.get(r["key"])
            if cur is None or r["rows"] > cur[0]:
                final[r["key"]] = (r["rows"], r["invalid_rows"], r["streak"],
                                   r["quarantined"])
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    assert set(final) == set(batch)
    diffs = {k: (final[k], batch[k]) for k in batch if final[k] != batch[k]}
    assert not diffs, f"{len(diffs)} keys diverge: {dict(list(diffs.items())[:5])}"
    assert sum(v[0] for v in final.values()) == n_total
