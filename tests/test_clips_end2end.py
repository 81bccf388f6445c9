"""Golden-output test: injected violations recovered exactly
(FIXTURES.md §1.2)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jesse_spark.plans.pipeline import run_full_suite
from jesse_spark.sources.fixtures import clips_df, codecs_df, expected_violations

N = 600


@pytest.fixture(scope="module")
def suite(spark):
    clips = clips_df(spark, N)
    return run_full_suite(clips, codecs_df(spark))


def test_goldens_recovered_exactly(suite):
    got = suite.violations.select("clip_id", "constraint", "path").toPandas()
    exp = expected_violations(N)
    gset = set(map(tuple, got.values.tolist()))
    eset = set(map(tuple, exp.values.tolist()))
    assert gset == eset, (sorted(eset - gset)[:5], sorted(gset - eset)[:5])


def test_verdicts_consistent(suite):
    v = suite.verdicts.agg(
        F.sum("rows").alias("rows"), F.sum("invalid_rows").alias("bad")).head()
    assert v["rows"] == N
    # invalid rows = rows with ≥1 row-level violation (kinds 0-4,6)
    exp_bad = len([i for i in range(N)
                   if (i % 50 == 7) and ((i // 50) % 8) in (0, 1, 2, 3, 4, 6)])
    assert v["bad"] == exp_bad


def test_clean_table_is_clean(spark):
    """A defect-free slice (indices with no injection) has zero violations."""
    clips = clips_df(spark, 7)   # rows 0-6: before the first injected defect
    res = run_full_suite(clips, codecs_df(spark))
    assert res.violations.count() == 0


def test_generation_deterministic(spark):
    a = clips_df(spark, 50).orderBy("clip_id").toPandas()
    b = clips_df(spark, 50, partitions=7).orderBy("clip_id").toPandas()
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------------
# compiled-suite memo: a repeated build reuses the compiled check Columns
# ---------------------------------------------------------------------------
@pytest.fixture
def compile_calls(monkeypatch):
    """An empty suite memo and a list that grows by one per
    compile_checks call the pipeline makes."""
    from jesse_spark.plans import pipeline

    calls = []
    real = pipeline.compile_checks

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(pipeline, "_suites", {})
    monkeypatch.setattr(pipeline, "compile_checks", counting)
    return calls


def _collected(res):
    viol = sorted(tuple(r) for r in res.violations.collect())
    verd = res.verdicts.agg(F.sum("rows"), F.sum("invalid_rows")).head()
    res.validated.unpersist()
    return viol, tuple(verd)


def test_suite_memo_hit_skips_compile(spark, compile_calls):
    clips = clips_df(spark, 120)
    first = _collected(run_full_suite(clips, codecs_df(spark)))
    assert len(compile_calls) == 1
    second = _collected(run_full_suite(clips_df(spark, 120), codecs_df(spark)))
    assert len(compile_calls) == 1, "same schema and input type must hit the memo"
    assert second == first


@pytest.mark.parametrize("change", ["compile_opts", "schema", "type", "nullability"])
def test_suite_memo_misses_on_any_key_change(spark, compile_calls, change):
    from pyspark.sql import types as T

    from jesse_spark.sources.fixtures import CLIPS_CONSTRAINT_SCHEMA, CLIPS_SCHEMA

    base = spark.createDataFrame([], CLIPS_SCHEMA)
    codecs = codecs_df(spark)
    run_full_suite(base, codecs, persist=False)
    run_full_suite(base, codecs, persist=False)
    assert len(compile_calls) == 1
    kw = {}
    clips = base
    if change == "compile_opts":
        kw["compile_opts"] = {"pattern_lint": False}
    elif change == "schema":
        kw["schema"] = {**CLIPS_CONSTRAINT_SCHEMA, "additionalProperties": True}
    elif change == "type":
        clips = base.withColumn("sr_hz", F.col("sr_hz").cast("long"))
    else:
        clips = spark.createDataFrame([], T.StructType([
            T.StructField(f.name, f.dataType, f.name != "clip_id")
            for f in base.schema]))
    run_full_suite(clips, codecs, persist=False, **kw)
    assert len(compile_calls) == 2, f"a changed {change} must recompile"
