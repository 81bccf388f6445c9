"""Table-level checks: stats / uniqueness / RI / drift / checkpoint."""

import pytest
from pyspark.sql import functions as F

from jesse_spark.operators.drift import categorical_psi, numeric_drift
from jesse_spark.operators.integrity import ri_violations
from jesse_spark.operators.stats import column_stats
from jesse_spark.operators.uniqueness import (
    approx_unique_stats,
    find_duplicates,
)
from jesse_spark.plans.checkpoint import (
    CheckpointManager,
    input_snapshot_id,
    shard_verdicts,
    with_shard,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_column_stats_single_pass(spark, lineitem):
    s = column_stats(lineitem, ["l_quantity", "l_discount"]).toPandas()
    assert set(s["column"]) == {"l_quantity", "l_discount"}
    q = s[s["column"] == "l_quantity"].iloc[0]
    assert q["rows"] == lineitem.count()
    assert q["null_rate"] == 0.0
    assert 1 <= q["min"] <= q["max"] <= 50
    assert len(q["quantiles"]) == 5


def test_uniqueness_two_phase(spark, lineitem):
    # l_orderkey repeats (multi-line orders) → phase 1 signals dups
    a = approx_unique_stats(lineitem, "l_orderkey").head()
    assert a["distinct_ratio"] < 0.9
    dups = find_duplicates(lineitem, "l_orderkey")
    exact = find_duplicates(lineitem, "l_orderkey", salted=True)
    assert dups.count() == exact.count() > 0
    # a genuinely-unique key has no duplicates
    orders = lineitem.sparkSession.read.parquet(f"{SF}/orders.parquet")
    assert find_duplicates(orders, "o_orderkey").count() == 0


def test_find_duplicates_salted_equals_plain(spark):
    """The salted path counts rows exactly like the plain one: a hot
    key, ordinary duplicates, and a NULL key repeated 3 times."""
    rows = ([("hot", i) for i in range(500)] + [("k1", 1), ("k1", 2)]
            + [("u1", 1), ("u2", 1)] + [(None, i) for i in range(3)])
    df = spark.createDataFrame(rows, "k string, v long")
    plain = sorted(find_duplicates(df, "k").collect(), key=str)
    salted = sorted(find_duplicates(df, "k", salted=True, salt_buckets=8).collect(),
                    key=str)
    assert plain == salted
    assert {r["k"]: r["dup_count"] for r in salted} == {"hot": 500, "k1": 2, None: 3}


def test_ri_joins(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    assert ri_violations(orders, "o_custkey", customer, "c_custkey").count() == 0
    half = customer.filter(F.col("c_custkey") % 2 == 0)
    orphans = ri_violations(orders, "o_custkey", half, "c_custkey")
    assert orphans.count() > 0
    plan = orphans._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # dim side must broadcast


def sketch_edges(df, col, bins=20):
    """Bin edges at the baseline's approximate quantiles."""
    probs = [i / bins for i in range(1, bins)]
    return sorted(set(df.stat.approxQuantile(col, probs, 0.001)))


def test_drift_identical_vs_shifted(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    edges = sketch_edges(a, "value")
    same = numeric_drift(a, b, "value", edges).head()
    # even/odd halves of ~3k rows each: sampling noise keeps PSI small
    assert same["psi"] < 0.1 and same["ks"] < 0.1
    assert same["bins"] == len(edges) + 1
    shifted = b.withColumn("value", F.col("value") * 3 + 100)
    diff = numeric_drift(a, shifted, "value", edges).head()
    assert diff["psi"] > 0.5 and diff["ks"] > 0.3
    assert categorical_psi(a, b, "event_type").head()["psi"] < 0.05
    assert categorical_psi(
        a, b.withColumn("event_type", F.lit("zzz")), "event_type").head()["psi"] > 1.0


def test_drift_value_on_edge_lands_in_upper_bin(spark):
    """Bins are left-closed like the oracle's ``CASE WHEN value < e``:
    a value equal to an edge counts in the bin above it.  KS and PSI
    equal the oracle SQL's on the same rows, run in DuckDB."""
    import duckdb

    import __spark_entry__ as E

    # side A (even event_id) sits exactly on every edge, side B just
    # above; a right-closed histogram would put A one bin lower
    side_a = [10.0, 10.0, 25.0, 50.0, 100.0, 200.0, 5.0, 300.0, 7.0]
    side_b = [10.5, 12.0, 30.0, 60.0, 150.0, 250.0, 5.0, 1.0, 2.0, 3.0]
    rows = ([(2 * i, v) for i, v in enumerate(side_a)]
            + [(2 * i + 1, v) for i, v in enumerate(side_b)])
    ev = spark.createDataFrame(rows, "event_id long, value double")
    got = numeric_drift(ev.filter(F.col("event_id") % 2 == 0),
                        ev.filter(F.col("event_id") % 2 == 1),
                        "value", [10, 25, 50, 100, 200]).head()
    con = duckdb.connect()
    con.register("events", ev.toPandas())
    (want_psi,), = con.execute(E._PSI_SQL).fetchall()
    (want_ks,), = con.execute(E._KS_SQL).fetchall()
    assert got["bins"] == 6
    assert int(got["ks"] * 1_000_000 + 0.5) == want_ks
    assert round(got["psi"], 4) == pytest.approx(want_psi, abs=1e-9)
    # the edge rows alone: identical bins on both sides → no drift
    on_edge = spark.createDataFrame([(v,) for v in (10.0, 25.0, 200.0)], "value double")
    above = spark.createDataFrame([(v,) for v in (24.9, 49.9, 300.0)], "value double")
    assert numeric_drift(on_edge, above, "value", [10, 25, 50, 100, 200]).head()["ks"] == 0.0


def test_numeric_drift_rejects_unsorted_edges(spark):
    df = spark.createDataFrame([(1.0,)], "value double")
    with pytest.raises(ValueError):
        numeric_drift(df, df, "value", [25, 10])
    with pytest.raises(ValueError):
        numeric_drift(df, df, "value", [])


def test_checkpoint_resume(spark, tmp_path, lineitem):
    snap = input_snapshot_id(spark, SF)
    cm = CheckpointManager(spark, str(tmp_path / "manifests"))
    df = with_shard(lineitem, "l_orderkey", 8)
    # nothing done yet → all rows pending
    assert cm.pending(df, "run1", snap).count() == df.count()
    # complete shards 0-3
    done = shard_verdicts(df.filter(F.col("_shard") < 4)
                          .withColumn("valid", F.lit(True)))
    cm.record("run1", snap, done.collect(), wall_sec=1.0)
    pending = cm.pending(df, "run1", snap)
    assert pending.count() == df.filter(F.col("_shard") >= 4).count()
    assert set(cm.completed_shards("run1", snap)) == {0, 1, 2, 3}
    # a different snapshot invalidates checkpoints
    assert cm.pending(df, "run1", "other-snap").count() == df.count()


def test_column_stats_empty_and_all_null(spark):
    """The KLL quantile path returns null quantiles (not
    KLL_INVALID_INPUT_SKETCH_BUFFER) for empty and all-null numeric
    columns — the sparse-data case a stats pass must report on."""
    import pyspark.sql.types as T

    from jesse_spark.operators.stats import column_stats

    empty = spark.createDataFrame([], T.StructType(
        [T.StructField("x", T.DoubleType())]))
    row = column_stats(empty, ["x"]).head()
    assert row["rows"] == 0 and row["quantiles"] is None
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    row = column_stats(nulls, ["x"]).head()
    assert row["non_null"] == 0 and row["quantiles"] is None
    with pytest.raises(ValueError):
        column_stats(nulls, ["x"], sketch="bogus")


def test_sketch_quantiles_null_sketch(spark):
    from jesse_spark.operators.stats import (
        quantile_sketches,
        sketch_quantiles,
    )
    import pyspark.sql.types as T

    empty = spark.createDataFrame([], T.StructType(
        [T.StructField("x", T.DoubleType())]))
    out = sketch_quantiles(quantile_sketches(empty, ["x"]), ["x"]).head()
    assert out["x"] is None


def test_sketch_quantiles_mixed_columns_batched(spark):
    """A live, an all-null, and an empty-sketch column evaluate
    correctly together — and in a BOUNDED number of Spark jobs (2, not
    2-per-column; ADVICE r4 #5)."""
    from jesse_spark.operators.stats import (
        quantile_sketches,
        sketch_quantiles,
    )

    df = spark.createDataFrame(
        [(1.0, None, 10.0, 5.0), (2.0, None, 20.0, 5.0),
         (3.0, None, 30.0, 5.0), (4.0, None, 40.0, 5.0)],
        "x double, y double, z double, w double")
    cols = ["x", "y", "z", "w"]
    # materialize the sketch row first so the measured window contains
    # ONLY sketch_quantiles' own jobs (collect + n-eval + quantile-eval)
    sk = quantile_sketches(df, cols).cache()
    sk.count()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out_df = sketch_quantiles(sk, cols, (0.5, 1.0))
    jobs = len(tracker.getJobIdsForGroup(None) or []) - before
    out = out_df.head()
    assert list(out["x"]) == [2.0, 4.0]   # inclusive rank: cd>=0.5 -> 2.0
    assert out["y"] is None               # all-null -> empty sketch
    assert list(out["z"]) == [20.0, 40.0]
    assert list(out["w"]) == [5.0, 5.0]
    # r6: 1 collect + 1 get_quantile job — emptiness is decided from
    # the serialized sketch length (8 preamble bytes ⟺ n == 0), so the
    # get_n probe job is gone
    assert jobs <= 2, jobs
    sk.unpersist()


def test_kll_empty_sketch_is_exactly_8_bytes(spark):
    """Pins the serialized-length emptiness rule sketch_quantiles now
    relies on: an empty KLL double sketch is exactly the 8 preamble
    bytes; any n >= 1 sketch is longer (16 for single-item)."""
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id").cast("double").alias("x"),
        F.lit(None).cast("double").alias("y"))
    row = df.agg(F.kll_sketch_agg_double("x").alias("x"),
                 F.kll_sketch_agg_double("y").alias("y")).head()
    assert len(bytes(row["y"])) == 8
    assert len(bytes(row["x"])) > 8
    one = df.filter("id = 3").agg(
        F.kll_sketch_agg_double("x").alias("s")).head()
    assert len(bytes(one["s"])) == 16
