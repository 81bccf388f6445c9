"""Property-based tests (hypothesis) — the engine analog of the
reference's PropEr suite (test/prop_get_equal.erl:7-12 with the
recursive JSON generator test/proper_json.erl:10-49).

Spark jobs are too slow per-example, so each property draws a BATCH of
random instances, ships them through the engine in one DataFrame, and
checks every verdict against an independent pure-Python evaluation."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from jesse_spark.variant_compiler import compile_variant_pred

# recursive JSON generator (scalars → arrays/objects), like proper_json.erl
json_scalar = st.one_of(
    st.none(), st.booleans(),
    st.integers(min_value=-10**6, max_value=10**6),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=12),
)
json_value = st.recursive(
    json_scalar,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=6), children, max_size=4)),
    max_leaves=8,
)


def _norm(v):
    """jesse_lib normalize: numbers to float (1 == 1.0),
    order-sensitive canonical form otherwise (our documented object
    deviation is irrelevant here: equality of a value with itself)."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return ("n", float(v))
    if isinstance(v, list):
        return ("a", tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("o", tuple((k, _norm(x)) for k, x in v.items()))
    return ("s", v) if isinstance(v, str) else ("z",)


def _run_batch(spark, schema: dict, instances: list) -> list[bool]:
    df = spark.createDataFrame([(json.dumps(x),) for x in instances], "j string")
    pred = compile_variant_pred(schema, draft=6)
    rows = df.select(
        F.coalesce(pred(F.parse_json(F.col("j"))), F.lit(False)).alias("ok")
    ).collect()
    return [r["ok"] for r in rows]


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(json_scalar, max_size=5), min_size=1, max_size=12))
def test_unique_items_matches_reference_equality(spark, arrays):
    """uniqueItems verdict == pairwise distinctness under jesse's
    normalized equality (numbers value-compared)."""
    got = _run_batch(spark, {"uniqueItems": True}, arrays)
    for arr, ok in zip(arrays, got):
        norm = [_norm(x) for x in arr]
        expected = len(set(norm)) == len(norm)
        assert ok == expected, (arr, ok, expected)


@settings(max_examples=8, deadline=None)
@given(st.lists(json_scalar, min_size=1, max_size=8),
       st.lists(json_scalar, min_size=1, max_size=8))
def test_enum_membership(spark, enum_vals, probes):
    got = _run_batch(spark, {"enum": enum_vals}, probes)
    enorm = {_norm(v) for v in enum_vals}
    for p, ok in zip(probes, got):
        assert ok == (_norm(p) in enorm), (p, enum_vals, ok)


@settings(max_examples=6, deadline=None)
@given(st.lists(json_value, min_size=1, max_size=8))
def test_type_dispatch_total(spark, values):
    """Every JSON value has exactly one primitive type (draft6 counts
    zero-fraction numbers as integer too — allowed overlap)."""
    types = ["null", "boolean", "integer", "number", "string", "array", "object"]
    results = {}
    for t in types:
        results[t] = _run_batch(spark, {"type": t}, values)
    for i, v in enumerate(values):
        matched = {t for t in types if results[t][i]}
        if isinstance(v, bool):
            assert matched == {"boolean"}
        elif isinstance(v, int) or (isinstance(v, float) and v == int(v)):
            assert matched == {"integer", "number"}, (v, matched)
        elif isinstance(v, float):
            assert matched == {"number"}, (v, matched)
        elif v is None:
            assert matched == {"null"}
        elif isinstance(v, str):
            assert matched == {"string"}
        elif isinstance(v, list):
            assert matched == {"array"}
        else:
            assert matched == {"object"}


def test_drift_zero_on_identical_distribution(spark):
    """KS/PSI ≈ 0 when both sides draw from the same distribution."""
    from jesse_spark.operators.drift import numeric_drift

    df = spark.range(20000).select(
        (F.hash(F.col("id")) % 1000).alias("x").cast("double"))
    a = df.filter(F.col("id") % 2 == 0)
    b = df.filter(F.col("id") % 2 == 1)
    edges = sorted(set(a.stat.approxQuantile("x", [i / 20 for i in range(1, 20)], 0.001)))
    d = numeric_drift(a, b, "x", edges).head()
    assert d["ks"] < 0.05 and abs(d["psi"]) < 0.05


def test_quantile_sketch_error_bound(spark):
    """Both quantile engines (KLL default, percentile_approx fallback)
    land within rank-error bounds on a known uniform distribution
    (KLL k=200 guarantees ~1.7% rank error; observed well under)."""
    from jesse_spark.operators.stats import column_stats

    df = spark.range(100000).select(F.col("id").cast("double").alias("x"))
    for engine, bound in (("kll", 0.02), ("gk", 0.01)):
        s = column_stats(df, ["x"], sketch=engine).head()
        for q, est in zip((0.25, 0.5, 0.75, 0.95, 0.99), s["quantiles"]):
            assert abs(est / 100000 - q) < bound, (engine, q, est)


def test_kll_sketches_merge_across_shards(spark):
    """The resumable-checkpoint quantile path: per-shard KLL sketches
    merged WITHOUT rescanning data yield the same quantiles (within
    rank error) as one sketch over the full table."""
    from jesse_spark.operators.stats import (
        merge_quantile_sketches,
        quantile_sketches,
        sketch_quantiles,
    )

    df = spark.range(100000).select(F.col("id").cast("double").alias("x"))
    shards = [df.filter((F.col("x") % 4) == i) for i in range(4)]
    per_shard = shards[0].transform(lambda d: quantile_sketches(d, ["x"]))
    for sh in shards[1:]:
        per_shard = per_shard.union(quantile_sketches(sh, ["x"]))
    merged_q = sketch_quantiles(
        merge_quantile_sketches(per_shard, ["x"]), ["x"]).head()["x"]
    for q, est in zip((0.25, 0.5, 0.75, 0.95, 0.99), merged_q):
        assert abs(est / 100000 - q) < 0.02, (q, est)


def _shuffle_keys(v, rng):
    """Recursively reorder object keys (arrays keep order) — the
    prop_get_equal.erl property: normalize_and_sort preserves is_equal
    for arbitrary JSON."""
    if isinstance(v, dict):
        keys = list(v.keys())
        rng.shuffle(keys)
        return {k: _shuffle_keys(v[k], rng) for k in keys}
    if isinstance(v, list):
        return [_shuffle_keys(x, rng) for x in v]
    return v


@settings(max_examples=8, deadline=None)
@given(st.lists(json_value, min_size=1, max_size=6), st.randoms())
def test_deep_equality_key_order_invariant(spark, values, rng):
    """const against a recursively key-shuffled copy of the same value
    is always a match (order-insensitive object equality,
    jesse_lib.erl:218-261); uniqueItems flags [v, shuffled(v)] as dup."""
    pairs = [(v, _shuffle_keys(v, rng)) for v in values]
    # const: shuffled instance still equals the original literal
    oks = []
    for orig, shuf in pairs:
        pred = compile_variant_pred({"const": orig}, draft=6)
        one = spark.createDataFrame([(json.dumps(shuf),)], "j string")
        oks.append(one.select(
            F.coalesce(pred(F.parse_json(F.col("j"))), F.lit(False)).alias("ok")
        ).head()["ok"])
    assert all(oks), [p for p, ok in zip(pairs, oks) if not ok]
    # uniqueItems: [v, shuffled(v)] is a duplicate pair
    dup_arrays = [[v, s] for v, s in pairs]
    got = _run_batch(spark, {"uniqueItems": True}, dup_arrays)
    assert not any(got), [a for a, ok in zip(dup_arrays, got) if ok]


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 3),          # key
              st.booleans()),             # valid flag
    min_size=1, max_size=60))
def test_streaks_batch_matches_python_reference(spark, rows):
    """violation_streaks_batch (gaps-and-islands windows) equals the
    obvious sequential per-key fold for arbitrary interleavings of
    keys and validity flags."""
    from jesse_spark.streaming.stateful import violation_streaks_batch

    # sequential reference: the streaming operator's per-key fold
    ref: dict[int, list] = {}
    for i, (k, ok) in enumerate(rows):
        r = ref.setdefault(k, [0, 0, 0, False])  # rows, invalid, streak, q
        r[0] += 1
        if ok:
            r[2] = 0
        else:
            r[1] += 1
            r[2] += 1
            if r[2] >= 3:
                r[3] = True

    df = spark.createDataFrame(
        [(i, k, ok) for i, (k, ok) in enumerate(rows)],
        "ts long, k long, ok boolean")
    got = {r["key"]: r for r in violation_streaks_batch(
        df, key_col="k", ts_col="ts", valid_col="ok",
        quarantine_after=3).collect()}
    assert set(got) == set(ref)
    for k, (n, inv, streak, q) in ref.items():
        g = got[k]
        assert (g["rows"], g["invalid_rows"], g["streak"],
                g["quarantined"]) == (n, inv, streak, q), (k, rows)
