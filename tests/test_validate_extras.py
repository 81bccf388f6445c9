"""allowed_errors budget + per-element array violation paths."""

from pyspark.sql import functions as F

from jesse_spark.compiler import compile_checks
from jesse_spark.plans.validate import array_violation_rows, with_violations


def test_allowed_errors_budget(spark):
    # one row violating 3 keywords; budget 1 keeps 2 violations (proof
    # of exceedance, jesse_error.erl:71-78)
    df = spark.createDataFrame([("XX", -5)], "name string, n int")
    schema = {"type": "object", "properties": {
        "name": {"type": "string", "minLength": 5, "pattern": "^[a-z]+$"},
        "n": {"type": "integer", "minimum": 0},
    }}
    checks = compile_checks(schema, df.schema, null_is_absent=True)
    full = with_violations(df, checks).head()
    assert len(full["violations"]) == 3
    capped = with_violations(df, checks, allowed_errors=1).head()
    assert len(capped["violations"]) == 2
    assert not capped["valid"]


def test_array_violation_rows_have_indices(spark):
    df = spark.createDataFrame(
        [(1, [3, -1, 7, -9]), (2, [1, 2])], "id long, xs array<int>")
    rows = array_violation_rows(
        df, "xs", {"type": "integer", "minimum": 0}, ["id"]).collect()
    got = {(r["id"], r["path"], r["observed"]) for r in rows}
    assert got == {(1, "/xs/1", "-1"), (1, "/xs/3", "-9")}


def test_array_violation_rows_nested(spark):
    df = spark.createDataFrame(
        [(1, [{"v": 5}, {"v": -2}])],
        "id long, xs array<struct<v:int>>")
    rows = array_violation_rows(
        df, "xs", {"type": "object", "properties": {"v": {"minimum": 0}}},
        ["id"]).collect()
    assert [(r["path"], r["constraint"]) for r in rows] == [("/xs/1/v", "not_in_range")]


def test_variant_array_violation_rows_have_indices(spark):
    """Variant-mode per-element paths — jesse appends the array index
    (jesse_validator_draft4.erl:542-562)."""
    import json

    from jesse_spark.plans.validate import variant_array_violation_rows

    df = spark.createDataFrame(
        [(1, json.dumps([7, 3, "x"])), (2, json.dumps([9])),
         (3, json.dumps({"not": "array"}))],
        "id long, j string").select("id", F.parse_json("j").alias("xs"))
    rows = variant_array_violation_rows(
        df, "xs", {"type": "integer", "minimum": 5}, ["id"]).collect()
    got = {(r["id"], r["path"], r["constraint"]) for r in rows}
    assert got == {(1, "/xs/1", "not_in_range"), (1, "/xs/2", "wrong_type")}


def test_allowed_errors_with_anyof_oneof(spark):
    """Budget × combinator interplay — mirrors the reference regression
    corpus (test/jesse_tests_draft4_SUITE_data/extra/
    anyOfOneOfAllowedErrors*.json): the anyOf/oneOf VERDICT must be
    identical under any budget; the budget only caps how many violation
    structs are retained, never flips valid."""
    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "type": "object",
        "properties": {
            "any_v": {"anyOf": [{"enum": [0]}, {"enum": [0, 1]}]},
            "one_v": {"oneOf": [{"enum": [0]}, {"enum": [0, 1]}]},
        },
    }
    # (any_v, one_v, expected_valid) — the reference's truth table:
    # anyOf: 0,1 valid / 2 invalid; oneOf: 0 invalid (both match),
    # 1 valid (exactly one), 2 invalid (none)
    rows = [(0, 1, True), (1, 1, True), (2, 1, False),
            (1, 0, False), (1, 2, False), (2, 0, False)]
    df = spark.createDataFrame([(i, a, o) for i, (a, o, _) in enumerate(rows)],
                               "id long, any_v int, one_v int")
    checks = compile_checks(schema, df.schema, null_is_absent=True)
    for budget in (0, 1, None):
        got = {r["id"]: r["valid"]
               for r in with_violations(df, checks, allowed_errors=budget)
               .select("id", "valid").collect()}
        for i, (_, _, ok) in enumerate(rows):
            assert got[i] == ok, (budget, i, rows[i])
    # budget 0 keeps exactly 1 violation struct on an invalid row, and
    # anyOf failure detail (branch codes) never displaces the verdict
    v = with_violations(df, checks, allowed_errors=0).filter("id = 2").head()
    assert not v["valid"] and len(v["violations"]) == 1
    full = with_violations(df, checks).filter("id = 2").head()
    codes = {x["constraint"] for x in full["violations"]}
    assert "any_schemas_not_valid" in codes
    assert "not_in_enum" in codes  # shortest-branch detail under infinity


def test_canonical_escaping_no_collisions(spark):
    """Quote-bearing keys/values must not forge the canonical JSON
    delimiters: a 1-key object with key 'a\",\"b' is NOT equal to the
    2-key {a,b} object (uniqueItems in both modes)."""
    import json

    from pyspark.sql import types as T

    from jesse_spark.variant_compiler import compile_variant_checks

    data = [{'a":1,"b': 1}, {"a": 1, "b": 1}]
    df = spark.createDataFrame([(json.dumps(data),)], "j string")
    checks = compile_variant_checks({"uniqueItems": True}, draft=4)
    assert df.select(F.coalesce(checks[0].pred(F.parse_json("j")),
                                F.lit(False)).alias("ok")).head()["ok"] is True

    dt = T.ArrayType(T.MapType(T.StringType(), T.StringType()))
    tdf = spark.createDataFrame(
        [(1, [{"a": 'x","b":"y'}, {"a": "x", "b": "y"}])],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("v", dt)]))
    tchecks = compile_checks({"uniqueItems": True}, dt,
                             null_is_absent=False, draft=4)
    assert tdf.select(F.coalesce(tchecks[0].pred(F.col("v")),
                                 F.lit(False)).alias("ok")).head()["ok"] is True
