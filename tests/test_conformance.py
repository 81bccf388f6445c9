"""Keyword-semantics conformance cases re-run through the Spark engine.

Mirrors the reference's harness shape (test/jesse_tests_util.erl:95-129:
each case = schema + [{data, valid}] where `valid` may also be a list of
expected error codes).  Cases below are authored for this engine,
covering the same keyword behaviors the reference's draft3/4/6 suites
exercise; heterogeneous-type instances that a static Spark column can't
hold are exercised in the typed subsets that can.

Every instance is loaded into a 1-row DataFrame with its natural Spark
type, the schema is compiled against that type, and the verdict (and,
for list-valued `valid`, the violation codes) is asserted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jesse_spark.compiler import compile_checks

D3 = {"$schema": "http://json-schema.org/draft-03/schema#"}
D4 = {"$schema": "http://json-schema.org/draft-04/schema#"}
D6 = {"$schema": "http://json-schema.org/draft-06/schema#"}


def infer_type(v) -> T.DataType:
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if v is None:
        return T.StringType()
    if isinstance(v, list):
        if not v:
            return T.ArrayType(T.StringType())
        return T.ArrayType(infer_type(v[0]))
    if isinstance(v, dict):
        if not v:
            return T.MapType(T.StringType(), T.StringType())
        return T.StructType([T.StructField(k, infer_type(x), True)
                             for k, x in v.items()])
    raise TypeError(type(v))


def run_case(spark, schema: dict, data, expected):
    dtype = infer_type(data)
    df = spark.createDataFrame([(data,)], T.StructType([T.StructField("value", dtype, True)]))
    checks = compile_checks(schema, dtype, null_is_absent=False)
    row = df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.col("value")), F.lit(False)),
               F.lit(c.constraint)) for c in checks
    ])).alias("codes")).head()
    codes = list(row["codes"])
    if expected is True:
        assert codes == [], f"expected valid, got {codes}"
    elif expected is False:
        assert codes, "expected invalid, got valid"
    else:  # list of expected constraint codes (jesse extension)
        assert sorted(set(codes)) == sorted(set(expected)), (codes, expected)


# (schema, data, expected) — expected: True | False | [codes]
CASES = [
    # --- type (D4:288-318; D6:323-365; D3:282-328) ---
    ({**D4, "type": "integer"}, 1, True),
    ({**D4, "type": "integer"}, 1.0, ["wrong_type"]),   # draft4: strict int
    ({**D6, "type": "integer"}, 1.0, True),              # draft6: 1.0 is int
    ({**D6, "type": "integer"}, 1.5, ["wrong_type"]),
    ({**D4, "type": "number"}, 1, True),
    ({**D4, "type": "string"}, "x", True),
    ({**D4, "type": "string"}, 3, ["wrong_type"]),
    ({**D4, "type": "boolean"}, True, True),
    ({**D4, "type": "boolean"}, "true", ["wrong_type"]),
    ({**D4, "type": "null"}, None, True),
    ({**D4, "type": "null"}, "null", ["wrong_type"]),
    ({**D4, "type": "array"}, [1, 2], True),
    ({**D4, "type": "object"}, {"a": 1}, True),
    ({**D4, "type": ["string", "integer"]}, 5, True),
    ({**D4, "type": ["string", "integer"]}, 1.5, ["wrong_type"]),
    ({**D3, "type": "any"}, "anything", True),
    ({**D3, "type": ["string", {"type": "integer", "minimum": 5}]}, 7, True),
    ({**D3, "type": ["string", {"type": "integer", "minimum": 5}]}, 3, ["wrong_type"]),
    # --- enum / const (D4:960-970; D6:249-251) ---
    ({**D4, "enum": [1, 2, 3]}, 2, True),
    ({**D4, "enum": [1, 2, 3]}, 4, ["not_in_enum"]),
    ({**D4, "enum": [1]}, 1.0, True),                    # 1 == 1.0 (jesse_lib:218-261)
    ({**D4, "enum": ["a", "b"]}, "c", ["not_in_enum"]),
    ({**D4, "enum": [None]}, None, True),
    ({**D6, "const": 5}, 5, True),
    ({**D6, "const": 5}, 6, ["not_in_enum"]),
    ({**D6, "const": "x"}, "x", True),
    ({**D4, "enum": [[1, 2]]}, [1, 2], True),
    ({**D4, "enum": [[1, 2]]}, [2, 1], ["not_in_enum"]),  # arrays order-sensitive
    # --- minimum/maximum + exclusive (D4:723-770; D6:178-209; D3:666-710) ---
    ({**D4, "minimum": 3}, 3, True),
    ({**D4, "minimum": 3}, 2, ["not_in_range"]),
    ({**D4, "minimum": 3, "exclusiveMinimum": True}, 3, ["not_in_range"]),
    ({**D4, "maximum": 10}, 10, True),
    ({**D4, "maximum": 10, "exclusiveMaximum": True}, 10, ["not_in_range"]),
    ({**D6, "exclusiveMinimum": 3}, 3, ["not_in_range"]),
    ({**D6, "exclusiveMinimum": 3}, 4, True),
    ({**D6, "exclusiveMaximum": 10}, 9.5, True),
    ({**D4, "minimum": 3}, "str", True),                 # type-guarded no-op
    ({**D4, "minimum": 1.5}, 2, True),
    ({**D4, "minimum": 1.5}, 1, ["not_in_range"]),
    # --- multipleOf / divisibleBy (D4:1019-1029; D3:860-869) ---
    ({**D4, "multipleOf": 2}, 4, True),
    ({**D4, "multipleOf": 2}, 5, ["not_multiple_of"]),
    ({**D4, "multipleOf": 0.5}, 1.5, True),
    ({**D4, "multipleOf": 0.3}, 1.0, ["not_multiple_of"]),
    ({**D3, "divisibleBy": 3}, 9, True),
    ({**D3, "divisibleBy": 3}, 10, ["not_divisible"]),
    ({**D3, "divisibleBy": 0}, 10, ["not_divisible"]),   # D3: data error, not schema error
    # --- min/maxLength — code points (D4:915-943) ---
    ({**D4, "minLength": 2}, "ab", True),
    ({**D4, "minLength": 2}, "a", ["wrong_length"]),
    ({**D4, "maxLength": 2}, "abc", ["wrong_length"]),
    ({**D4, "minLength": 2}, "äö", True),                # 2 code points, 4 UTF-8 bytes
    ({**D4, "maxLength": 2}, "äöü", ["wrong_length"]),
    ({**D4, "minLength": 2}, 111, True),                 # type-guarded no-op
    # --- pattern (D4:888-893, unanchored like re:run) ---
    ({**D4, "pattern": "^a+$"}, "aaa", True),
    ({**D4, "pattern": "^a+$"}, "ab", ["no_match"]),
    ({**D4, "pattern": "b+"}, "abc", True),              # unanchored
    # --- format (D4:975-1004) ---
    ({**D4, "format": "date-time"}, "2024-01-15T10:30:00Z", True),
    ({**D4, "format": "date-time"}, "2024-01-15T10:30:00+05:00", True),
    ({**D4, "format": "date-time"}, "not a date", ["wrong_format"]),
    ({**D4, "format": "email"}, "a@b.co", True),
    ({**D4, "format": "email"}, "nope", ["wrong_format"]),
    ({**D4, "format": "ipv4"}, "192.168.0.1", True),
    ({**D4, "format": "ipv4"}, "256.1.1.1", ["wrong_format"]),
    ({**D4, "format": "ipv6"}, "2001:db8::1", True),
    ({**D4, "format": "ipv6"}, "2001:::1", ["wrong_format"]),
    ({**D4, "format": "hostname"}, "anything goes", True),   # unvalidated
    ({**D4, "format": "unknown-fmt"}, "x", True),            # unknown passes
    ({**D3, "format": "email"}, "nope", True),               # draft3 no-op
    # --- required (D4:1044-1058; D3 boolean form :351-368) ---
    ({**D4, "type": "object", "required": ["a"]}, {"a": 1}, True),
    ({**D4, "type": "object", "required": ["b"],
      "properties": {"a": {"type": "integer"}, "b": {"type": "integer"}}},
     {"a": 1, "b": None}, ["missing_required_property"]),
    ({**D6, "type": "object", "required": []}, {"a": 1}, True),  # D6 allows []
    ({**D3, "type": "object",
      "properties": {"a": {"type": "integer", "required": True},
                     "b": {"type": "integer", "required": True}}},
     {"a": 1, "b": None}, ["missing_required_property"]),
    # --- properties recursion (D4:380-400) ---
    ({**D4, "properties": {"a": {"type": "integer", "minimum": 5}}},
     {"a": 7}, True),
    ({**D4, "properties": {"a": {"type": "integer", "minimum": 5}}},
     {"a": 3}, ["not_in_range"]),
    ({**D4, "properties": {"a": {"properties": {"b": {"minimum": 5}}}}},
     {"a": {"b": 3}}, ["not_in_range"]),
    # absent property skipped:
    ({**D4, "properties": {"a": {"type": "integer", "minimum": 5}}},
     {"a": None}, True),
    # --- patternProperties (D4:405-426) ---
    ({**D4, "patternProperties": {"^n_": {"type": "integer", "minimum": 0}}},
     {"n_x": 5, "other": -1}, True),
    ({**D4, "patternProperties": {"^n_": {"type": "integer", "minimum": 0}}},
     {"n_x": -5, "other": -1}, ["not_in_range"]),
    # --- additionalProperties (D4:431-507) ---
    ({**D4, "properties": {"a": {}}, "additionalProperties": False},
     {"a": 1, "b": 2}, ["no_extra_properties_allowed"]),
    ({**D4, "properties": {"a": {}}, "additionalProperties": False},
     {"a": 1, "b": None}, True),                        # null == absent
    ({**D4, "properties": {"a": {}},
      "additionalProperties": {"type": "integer", "maximum": 5}},
     {"a": 1, "b": 9}, ["not_in_range"]),
    # --- propertyNames (D6:424-436) ---
    ({**D6, "propertyNames": {"maxLength": 3}}, {"ab": 1}, True),
    # propertyNames failures carry the inner keyword's code (jesse
    # re-enters check_value on each name, draft6:424-436)
    ({**D6, "propertyNames": {"maxLength": 3}}, {"abcd": 1}, ["wrong_length"]),
    # --- min/maxProperties (D4:1073-1107) ---
    ({**D4, "maxProperties": 1}, {"a": 1, "b": 2}, ["too_many_properties"]),
    ({**D4, "minProperties": 2}, {"a": 1, "b": 2}, True),
    ({**D4, "minProperties": 3}, {"a": 1, "b": 2}, ["too_few_properties"]),
    # --- dependencies (D4:637-694) ---
    ({**D4, "dependencies": {"a": ["b"]}}, {"a": 1, "b": 2}, True),
    ({**D4, "dependencies": {"a": ["b"]}}, {"a": 1, "b": None},
     ["missing_dependency"]),
    # schema-form dependency: the inner keyword's OWN code propagates
    # (jesse re-enters check_value, draft4:653-661)
    ({**D4, "dependencies": {"a": {"required": ["b"]}}}, {"a": 1, "b": None},
     ["missing_required_property"]),
    ({**D4, "dependencies": {"a": ["b"]}}, {"c": 1, "a": None, "b": None}, True),
    # --- items / additionalItems (D4:542-603) ---
    ({**D4, "items": {"type": "integer", "minimum": 0}}, [1, 2, 3], True),
    ({**D4, "items": {"type": "integer", "minimum": 0}}, [1, -2, 3],
     ["not_in_range"]),
    ({**D4, "items": [{"minimum": 0}, {"minimum": 10}]}, [5, 20], True),
    ({**D4, "items": [{"minimum": 0}, {"minimum": 10}]}, [5, 5],
     ["not_in_range"]),
    ({**D4, "items": [{"minimum": 0}], "additionalItems": False}, [1, 2],
     ["no_extra_items_allowed"]),
    ({**D4, "items": [{"minimum": 0}], "additionalItems": {"maximum": 10}},
     [1, 5, 20], ["not_schema_valid"]),
    # --- min/maxItems / uniqueItems (D4:790-873) ---
    ({**D4, "minItems": 2}, [1], ["wrong_size"]),
    ({**D4, "maxItems": 2}, [1, 2, 3], ["wrong_size"]),
    ({**D4, "uniqueItems": True}, [1, 2, 3], True),
    ({**D4, "uniqueItems": True}, [1, 2, 1], ["not_unique"]),
    ({**D4, "uniqueItems": True}, ["a", "b", "a"], ["not_unique"]),
    # --- contains (D6:569-587) ---
    ({**D6, "contains": {"minimum": 5}}, [1, 9], True),
    ({**D6, "contains": {"minimum": 5}}, [1, 2], ["validation_always_fails"]),
    ({**D6, "contains": {"minimum": 5}}, [], ["validation_always_fails"]),
    # --- combinators (D4:1125-1242) ---
    ({**D4, "allOf": [{"minimum": 2}, {"maximum": 5}]}, 3, True),
    ({**D4, "allOf": [{"minimum": 2}, {"maximum": 5}]}, 7,
     ["all_schemas_not_valid"]),
    ({**D4, "anyOf": [{"minimum": 10}, {"maximum": 3}]}, 2, True),
    # total failure also surfaces the shortest-error branch's own codes
    # (jesse_validator_draft4.erl:1365-1373)
    ({**D4, "anyOf": [{"minimum": 10}, {"maximum": 3}]}, 5,
     ["any_schemas_not_valid", "not_in_range"]),
    # branch 1 fails 2 checks, branch 0 fails 1 → branch 0's code only
    ({**D4, "anyOf": [{"multipleOf": 7}, {"minimum": 10, "multipleOf": 2}]}, 5,
     ["any_schemas_not_valid", "not_multiple_of"]),
    # anyOf + oneOf on one schema: the anyOf detail must evaluate its
    # OWN branches, not oneOf's (closure-rebinding regression)
    ({**D4, "anyOf": [{"minimum": 10}, {"maximum": 3}],
      "oneOf": [{"multipleOf": 5}, {"multipleOf": 1}]}, 5,
     ["any_schemas_not_valid", "not_in_range", "more_than_one_schema_valid"]),
    ({**D4, "anyOf": [{"minimum": 4}], "oneOf": [{"multipleOf": 5}]}, 5, True),
    ({**D4, "oneOf": [{"minimum": 5}, {"maximum": 3}]}, 7, True),
    ({**D4, "oneOf": [{"minimum": 5}, {"maximum": 10}]}, 7,
     ["more_than_one_schema_valid"]),
    ({**D4, "oneOf": [{"minimum": 10}, {"maximum": 3}]}, 5,
     ["not_one_schema_valid"]),
    ({**D4, "not": {"type": "integer"}}, "x", True),
    ({**D4, "not": {"type": "integer"}}, 3, ["not_schema_valid"]),
    ({**D3, "extends": {"minimum": 5}, "maximum": 10}, 7, True),
    ({**D3, "extends": {"minimum": 5}}, 3, ["all_schemas_not_valid"]),
    ({**D3, "disallow": "integer"}, 3, ["not_allowed"]),
    ({**D3, "disallow": "string"}, 3, True),
    # --- boolean schemas (D6:285-291, 1206-1211) ---
    (True, 42, True),
    (False, 42, False),
    ({**D6, "properties": {"a": True}}, {"a": 1}, True),
    ({**D6, "properties": {"a": False}}, {"a": 1}, False),
    ({**D6, "items": False}, [], True),
    ({**D6, "items": False}, [1], False),
    ({**D6, "contains": True}, [], False),
    ({**D6, "contains": True}, [1], True),
    # --- $ref (compile-time inlining; jesse_state.erl:206-303) ---
    ({**D4, "definitions": {"pos": {"type": "integer", "minimum": 1}},
      "properties": {"a": {"$ref": "#/definitions/pos"}}}, {"a": 5}, True),
    ({**D4, "definitions": {"pos": {"type": "integer", "minimum": 1}},
      "properties": {"a": {"$ref": "#/definitions/pos"}}}, {"a": 0},
     ["not_in_range"]),
    # $ref short-circuits siblings (jesse_state.erl:176-196)
    ({**D4, "definitions": {"any": {}},
      "properties": {"a": {"$ref": "#/definitions/any", "minimum": 99}}},
     {"a": 5}, True),
]


@pytest.mark.parametrize("schema,data,expected", CASES,
                         ids=[f"case{i}" for i in range(len(CASES))])
def test_conformance(spark, schema, data, expected):
    # boolean schemas are draft6-only
    if isinstance(schema, bool):
        run_case(spark, schema, data, expected)
        return
    run_case(spark, schema, data, expected)


# mirrored from the reference's extra regression corpus
# (test/jesse_tests_draft4_SUITE_data/extra/)
EXTRA_CASES = [
    # itemsExtra.json: size of items does not imply minItems
    ({**D4, "type": "array", "items": [{}, {}, {}], "additionalItems": False},
     [], True),
    ({**D4, "type": "array", "items": [{}, {}, {}], "additionalItems": False},
     [1, 2], True),
    ({**D4, "type": "array", "items": [{}, {}, {}], "additionalItems": False},
     [1, 2, 3, 4], ["no_extra_items_allowed"]),
    # unicodePatternProperties.json: non-ascii patterns vs
    # additionalProperties: false
    ({**D4, "patternProperties": {"^á": {}}, "additionalProperties": False},
     {"ármányos": 2}, True),
    ({**D4, "patternProperties": {"^á": {}}, "additionalProperties": False},
     {"élmény": 2}, ["no_extra_properties_allowed"]),
    # uniqueItemsExtra.json: numbers unique iff mathematically unequal
    ({**D4, "uniqueItems": True}, [1.0, 2.0, 1.0], ["not_unique"]),
    # jesse draft6 `examples` QUIRK (D6:157-165): instance must be an
    # array when the schema carries examples; draft4 has no such keyword
    ({**D6, "examples": [1, 2]}, [9, 9], True),
    ({**D6, "examples": [1, 2]}, 9, ["not_array"]),
    ({**D4, "examples": [1, 2]}, 9, True),
]


@pytest.mark.parametrize("schema,data,expected", EXTRA_CASES,
                         ids=[f"extra{i}" for i in range(len(EXTRA_CASES))])
def test_reference_extras(spark, schema, data, expected):
    run_case(spark, schema, data, expected)


# ---------------------------------------------------------------------------
# deep equality: order-insensitive objects (jesse_lib.erl:218-261)
# ---------------------------------------------------------------------------
DEEP_EQ_CASES = [
    # literal dict order ≠ struct field order → still equal
    ({**D4, "enum": [{"a": 1, "b": 2}]}, {"b": 2, "a": 1}, True),
    ({**D6, "const": {"a": 1, "b": [1, 2]}}, {"b": [1, 2], "a": 1}, True),
    ({**D6, "const": {"a": 1}}, {"a": 2}, ["not_in_enum"]),
    # extra property ⇒ unequal
    ({**D4, "enum": [{"a": 1}]}, {"a": 1, "c": 3}, ["not_in_enum"]),
    # nested object, reordered at both levels
    ({**D4, "enum": [{"o": {"x": 1, "y": 2}, "n": 5}]},
     {"n": 5, "o": {"y": 2, "x": 1}}, True),
    # numeric 1 == 1.0 inside objects
    ({**D4, "enum": [{"a": 1}]}, {"a": 1.0}, True),
    ({**D4, "enum": [[{"a": 1}]]}, [{"a": 1}], True),
    ({**D4, "enum": [[{"a": 1}]]}, [{"a": 2}], ["not_in_enum"]),
    # bignum exactness past 2^53 (uniqueItemsExtra.json:7-10; a double
    # compare would collide the neighbors) — ADVICE r2
    ({**D6, "const": 9007199254740993}, 9007199254740993, True),
    ({**D6, "const": 9007199254740992}, 9007199254740993, ["not_in_enum"]),
    ({**D4, "enum": [9007199254740992]}, 9007199254740993, ["not_in_enum"]),
    ({**D4, "enum": [{"a": 9007199254740992}]}, {"a": 9007199254740993},
     ["not_in_enum"]),
    # int literal beyond int64 can never equal an int64 column
    ({**D6, "const": 2 ** 70}, 1, ["not_in_enum"]),
]


@pytest.mark.parametrize("schema,data,expected", DEEP_EQ_CASES,
                         ids=[f"deep{i}" for i in range(len(DEEP_EQ_CASES))])
def test_deep_equality(spark, schema, data, expected):
    run_case(spark, schema, data, expected)


def test_anyof_detail_cap_warns_and_is_configurable(spark):
    """Past the branch-detail budget a compile-time warning fires, the
    combinator verdict is unchanged, and raising anyof_detail_max
    restores per-branch detail (VERDICT r2 #8)."""
    import warnings

    big_anyof = {**D4, "anyOf": [
        {"minimum": i, "maximum": i} for i in range(30)  # 60 branch checks
    ]}
    with pytest.warns(UserWarning, match="anyOf branch detail dropped"):
        checks = compile_checks(big_anyof, T.LongType())
    # verdict-only: exactly the combinator check, still correct
    assert [c.constraint for c in checks] == ["any_schemas_not_valid"]
    df = spark.createDataFrame([(5,), (99,)], "value long")
    rows = {r["value"]: r["ok"] for r in df.select(
        "value", F.coalesce(checks[0].pred(F.col("value")), F.lit(False))
        .alias("ok")).collect()}
    assert rows[5] is True and rows[99] is False
    # raised cap → no warning, detail checks present
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        detailed = compile_checks(big_anyof, T.LongType(), anyof_detail_max=100)
    assert len(detailed) > 1


def test_unique_items_bignum_in_map_elements(spark):
    """uniqueItems over map-bearing elements goes through the canonical
    text rendering; integral values must render exactly so bignum
    neighbors past 2^53 stay distinct (ADVICE r2: the double-string
    collision)."""
    df = spark.createDataFrame(
        [(1, [{"k": 9007199254740992}, {"k": 9007199254740993}]),
         (2, [{"k": 9007199254740992}, {"k": 9007199254740992}])],
        "id long, value array<map<string,bigint>>")
    checks = compile_checks({**D4, "uniqueItems": True},
                            df.schema["value"].dataType, null_is_absent=False)
    rows = {r["id"]: r["ok"] for r in df.select(
        "id", _reduce_and_checks(checks).alias("ok")).collect()}
    assert rows[1] is True      # distinct bignums: unique
    assert rows[2] is False     # true duplicate still caught


def _reduce_and_checks(checks):
    out = F.lit(True)
    for c in checks:
        out = out & F.coalesce(c.pred(F.col("value")), F.lit(False))
    return out


def test_enum_object_on_map_column(spark):
    """Object enum against a MapType column: runtime key-set + value
    comparison (previously always-False)."""
    df = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"a": 1}), (3, {"a": 1, "b": 9})],
        "id long, value map<string,bigint>")
    checks = compile_checks({**D4, "enum": [{"b": 2, "a": 1}]},
                            df.schema["value"].dataType, null_is_absent=False)
    assert len(checks) == 1
    rows = df.select("id", checks[0].pred(F.col("value")).alias("ok")) \
             .orderBy("id").collect()
    assert [r["ok"] for r in rows] == [True, False, False]


def test_unique_items_map_elements(spark):
    """uniqueItems over array<map>: native comparison is impossible, the
    canonicalized check is key-order-insensitive."""
    df = spark.createDataFrame(
        [(1, [{"a": 1, "b": 2}, {"b": 2, "a": 1}]),   # same content → dup
         (2, [{"a": 1}, {"a": 2}])],                   # distinct → unique
        "id long, value array<map<string,bigint>>")
    checks = compile_checks({**D4, "uniqueItems": True},
                            df.schema["value"].dataType, null_is_absent=False)
    rows = df.select("id", checks[0].pred(F.col("value")).alias("ok")) \
             .orderBy("id").collect()
    assert [r["ok"] for r in rows] == [False, True]


def test_map_pattern_and_additional_props_propagate_codes(spark):
    """Runtime-keyed objects (MapType): patternProperties and
    additionalProperties-schema failures keep the inner keyword's OWN
    code at the /* wildcard path — matching the struct branch and
    jesse's error granularity (round 5; previously collapsed to
    not_schema_valid)."""
    dtype = T.MapType(T.StringType(), T.LongType())
    schema = {**D4,
              "properties": {"a": {"minimum": 100}},
              "patternProperties": {"^p": {"minimum": 0}},
              "additionalProperties": {"maximum": 10}}
    checks = compile_checks(schema, dtype, null_is_absent=False)
    df = spark.createDataFrame(
        [({"px": -1},), ({"zz": 20},), ({"a": 5},),
         ({"px": 1, "zz": 3, "a": 200},)],
        T.StructType([T.StructField("value", dtype, True)]))
    rows = df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.col("value")), F.lit(False)),
               F.lit(c.constraint + "@" + c.path)) for c in checks
    ])).alias("codes")).collect()
    got = [sorted(r["codes"]) for r in rows]
    assert got[0] == ["not_in_range@/*"]      # pattern match, min violated
    assert got[1] == ["not_in_range@/*"]      # extra key, max violated
    assert got[2] == ["not_in_range@/a"]      # declared property recursion
    assert got[3] == []                       # every site satisfied


def test_pattern_portability_lint():
    """Non-portable regex constructs in `pattern` warn at compile time
    (compile option pattern_lint, VERDICT r3 #4): PCRE/Java dialect
    divergences would otherwise silently change the match set on the
    cluster.  The fixture patterns stay clean; pattern_lint=False
    silences."""
    import warnings

    for bad in [r"\Afoo", "a++", "(?P<x>a)", "[[:alpha:]]"]:
        with pytest.warns(UserWarning, match="non-portable regex"):
            compile_checks({**D4, "pattern": bad}, T.StringType())
    # duplicate named groups: the lint warning fires, then the compile
    # fails (java.util.regex and Erlang re both reject duplicates)
    from jesse_spark.errors import SchemaError

    with pytest.warns(UserWarning, match="duplicate named group"):
        with pytest.raises(SchemaError):
            compile_checks({**D4, "pattern": "(?<n>a)|(?<n>b)"},
                           T.StringType())
    # Java named-group syntax compiles (normalized for validation only)
    compile_checks({**D4, "pattern": "(?<year>[0-9]{4})"}, T.StringType())
    # fixture/suite-style patterns: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for good in ["^src[0-9]$", "window.*filter", "^[a-zà-ɏ]+$",
                     r"a\\Ab", r"\d{2,4}", "(?:x)(?=y)(?!z)"]:
            compile_checks({**D4, "pattern": good}, T.StringType())
        # patternProperties patterns are linted too, and the option
        # silences everything
        compile_checks({**D4, "pattern": r"\Afoo"}, T.StringType(),
                       pattern_lint=False)
        compile_checks(
            {**D4, "patternProperties": {"^ok$": {"type": "integer"}}},
            T.MapType(T.StringType(), T.LongType()))
        # quantifier chars INSIDE a character class are not possessive
        # quantifiers (ADVICE r4 #3): [*+]+ is a quantified class
        for good in ["[*+]+", "[+]+x", "[^*+?]+", "[]+]+", r"[\]+]+"]:
            compile_checks({**D4, "pattern": good}, T.StringType())
    # but a REAL possessive quantifier right after a class still warns
    with pytest.warns(UserWarning, match="possessive"):
        compile_checks({**D4, "pattern": "[ab]++"}, T.StringType())
    with pytest.warns(UserWarning, match="non-portable regex"):
        compile_checks(
            {**D4, "patternProperties": {"a++": {"type": "integer"}}},
            T.MapType(T.StringType(), T.LongType()))


def test_patternproperties_java_named_group(spark):
    """patternProperties accepts Java named-group syntax like the
    pattern keyword does (the Python-re compile uses the normalized
    form) — previously escaped as a raw re.error."""
    checks = compile_checks(
        {**D4, "patternProperties": {"(?<year>[0-9]{4})": {"type": "integer"}}},
        T.StructType([T.StructField("1999", T.LongType())]))
    assert isinstance(checks, list)


def test_ref_expansion_budget_fails_fast():
    """A schema with many $ref sites per level (the draft-4
    meta-schema shape) fails fast with guidance instead of expanding
    k^unroll nodes."""
    from jesse_spark.errors import SchemaError

    branchy = {
        **D4,
        "definitions": {"n": {"anyOf": [{"$ref": "#"} for _ in range(6)]}},
        "anyOf": [{"$ref": "#/definitions/n"} for _ in range(6)],
    }
    with pytest.raises(SchemaError, match="expansion exceeds"):
        with pytest.warns(UserWarning):
            compile_checks(branchy, T.LongType(), anyof_detail_max=0)


def _compile_in(mode):
    import jesse_spark.variant_compiler as vc

    if mode == "typed":
        return lambda schema: compile_checks(schema, T.StringType())
    return vc.compile_variant_checks


@pytest.mark.parametrize("mode", ["typed", "variant"])
def test_draft3_type_members_compile_once(spark, monkeypatch, mode):
    """Draft3 schema-valued ``type`` members compile with their parent:
    a bad member fails the compile, as the same keyword at top level
    does, and rendering the wrong_type pred compiles nothing."""
    import jesse_spark.compiler as tc
    from jesse_spark.errors import SchemaError

    compile_ = _compile_in(mode)
    bad = {"type": "string", "pattern": "("}
    with pytest.raises(SchemaError) as top:
        compile_({**D3, **bad})
    with pytest.raises(SchemaError) as member:
        compile_({**D3, "type": ["integer", bad]})
    assert member.value.code == top.value.code == "schema_invalid"

    checks = compile_({**D3, "type": ["integer", {"type": "string",
                                                  "minLength": 2}]})
    (wt,) = [c for c in checks if c.constraint == "wrong_type"]
    # every sub-schema of both modes compiles through this one entry
    calls = []
    real = tc._compile
    monkeypatch.setattr(
        tc, "_compile", lambda *a, **k: calls.append(a) or real(*a, **k))
    assert str(wt.pred(F.col("x"))) == str(wt.pred(F.col("x")))
    assert calls == []


@pytest.mark.parametrize("mode", ["typed", "variant"])
@pytest.mark.parametrize("decl", ["foo", ["integer", "foo"], 5])
def test_unknown_type_name_fails_compile(mode, decl):
    """A ``type`` that names no JSON type fails the compile in both
    modes (wrong_type_specification) instead of compiling a check that
    rejects every value, or one that raises only when rendered."""
    from jesse_spark.errors import SchemaError

    with pytest.raises(SchemaError) as err:
        _compile_in(mode)({**D4, "type": decl})
    assert err.value.code == "wrong_type_specification"
