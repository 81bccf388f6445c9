"""Differential fuzzing: typed compiler vs variant compiler.

The engine writes jesse's keyword semantics once (jesse_spark.compiler
``_compile``) over two type views: compile-time type dispatch against
a static Spark schema (``TypedView``) and runtime dispatch over
VariantType (``VariantView``, jesse_spark.variant_compiler).  Random
(schema, instance-batch) pairs drawn from the implemented keyword
vocabulary must produce the SAME verdict and violation-code set through
both views.  This checks that the two views answer the type questions
alike; it is not an independent oracle for the writer itself.  The
independent oracles are the reconstructed official suite
(test_official_suite.py) and the hand-written typed and variant
conformance tables (test_conformance.py, test_variant_conformance.py).
The reference's analogous PropEr setup: test/prop_get_equal.erl:7-12
with the recursive generator test/proper_json.erl:10-49.

Deviations excluded by generator design (all documented engine
deviations, not fuzz blind spots):
- integral floats (1.0): parse_json canonicalizes to DECIMAL(1,0), so
  variant draft4 "integer" accepts 1.0 (documented, harness-overridden
  in test_variant_conformance.py) — floats here are always x.5;
- null property values: typed structs treat them via null_is_absent
  while variant mode sees a present JSON null (documented OVERRIDES) —
  object instances here always carry both fields non-null;
- heterogeneous arrays / bignums: not representable in a static column.
"""

from __future__ import annotations

import json
import warnings

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jesse_spark.compiler import compile_checks
from jesse_spark.variant_compiler import compile_variant_checks

D4 = {"$schema": "http://json-schema.org/draft-04/schema#"}
D6 = {"$schema": "http://json-schema.org/draft-06/schema#"}

# non-integral floats dodge the parse_json 1.0 -> DECIMAL(1,0) deviation
frac_floats = st.integers(-40, 40).map(lambda i: i + 0.5)
longs = st.integers(-50, 50)
words = st.sampled_from(
    ["", "a", "ab", "abc", "x9", "zzzz", "héllo", "A1", "0042", "aaa", "lo"])

ARCHETYPES = {
    "long": (T.LongType(), longs),
    "double": (T.DoubleType(), frac_floats),
    "string": (T.StringType(), words),
    "boolean": (T.BooleanType(), st.booleans()),
    "arr_long": (T.ArrayType(T.LongType()), st.lists(longs, max_size=5)),
    "arr_str": (T.ArrayType(T.StringType()), st.lists(words, max_size=4)),
    "obj": (T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("b", T.StringType())]),
            st.tuples(longs, words)),
    # runtime-keyed object: exercises patternProperties /
    # additionalProperties / propertyNames where BOTH compilers
    # dispatch on dynamic keys
    "map": (T.MapType(T.StringType(), T.LongType()),
            st.dictionaries(st.sampled_from(["a", "b", "px", "py", "qz"]),
                            longs, max_size=4)),
}

_PATTERNS = ["^a", "[0-9]+$", "^[a-z]*$", "l+o", "^..?$", "z{2,}"]
_TYPE_POOL = ["integer", "number", "string", "boolean", "array", "object",
              "null"]


def _to_json_value(arch: str, v):
    return {"a": v[0], "b": v[1]} if arch == "obj" else v


@st.composite
def cases(draw):
    draft6 = draw(st.booleans())
    base = D6 if draft6 else D4
    arch = draw(st.sampled_from(sorted(ARCHETYPES)))
    _, inst_s = ARCHETYPES[arch]
    pieces: list[dict] = []
    if draw(st.booleans()):
        tsel = draw(st.lists(st.sampled_from(_TYPE_POOL),
                             min_size=1, max_size=3, unique=True))
        pieces.append({"type": tsel if len(tsel) > 1 else tsel[0]})
    if arch in ("long", "double"):
        if draw(st.booleans()):
            p = {"minimum": draw(st.integers(-30, 30))}
            if not draft6 and draw(st.booleans()):
                p["exclusiveMinimum"] = True
            pieces.append(p)
        if draw(st.booleans()):
            p = {"maximum": draw(st.integers(-30, 30))}
            if not draft6 and draw(st.booleans()):
                p["exclusiveMaximum"] = True
            pieces.append(p)
        if draft6 and draw(st.booleans()):
            pieces.append({"exclusiveMinimum": draw(st.integers(-30, 30))})
        if draft6 and draw(st.booleans()):
            pieces.append({"exclusiveMaximum": draw(st.integers(-30, 30))})
        if draw(st.booleans()):
            pieces.append(
                {"multipleOf": draw(st.sampled_from([2, 3, 7, 0.5, 2.5]))})
    if arch == "string":
        if draw(st.booleans()):
            pieces.append({"minLength": draw(st.integers(0, 6))})
        if draw(st.booleans()):
            pieces.append({"maxLength": draw(st.integers(0, 8))})
        if draw(st.booleans()):
            pieces.append({"pattern": draw(st.sampled_from(_PATTERNS))})
    if arch.startswith("arr"):
        if draw(st.booleans()):
            pieces.append({"minItems": draw(st.integers(0, 4))})
        if draw(st.booleans()):
            pieces.append({"maxItems": draw(st.integers(0, 5))})
        if draw(st.booleans()):
            pieces.append({"uniqueItems": True})
        if draw(st.booleans()):
            pieces.append({"items": ({"minimum": draw(st.integers(-20, 20))}
                                     if arch == "arr_long"
                                     else {"minLength": 1})})
        if draft6 and draw(st.booleans()):
            pieces.append({"contains": ({"minimum": 10}
                                        if arch == "arr_long"
                                        else {"maxLength": 2})})
    if arch == "obj":
        if draw(st.booleans()):
            pieces.append({"required": draw(st.lists(
                st.sampled_from(["a", "b", "c"]),
                min_size=1, max_size=3, unique=True))})
        if draw(st.booleans()):
            pieces.append({"properties": {
                "a": {"minimum": draw(st.integers(-20, 20))},
                "b": {"minLength": draw(st.integers(0, 4))}}})
        if draw(st.booleans()):
            pieces.append({"minProperties": draw(st.integers(0, 3))})
        if draw(st.booleans()):
            pieces.append({"maxProperties": draw(st.integers(0, 3))})
        if draw(st.booleans()):
            pieces.append({"dependencies": {"a": draw(st.sampled_from(
                [["b"], {"minProperties": 2}, {"required": ["b"]}]))}})
        if draw(st.booleans()):
            pieces.append({"patternProperties": {
                "^a": {"minimum": draw(st.integers(-20, 20))}}})
        if draw(st.booleans()):
            pieces.append({"properties": {"a": {}},
                           "additionalProperties":
                           draw(st.sampled_from(
                               [False, {"minLength": draw(st.integers(0, 3))},
                                {"maximum": 10}]))})
    if arch == "map":
        if draw(st.booleans()):
            pieces.append({"required": draw(st.lists(
                st.sampled_from(["a", "b", "px", "nope"]),
                min_size=1, max_size=2, unique=True))})
        if draw(st.booleans()):
            pieces.append({"properties": {
                "a": {"minimum": draw(st.integers(-20, 20))},
                "b": {"multipleOf": draw(st.sampled_from([2, 3]))}}})
        if draw(st.booleans()):
            pieces.append({"patternProperties": {
                "^p": {"minimum": draw(st.integers(-20, 20))}}})
        if draw(st.booleans()):
            pieces.append({"additionalProperties":
                           draw(st.sampled_from(
                               [False, {"maximum": 10}, {"minimum": -5}]))})
        if draw(st.booleans()):
            pieces.append({"minProperties": draw(st.integers(0, 3))})
        if draw(st.booleans()):
            pieces.append({"maxProperties": draw(st.integers(0, 3))})
        if draw(st.booleans()):
            pieces.append({"dependencies": {"a": draw(st.sampled_from(
                [["b"], {"maxProperties": 2}, {"required": ["px"]}]))}})
        if draft6 and draw(st.booleans()):
            pieces.append({"propertyNames": {"maxLength": 1}})
    if draw(st.booleans()):
        vals = [_to_json_value(arch, v)
                for v in draw(st.lists(inst_s, min_size=1, max_size=4))]
        pieces.append({"enum": vals})
    if draft6 and draw(st.booleans()):
        pieces.append({"const": _to_json_value(arch, draw(inst_s))})
    mode = draw(st.sampled_from(["flat", "flat", "allOf", "anyOf", "oneOf",
                                 "not"]))
    if mode == "flat" or not pieces:
        schema: dict = {}
        for p in pieces:
            schema.update(p)
    elif mode == "not":
        inner: dict = {}
        for p in pieces:
            inner.update(p)
        schema = {"not": inner}
    else:
        schema = {mode: pieces}
    instances = draw(st.lists(inst_s, min_size=7, max_size=12))
    return arch, {**base, **schema}, instances


def _codes_select(df, col, checks):
    return [sorted(set(r["codes"])) for r in df.select(
        F.array_compact(F.array(*[
            F.when(~F.coalesce(c.pred(col), F.lit(False)),
                   F.lit(c.constraint)) for c in checks
        ])).alias("codes")).collect()]


def _compile_error(e, by_code: bool) -> str:
    return f"COMPILE_ERROR:{e.code if by_code else (e.args[0] if e.args else '')}"


def _typed_codes(spark, arch, schema, instances, by_code=False):
    from jesse_spark.errors import SchemaError

    dtype, _ = ARCHETYPES[arch]
    rows = [((tuple(v) if arch == "obj" else v),) for v in instances]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("value", dtype, True)]))
    try:
        checks = compile_checks(schema, dtype, null_is_absent=False)
    except SchemaError as e:
        # a schema both compilers must reject: compare the error
        return _compile_error(e, by_code)
    return _codes_select(df, F.col("value"), checks)


def _variant_codes(spark, arch, schema, instances, by_code=False):
    from jesse_spark.errors import SchemaError

    js = [json.dumps(_to_json_value(arch, v)) for v in instances]
    df = spark.createDataFrame([(s,) for s in js], "j string")
    try:
        checks = compile_variant_checks(schema)
    except SchemaError as e:
        return _compile_error(e, by_code)
    return _codes_select(df, F.parse_json(F.col("j")), checks)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(cases())
def test_typed_and_variant_compilers_agree(spark, case):
    """>=200 random (schema, instance) cases per run (30 examples x
    3-10 instances): identical verdicts AND violation-code sets through
    both compilers."""
    arch, schema, instances = case
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")   # lint/unroll warns are not the subject
        typed = _typed_codes(spark, arch, schema, instances)
        var = _variant_codes(spark, arch, schema, instances)
    if isinstance(typed, str) or isinstance(var, str):
        assert typed == var, (
            f"compile divergence on arch={arch}\n"
            f"schema={json.dumps(schema)}\ntyped={typed}\nvariant={var}")
        return
    assert typed == var, (
        f"compiler divergence on arch={arch}\nschema={json.dumps(schema)}\n"
        + "\n".join(f"  inst={json.dumps(_to_json_value(arch, v))} "
                    f"typed={t} variant={w}"
                    for v, t, w in zip(instances, typed, var) if t != w))


def _ref_wrapped(schema: dict) -> dict:
    """The drawn body under ``definitions``, reached through a local
    ``$ref``; ``$schema`` stays at the root."""
    body = {k: v for k, v in schema.items() if k != "$schema"}
    return {"$schema": schema["$schema"], "definitions": {"s": body},
            "$ref": "#/definitions/s"}


@settings(max_examples=30, deadline=None, derandomize=True)
@given(cases())
def test_ref_wrapped_schema_matches_body(spark, case):
    """The same draws behind a local ``$ref``: the two compilers agree
    on the wrapped schema, and in each mode it gives the same verdicts
    and codes as the unwrapped body.  Compile errors compare by code."""
    arch, schema, instances = case
    wrapped = _ref_wrapped(schema)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = {(mode, form): fn(spark, arch, s, instances, by_code=True)
               for mode, fn in (("typed", _typed_codes),
                                ("variant", _variant_codes))
               for form, s in (("body", schema), ("ref", wrapped))}
    where = f"arch={arch}\nschema={json.dumps(wrapped)}\n{got}"
    assert got[("typed", "ref")] == got[("variant", "ref")], where
    for mode in ("typed", "variant"):
        assert got[(mode, "ref")] == got[(mode, "body")], f"{mode}: {where}"
