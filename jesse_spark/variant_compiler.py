"""Dynamic-typing compiler: the JSON-Schema keywords over VariantType.

The reference is schema-on-read — type is discovered per value
(jesse_lib.erl:92-110) — and the JSON-Schema-Test-Suite exercises
heterogeneous instances.  This module holds the variant type view: the
runtime type predicates over ``schema_of_variant``, the accessors, and
the value-level recursions (deep equality for enum/const, the
uniqueItems canonical form).  Every keyword itself is written once, in
jesse_spark.compiler, and asks this view its type questions; the
output is still 100% JVM-side expressions.

Semantics notes (mirroring the reference):
- a keyword type-guarded in jesse (e.g. ``minimum`` only
  ``if is_number(Value)``, jesse_validator_draft4.erl:149-158) becomes
  ``WHEN is_number THEN check ELSE true``;
- numeric equality is value-based: 1 == 1.0 (jesse_lib.erl:177-181
  normalizes numbers to float before comparing);
- SQL NULL variant = absent (property missing); variant-encoded null =
  JSON ``null`` (a real value of type null) — exactly the distinction
  jesse gets from its proplists;
- deep equality for enum/const is structural (per-key, recursive) and
  uniqueItems canonicalizes with SORTED object keys at every level —
  both order-INsensitive for object properties, order-sensitive for
  arrays, 1 == 1.0, matching jesse_lib.erl:218-261 / 147-197 (the
  uniqueItems canonicalization is depth-bounded at ``_CANON_DEPTH``).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from jesse_spark.compiler import (
    Builder,
    Check,
    Ctx,
    _compile,
    _conj,
    _json_escape,
    _reduce_or,
    _root_ctx,
)
from jesse_spark.errors import SchemaError
from jesse_spark.schema.parser import DRAFT6, SchemaRegistry

_DECIMAL0 = r"^DECIMAL\(\d+,0\)$"


# ---------------------------------------------------------------------------
# runtime type predicates
# ---------------------------------------------------------------------------
def _vt(v: Column) -> Column:
    return F.schema_of_variant(v)


def is_string(v: Column) -> Column:
    return _vt(v) == "STRING"


def is_boolean(v: Column) -> Column:
    return _vt(v) == "BOOLEAN"


def is_null(v: Column) -> Column:
    return _vt(v) == "VOID"


def is_number(v: Column) -> Column:
    t = _vt(v)
    return (t == "BIGINT") | (t == "DOUBLE") | (t == "FLOAT") | t.startswith("DECIMAL")


def is_integer(v: Column, draft: int) -> Column:
    """draft4: an integer value.  parse_json CANONICALIZES zero-fraction
    decimals (``1.0`` → DECIMAL(1,0), same as ``1`` → BIGINT scale-0),
    so the draft4 textual int/float distinction is unrecoverable and
    variant-mode draft4 ``integer`` accepts 1.0 — the documented
    deviation (ARCHITECTURE.md; test_variant_conformance OVERRIDES).
    draft6 accepts zero-fraction numbers by spec
    (jesse_validator_draft6.erl:341-359), so the drafts converge here.

    Bignums past DECIMAL(38,0) parse as DOUBLE, where the textual
    int/float distinction is unrecoverable; every double at magnitude
    ≥ 2^63 is mathematically integral and jesse (Erlang bignums,
    optional/bignum.json) calls the integer-written form an integer, so
    those count as draft4 integers too (documented deviation: a float
    WRITTEN as 1e60 also passes — jesse would reject it)."""
    t = _vt(v)
    num = as_num(v)
    strict = ((t == "BIGINT") | t.rlike(_DECIMAL0)
              | ((t == "DOUBLE") & (F.abs(num) >= F.lit(float(2 ** 63)))
                 & (F.round(num) == num)))
    if draft < DRAFT6:
        return strict
    # round(x) == x, not floor (LONG overflow past 2^63) and not
    # pmod (tiny negatives collapse to 0.0)
    return strict | (is_number(v) & (F.round(num) == num))


def is_array(v: Column) -> Column:
    return _vt(v).startswith("ARRAY")


def is_object(v: Column) -> Column:
    return _vt(v).startswith("OBJECT")


def as_num(v: Column) -> Column:
    return F.try_variant_get(v, "$", "double")


def as_str(v: Column) -> Column:
    return F.try_variant_get(v, "$", "string")


def as_bool(v: Column) -> Column:
    return F.try_variant_get(v, "$", "boolean")


def as_map(v: Column) -> Column:
    return v.cast("map<string,variant>")


def as_arr(v: Column) -> Column:
    return v.cast("array<variant>")


def _enum_value_pred(v: Column, val: Any) -> Column:
    """Deep structural equality against a Python JSON literal:
    order-INsensitive for object properties (per-key comparison),
    order-sensitive for arrays, numerics value-based (1 == 1.0) —
    jesse's is_equal (jesse_lib.erl:218-261)."""
    if val is None:
        return is_null(v)
    if isinstance(val, bool):
        return is_boolean(v) & (as_bool(v) == F.lit(val))
    if isinstance(val, (int, float)):
        if isinstance(val, int) and abs(val) > 2 ** 53:
            # bignum: double comparison would collide neighbors —
            # compare the exact decimal rendering (jesse bignums are
            # arbitrary-precision, uniqueItemsExtra.json:7-10)
            return is_number(v) & (
                F.try_variant_get(v, "$", "decimal(38,0)").cast("string")
                == F.lit(str(val)))
        return is_number(v) & (as_num(v) == F.lit(float(val)))
    if isinstance(val, str):
        return is_string(v) & (as_str(v) == F.lit(val))
    if isinstance(val, list):
        arr = as_arr(v)
        body = is_array(v) & (F.size(arr) == len(val))
        for i, x in enumerate(val):
            body = body & F.coalesce(_enum_value_pred(F.get(arr, i), x), F.lit(False))
        return body
    if isinstance(val, dict):
        m = as_map(v)
        body = is_object(v) & (F.size(F.map_keys(m)) == len(val))
        for k, x in val.items():
            body = (body & F.map_contains_key(m, F.lit(k))
                    & F.coalesce(_enum_value_pred(F.element_at(m, F.lit(k)), x),
                                 F.lit(False)))
        return body
    raise SchemaError("schema_invalid", f"unsupported enum value {val!r}")


_CANON_DEPTH = 6  # bounded recursion for canonical rendering


def _elem_canonical(e: Column, depth: int = _CANON_DEPTH) -> Column:
    """Normalization for uniqueItems equality (jesse_lib.erl:147-197
    normalize_and_sort): numbers to double string (1 == 1.0), object
    keys SORTED at every level (order-insensitive), arrays in order.
    Beyond ``depth`` nesting falls back to to_json (order-sensitive) —
    a documented bound, like MAX_REF_DEPTH."""
    if depth <= 0:
        return F.to_json(e)
    # numbers: integral values render via exact decimal(38,0) so that
    # 1 == 1.0 (both "1") AND bignums beyond double's 2^53 stay distinct
    # (uniqueItemsExtra.json:7-10 "big integers are compared correctly");
    # non-integral (or >38-digit overflow) falls back to double text
    # integrality via round(x) == x: floor(double) returns LONG and
    # overflows beyond 2^63 (the bignum range), and pmod(x, 1.0)
    # collapses tiny negatives to exactly 0.0 (x + 1.0 rounds to 1.0)
    num = F.when(
        F.round(as_num(e)) == as_num(e),
        F.coalesce(F.try_variant_get(e, "$", "decimal(38,0)").cast("string"),
                   as_num(e).cast("string")),
    ).otherwise(as_num(e).cast("string"))
    entries = F.array_sort(
        F.map_entries(as_map(e)),
        lambda a, b: F.when(a.getField("key") < b.getField("key"), F.lit(-1))
        .when(a.getField("key") > b.getField("key"), F.lit(1))
        .otherwise(F.lit(0)),
    )
    obj = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(entries, lambda ent: F.concat(
                F.lit('"'), _json_escape(ent.getField("key")), F.lit('":'),
                _elem_canonical(ent.getField("value"), depth - 1))),
            ","),
        F.lit("}"))
    arr = F.concat(
        F.lit("["),
        F.array_join(F.transform(as_arr(e),
                                 lambda x: _elem_canonical(x, depth - 1)), ","),
        F.lit("]"))
    return (F.when(is_number(e), num)
            .when(is_object(e), obj)
            .when(is_array(e), arr)
            .otherwise(F.to_json(e)))


# ---------------------------------------------------------------------------
# the variant type view and the compiler entry points
# ---------------------------------------------------------------------------
_IS = {"string": is_string, "number": is_number, "boolean": is_boolean,
       "object": is_object, "array": is_array, "null": is_null}


class VariantView:
    """A VariantType value: every type question is a runtime
    ``schema_of_variant`` test, and a type-guarded keyword compiles to
    ``WHEN <type test> THEN check ELSE true``.  A SQL null is an absent
    value (JSON null is a variant of type VOID).  Properties and
    elements are variants again, so every child view is this one.  The
    typed-mode counterpart is ``jesse_spark.compiler.TypedView``."""

    null_is_absent = True
    fields = None       # object keys are runtime data
    integral = False    # numbers are read as double
    observed = staticmethod(F.to_json)
    num = staticmethod(as_num)
    str = staticmethod(as_str)
    obj = staticmethod(as_map)
    arr = staticmethod(as_arr)

    def may(self, jtype: str) -> bool:
        return True

    def has(self, v: Column, jtype: str, draft: int | None = None) -> Column:
        if jtype == "integer":
            return is_integer(v, draft)
        if jtype == "any":
            return F.lit(True)
        return _IS[jtype](v)

    def guard(self, jtype: str, body: Builder) -> Builder:
        return lambda v: F.when(self.has(v, jtype), body(v)).otherwise(F.lit(True))

    def present(self, v: Column, name: str) -> Column:
        """Property present (may still be JSON null)."""
        return is_object(v) & F.map_contains_key(as_map(v), F.lit(name))

    def absent(self, v: Column, key: str | int) -> Column:
        if isinstance(key, int):
            return v.isNull() | ~(is_array(v) & (F.size(as_arr(v)) > key))
        return v.isNull() | ~self.present(v, key)

    def get(self, v: Column, key: str | int) -> Column:
        if isinstance(key, int):
            return F.get(as_arr(v), key)
        return F.element_at(as_map(v), F.lit(key))

    def child(self, name: str | None = None) -> "VariantView":
        return self

    item = as_value = child

    def prop_count(self, v: Column) -> Column:
        return F.size(F.map_keys(as_map(v)))

    def equals_any(self, v: Column, values: list) -> Column:
        return _reduce_or([_enum_value_pred(v, x) for x in values])

    def unique_items(self, v: Column) -> Column:
        return F.transform(as_arr(v), lambda x: _elem_canonical(x))


_VARIANT = VariantView()


def compile_variant_checks(
    schema: Any,
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
    anyof_detail_max: int | None = None,
    ref_unroll_max: int | None = None,
    pattern_lint: bool = True,
    _ctx: Ctx | None = None,
) -> list[Check]:
    """Compile a schema against a VariantType column: the keyword writer
    of jesse_spark.compiler over the runtime-typed view."""
    ctx = _root_ctx(schema, _ctx, draft, registry,
                    anyof_detail_max=anyof_detail_max,
                    ref_unroll_max=ref_unroll_max, pattern_lint=pattern_lint)
    # a SQL-null variant is an ABSENT value: every check passes (absent
    # properties are skipped, jesse_validator_draft4.erl:380-400)
    return [replace(c, pred=lambda v, p=c.pred: F.when(v.isNull(), F.lit(True))
                    .otherwise(p(v)))
            for c in _compile(schema, _VARIANT, ctx)]


def compile_variant_pred(
    schema: Any,
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
    ctx: Ctx | None = None,
) -> Builder:
    return _conj(compile_variant_checks(schema, registry=registry, draft=draft,
                                        _ctx=ctx))
