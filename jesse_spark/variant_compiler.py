"""Dynamic-typing compiler: the leaf JSON-Schema keywords over VariantType.

The reference is schema-on-read — type is discovered per value
(jesse_lib.erl:92-110) — and the JSON-Schema-Test-Suite exercises
heterogeneous instances.  This module compiles the leaf keywords against
a ``VariantType`` column with **runtime** type dispatch via
``schema_of_variant``, still 100% JVM-side expressions; ``$ref``
inlining and the combinators come from jesse_spark.compiler, shared
with the typed mode.

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

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jesse_spark.compiler import (
    Builder,
    Check,
    Ctx,
    _combinator_checks,
    _conj,
    _format_pred,
    _num_bound,
    _ref_checks,
    _reduce_or,
    _scoped,
    _validate_pattern,
)
from jesse_spark.errors import ErrorCodes as E
from jesse_spark.errors import SchemaError
from jesse_spark.schema.parser import (
    DRAFT3,
    DRAFT4,
    DRAFT6,
    SchemaRegistry,
    detect_draft,
    hoist_ref,
    normalize_schema,
)

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


def _present(m: Column, name: str) -> Column:
    """Property present (may still be JSON null)."""
    return F.map_contains_key(m, F.lit(name))


def _type_members(decl: Any, ctx: Ctx) -> list:
    """``type``/``disallow`` members for :func:`_type_name_pred`; draft3
    schema-valued ones compile here, once, as in compiler._type_pred."""
    members = []
    for name in decl if isinstance(decl, list) else [decl]:
        if isinstance(name, dict):
            if ctx.draft != DRAFT3:
                raise SchemaError(E.WRONG_TYPE_SPECIFICATION, name)
            name = compile_variant_pred(name, ctx=ctx)
        members.append(name)
    return members


def _type_name_pred(v: Column, name: Any, ctx: Ctx) -> Column:
    if callable(name):
        return name(v)
    if name == "string":
        return is_string(v)
    if name == "number":
        return is_number(v)
    if name == "integer":
        return is_integer(v, ctx.draft)
    if name == "boolean":
        return is_boolean(v)
    if name == "object":
        return is_object(v)
    if name == "array":
        return is_array(v)
    if name == "null":
        return is_null(v)
    if name == "any":
        return F.lit(True)
    raise SchemaError(E.WRONG_TYPE_SPECIFICATION, name)


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
                F.lit('"'),
                F.regexp_replace(F.regexp_replace(ent.getField("key"),
                                                  r"\\", r"\\\\"),
                                 '"', '\\\\"'),
                F.lit('":'),
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


def _guard(cond: Column, body: Column) -> Column:
    """Type-guarded keyword: inapplicable type → valid (jesse no-op)."""
    return F.when(cond, body).otherwise(F.lit(True))


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------
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
    if _ctx is None:
        _ctx = Ctx(draft=detect_draft(schema) if draft is None else draft,
                   registry=registry, root=schema,
                   anyof_detail_max=anyof_detail_max,
                   ref_unroll_max=ref_unroll_max,
                   pattern_lint=pattern_lint)
    ctx = _ctx
    schema = normalize_schema(schema, ctx.draft)
    ctx = _scoped(ctx, schema)
    schema = hoist_ref(schema)

    checks: list[Check] = []

    def add(constraint: str, pred: Builder, path: str = "",
            observed: Builder | None = None) -> None:
        checks.append(Check(constraint, path, pred,
                            observed or (lambda v: F.to_json(v))))

    def compile_sub(s: Any, c: Ctx) -> list[Check]:
        return compile_variant_checks(s, _ctx=c)

    def sub_pred(s: Any) -> Builder:
        return _conj(compile_sub(s, ctx))

    inlined = _ref_checks(schema, ctx, compile_sub, F.to_json)
    if inlined is not None:
        return inlined

    # ---- type / disallow --------------------------------------------------
    if "type" in schema:
        ns = _type_members(schema["type"], ctx)
        add(E.WRONG_TYPE,
            lambda v, ns=ns: _reduce_or([_type_name_pred(v, n, ctx) for n in ns]))
    if ctx.draft == DRAFT3 and "disallow" in schema:
        ns = _type_members(schema["disallow"], ctx)
        add(E.NOT_ALLOWED,
            lambda v, ns=ns: ~_reduce_or([_type_name_pred(v, n, ctx) for n in ns]))

    # ---- enum / const -------------------------------------------------------
    if "enum" in schema:
        vals = schema["enum"]
        if not isinstance(vals, list):
            raise SchemaError("schema_invalid", vals)
        add(E.NOT_IN_ENUM,
            lambda v, vs=vals: _reduce_or([_enum_value_pred(v, x) for x in vs]))
    if ctx.draft >= DRAFT6 and "const" in schema:
        add(E.NOT_IN_ENUM,
            lambda v, x=schema["const"]: _enum_value_pred(v, x))

    # ---- numeric ---------------------------------------------------------------
    if "minimum" in schema:
        m = _num_bound(schema["minimum"])
        excl = ctx.draft <= DRAFT4 and schema.get("exclusiveMinimum") is True
        add(E.NOT_IN_RANGE, lambda v, m=m, e=excl: _guard(
            is_number(v), (as_num(v) > m) if e else (as_num(v) >= m)))
    if "maximum" in schema:
        m = _num_bound(schema["maximum"])
        excl = ctx.draft <= DRAFT4 and schema.get("exclusiveMaximum") is True
        add(E.NOT_IN_RANGE, lambda v, m=m, e=excl: _guard(
            is_number(v), (as_num(v) < m) if e else (as_num(v) <= m)))
    if ctx.draft >= DRAFT6:
        for kw, op in (("exclusiveMinimum", "gt"), ("exclusiveMaximum", "lt")):
            b = schema.get(kw)
            if isinstance(b, (int, float)) and not isinstance(b, bool):
                b = _num_bound(b)
                add(E.NOT_IN_RANGE, lambda v, b=b, op=op: _guard(
                    is_number(v),
                    (as_num(v) > b) if op == "gt" else (as_num(v) < b)))
    kw = "divisibleBy" if ctx.draft == DRAFT3 else "multipleOf"
    if kw in schema:
        k = schema[kw]
        code = E.NOT_DIVISIBLE if ctx.draft == DRAFT3 else E.NOT_MULTIPLE_OF
        if not isinstance(k, (int, float)) or isinstance(k, bool):
            raise SchemaError(E.NOT_MULTIPLE_OF, k)
        if k == 0 and ctx.draft == DRAFT3:
            add(code, lambda v: _guard(is_number(v), F.lit(False)))
        elif k <= 0:
            raise SchemaError("wrong_multiple_of", k)
        else:
            # jesse's float-tolerant formula (jesse_validator_draft4.erl:1019-1029)
            add(code, lambda v, k=float(k): _guard(
                is_number(v),
                (as_num(v) / k - F.floor(as_num(v) / k)) * k == F.lit(0.0)))

    # ---- string ------------------------------------------------------------------
    if "minLength" in schema:
        n = schema["minLength"]
        add(E.WRONG_LENGTH, lambda v, n=n: _guard(is_string(v), F.length(as_str(v)) >= n))
    if "maxLength" in schema:
        n = schema["maxLength"]
        add(E.WRONG_LENGTH, lambda v, n=n: _guard(is_string(v), F.length(as_str(v)) <= n))
    if "pattern" in schema:
        p = schema["pattern"]
        _validate_pattern(p, ctx)
        add(E.NO_MATCH, lambda v, p=p: _guard(is_string(v), as_str(v).rlike(p)))
    if "format" in schema and ctx.draft != DRAFT3:
        fp = _format_pred(schema["format"])
        add(E.WRONG_FORMAT, lambda v, fp=fp: _guard(is_string(v), fp(as_str(v))))

    # ---- examples (draft6) -------------------------------------------------
    # jesse QUIRK reproduced faithfully: the instance must be an array
    # when the schema carries `examples` (jesse_validator_draft6.erl:
    # 157-165 checks is_array(Value); the spec calls it annotation)
    if ctx.draft >= DRAFT6 and "examples" in schema:
        add(E.NOT_ARRAY, lambda v: is_array(v))

    # ---- object -----------------------------------------------------------------
    props: dict = schema.get("properties", {}) or {}
    pattern_props: dict = schema.get("patternProperties", {}) or {}

    req: list[str] = []
    if ctx.draft >= DRAFT4:
        r = schema.get("required")
        if r is not None:
            if not isinstance(r, list):
                raise SchemaError("wrong_required_array", r)
            req = list(r)
    else:
        req = [n for n, s in props.items()
               if isinstance(s, dict) and s.get("required") is True]
    for name in req:
        add(E.MISSING_REQUIRED_PROPERTY,
            lambda v, n=name: _guard(is_object(v), _present(as_map(v), n)),
            observed=lambda v, n=name: F.lit(n))

    # per-keyword code granularity preserved through the recursion —
    # a failing {"properties": {"a": {"minLength": 1}}} reports
    # wrong_length at /a, not a collapsed not_schema_valid, exactly as
    # the typed compiler and jesse's error reports do
    # (jesse_validator_draft4.erl check_value recursion)
    for name, sub in props.items():
        for sc in compile_variant_checks(sub, _ctx=ctx):
            add(sc.constraint,
                (lambda n, p: lambda v: _guard(
                    is_object(v) & _present(as_map(v), n),
                    p(F.element_at(as_map(v), F.lit(n)))))(name, sc.pred),
                path=f"/{name}{sc.path}",
                observed=(lambda n, o: lambda v:
                          o(F.element_at(as_map(v), F.lit(n))))(
                              name, sc.observed))

    # patternProperties: same inner-code preservation as properties —
    # one forall per inner keyword check over the matching entries
    for pat, sub in pattern_props.items():
        _validate_pattern(pat, ctx)
        for sc in compile_variant_checks(sub, _ctx=ctx):
            add(sc.constraint,
                (lambda p, sp: lambda v: _guard(is_object(v), F.forall(
                    F.filter(F.map_entries(as_map(v)),
                             lambda e: e.getField("key").rlike(p)),
                    lambda e: sp(e.getField("value")))))(pat, sc.pred),
                path=f"/*{sc.path}")

    addl = schema.get("additionalProperties")
    if addl is not None and addl is not True:
        names = list(props.keys())
        pats = list(pattern_props.keys())

        def extra_keys(v: Column) -> Column:
            def is_extra(k: Column) -> Column:
                e = ~k.isin(*names) if names else F.lit(True)
                for p in pats:
                    e = e & ~k.rlike(p)
                return e
            return F.filter(F.map_keys(as_map(v)), is_extra)

        if addl is False:
            add(E.NO_EXTRA_PROPERTIES_ALLOWED,
                lambda v: _guard(is_object(v), F.size(extra_keys(v)) == 0),
                observed=lambda v: F.to_json(extra_keys(v)))
        else:
            # schema form: inner keyword codes survive over the extras
            for sc in compile_variant_checks(addl, _ctx=ctx):
                add(sc.constraint,
                    (lambda sp: lambda v: _guard(is_object(v), F.forall(
                        extra_keys(v),
                        lambda k: sp(F.element_at(as_map(v), k)))))(sc.pred),
                    path=f"/*{sc.path}")

    if ctx.draft >= DRAFT6 and "propertyNames" in schema:
        # names are plain strings → reuse the TYPED string compiler;
        # inner codes propagate (jesse_validator_draft6.erl:424-436)
        from jesse_spark.compiler import compile_checks as _typed_checks

        for sc in _typed_checks(schema["propertyNames"], T.StringType(),
                                null_is_absent=False, _ctx=ctx):
            add(sc.constraint,
                (lambda sp: lambda v: _guard(
                    is_object(v),
                    F.forall(F.map_keys(as_map(v)), lambda k: sp(k))))(
                        sc.pred),
                path=f"/*{sc.path}")

    for kw2, code, le in (("maxProperties", E.TOO_MANY_PROPERTIES, True),
                          ("minProperties", E.TOO_FEW_PROPERTIES, False)):
        if ctx.draft >= DRAFT4 and kw2 in schema:
            n = schema[kw2]
            if not isinstance(n, int) or isinstance(n, bool) or n < 0:
                raise SchemaError("wrong_%s_properties" % ("max" if le else "min"), n)
            add(code, lambda v, n=n, le=le: _guard(
                is_object(v),
                (F.size(F.map_keys(as_map(v))) <= n) if le
                else (F.size(F.map_keys(as_map(v))) >= n)))

    deps = schema.get("dependencies")
    if isinstance(deps, dict):
        for name, dep in deps.items():
            if isinstance(dep, list):
                for d in dep:
                    add(E.MISSING_DEPENDENCY, lambda v, n=name, d=d: _guard(
                        is_object(v) & _present(as_map(v), n),
                        _present(as_map(v), d)),
                        observed=lambda v, d=d: F.lit(d))
            elif isinstance(dep, str) and ctx.draft == DRAFT3:
                add(E.MISSING_DEPENDENCY, lambda v, n=name, d=dep: _guard(
                    is_object(v) & _present(as_map(v), n),
                    _present(as_map(v), d)),
                    observed=lambda v, d=dep: F.lit(d))
            else:
                # schema form: inner codes propagate, like the typed
                # compiler (jesse_validator_draft4.erl:653-661)
                for sc in compile_variant_checks(dep, _ctx=ctx):
                    add(sc.constraint,
                        (lambda n, sp: lambda v: _guard(
                            is_object(v) & _present(as_map(v), n),
                            sp(v)))(name, sc.pred),
                        path=sc.path, observed=sc.observed)

    # ---- array -----------------------------------------------------------------
    items = schema.get("items")
    if items is not None:
        if isinstance(items, list):
            # tuple form: inner keyword codes survive at /<i>, like the
            # typed compiler's recursion (compiler.py items tuple form)
            for i, sub in enumerate(items):
                for sc in compile_variant_checks(sub, _ctx=ctx):
                    add(sc.constraint,
                        (lambda i, p: lambda v: _guard(
                            is_array(v) & (F.size(as_arr(v)) > i),
                            p(F.get(as_arr(v), i))))(i, sc.pred),
                        path=f"/{i}{sc.path}",
                        observed=(lambda i, o: lambda v:
                                  o(F.get(as_arr(v), i)))(i, sc.observed))
            adl = schema.get("additionalItems")
            if adl is False:
                n = len(items)
                add(E.NO_EXTRA_ITEMS_ALLOWED, lambda v, n=n: _guard(
                    is_array(v), F.size(as_arr(v)) <= n))
            elif isinstance(adl, (dict, bool)) and adl is not True:
                ap = sub_pred(adl)
                n = len(items)
                add(E.NOT_SCHEMA_VALID, lambda v, n=n, ap=ap: _guard(
                    is_array(v), F.forall(
                        F.slice(as_arr(v), n + 1,
                                F.greatest(F.size(as_arr(v)) - n, F.lit(0))),
                        lambda x: ap(x))))
        else:
            # single-schema form: one forall per inner keyword check so
            # the element's own violation code surfaces at /*
            for sc in compile_variant_checks(items, _ctx=ctx):
                add(sc.constraint,
                    (lambda p: lambda v: _guard(
                        is_array(v),
                        F.forall(as_arr(v), lambda x: p(x))))(sc.pred),
                    path=f"/*{sc.path}")

    if "minItems" in schema:
        n = schema["minItems"]
        add(E.WRONG_SIZE, lambda v, n=n: _guard(is_array(v), F.size(as_arr(v)) >= n))
    if "maxItems" in schema:
        n = schema["maxItems"]
        add(E.WRONG_SIZE, lambda v, n=n: _guard(is_array(v), F.size(as_arr(v)) <= n))
    if schema.get("uniqueItems") is True:
        add(E.NOT_UNIQUE, lambda v: _guard(
            is_array(v),
            F.size(F.array_distinct(
                F.transform(as_arr(v), lambda x: _elem_canonical(x))))
            == F.size(as_arr(v))))
    if ctx.draft >= DRAFT6 and "contains" in schema:
        cp = sub_pred(schema["contains"])
        add(E.VALIDATION_ALWAYS_FAILS, lambda v, cp=cp: _guard(
            is_array(v), F.exists(as_arr(v), lambda x: cp(x))))

    checks.extend(_combinator_checks(schema, ctx, compile_sub, F.to_json))

    # ---- null/absent wrapper ----------------------------------------------------
    # a SQL-null variant is an ABSENT value: every check passes (absent
    # properties are skipped, jesse_validator_draft4.erl:380-400)
    return [Check(c.constraint, c.path,
                  (lambda pred: lambda v: F.when(v.isNull(), F.lit(True))
                   .otherwise(pred(v)))(c.pred),
                  c.observed)
            for c in checks]


def compile_variant_pred(
    schema: Any,
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
    ctx: Ctx | None = None,
) -> Builder:
    if ctx is None:
        ctx = Ctx(draft=detect_draft(schema) if draft is None else draft,
                  registry=registry, root=schema)
    return _conj(compile_variant_checks(schema, _ctx=ctx))
