"""Compile JSON-Schema keyword semantics into Catalyst ``Column`` predicates.

The reference validates one document at a time with a recursive fold over
the schema's attribute list (jesse_validator_draft4.erl:84-260 — one
function clause per keyword).  We compile the *same keyword semantics*
once, on the driver, into a list of :class:`Check` objects; each check is
a pure boolean Column expression builder.  Spark then evaluates **all**
checks for **all** rows in a single whole-stage-codegen projection — the
table-level generalization of jesse's single pass over the attribute
list (SURVEY.md §4 "Attribute-list single pass").

Design rules (scale-first):

- Everything row-level compiles to built-in ``pyspark.sql.functions``
  expressions — no Python UDFs anywhere in this module.  Higher-order
  functions (``forall`` / ``exists`` / ``filter`` / ``map_*``) cover the
  array/object keywords.
- One writer, two type views: the reference is schema-on-read (type
  discovered per value, jesse_lib.erl:92-110).  Each keyword is written
  once (:func:`_compile`) against a type view.  A :class:`TypedView`
  (a Spark column has one static type) resolves type-guarded keywords
  (e.g. ``minimum`` applies only ``if is_number(Value)`` —
  jesse_validator_draft4.erl:149-158) at **compile time**: an
  inapplicable keyword is not emitted, never a runtime branch.  The
  ``VariantView`` of jesse_spark.variant_compiler answers the same
  questions per row.
- Null semantics: a null *property* is "absent" (jesse skips absent
  properties, jesse_validator_draft4.erl:380-400); a null root value or
  array element is JSON ``null`` (its own type).  Controlled by
  ``null_is_absent`` at each recursion site.
"""

from __future__ import annotations

import re as _pyre
from dataclasses import dataclass, field, replace
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

MAX_REF_DEPTH = 16  # acyclic $ref chain bound (SURVEY §2.3 #30)
_REF_UNROLL_MAX = 8  # default recursive-$ref unroll depth (compile option)
# Total $ref inlining budget per compile.  Depth alone does not bound
# the EXPANSION: a schema with k $ref sites per level (the draft-4
# meta-schema has ~10) expands ~k^unroll subtrees.  Hitting this fails
# fast with guidance instead of an unbounded-looking hang/OOM.
_REF_EXPANSION_BUDGET = 10_000
_ANYOF_DETAIL_MAX = 24  # default anyOf branch-detail cap (compile option)


def _num_bound(m):
    """Schema numeric bound as a literal py4j can ship: ints beyond
    int64 (bignum schemas, optional/bignum.json) travel as doubles —
    numeric comparisons promote to double anyway, so precision is the
    same on both sides."""
    if isinstance(m, int) and not isinstance(m, bool) \
            and not -(2 ** 63) <= m < 2 ** 63:
        return float(m)
    return m


def _warn_ref_unroll(depth: int) -> None:
    import warnings

    warnings.warn(
        f"recursive $ref unrolled to depth {depth}; instances nested "
        "deeper than the unroll fail CLOSED with violation code "
        "'ref_unroll_exceeded'.  Pass ref_unroll_max to "
        "compile_checks/validate to raise the unroll depth.",
        stacklevel=4)


# Constructs whose support or semantics differ across the regex
# dialects in play: Erlang/PCRE (the reference compiles patterns with
# re, README.md:283-302 documents the caveat), java.util.regex (Spark's
# rlike executes the pattern on the cluster), and Python re (compile-
# time validation here).  A pattern using one of these can compile
# everywhere yet silently change meaning, or fail only at runtime on
# the executors — the lint surfaces that at plan-compile time.
_REGEX_TRAPS: list[tuple[str, str]] = [
    (r"\(\?P[<=]",
     "(?P<name>)/(?P=name) syntax is PCRE/Python-only; java.util.regex "
     "rejects it at runtime"),
    (r"(?<!\\)\\Z",
     r"\Z means absolute end in PCRE/Python but before-final-newline "
     r"in Java — the match set silently differs"),
    (r"(?<!\\)\\A",
     r"\A start-of-subject anchor: rlike is unanchored and multiline "
     "semantics differ across dialects; prefer ^ with explicit flags"),
    (r"(?<!\\)[*+?]\+|(?<!\\)\}\+",
     "possessive quantifiers (a++, a*+) are backtracking-engine "
     "extensions; unsupported by Python re < 3.11 and RE2-family "
     "engines, and subtly different under PCRE JIT"),
    (r"\(\?>",
     "atomic groups (?>...) are backtracking-engine extensions with "
     "dialect-dependent optimizer interactions"),
    (r"(?<!\\)\\[KGR]",
     r"\K/\G/\R are PCRE-only; java.util.regex rejects \K and treats "
     r"the others differently"),
    (r"\(\?\((?:\d|<|R)",
     "conditional groups (?(1)...) and recursion (?(R)...) are "
     "PCRE-only"),
    (r"\[\[:\w+:\]\]",
     "POSIX classes [[:alpha:]] are PCRE-only; Java parses them as a "
     "nested character class with different members"),
]


def _mask_char_classes(p: str) -> str:
    """Replace the interior of unescaped ``[...]`` character classes
    with ``x`` so quantifier-shaped chars inside a class (``[*+]+`` is a
    quantified class, not a possessive quantifier) don't trip the
    quantifier lints.  Handles escapes and the literal leading ``]``
    (``[]]`` / ``[^]]``) per both Java and Python class grammar."""
    out: list[str] = []
    i, n = 0, len(p)
    while i < n:
        ch = p[i]
        if ch == "\\" and i + 1 < n:
            out.append(p[i:i + 2])
            i += 2
            continue
        if ch != "[":
            out.append(ch)
            i += 1
            continue
        out.append("[")
        i += 1
        if i < n and p[i] == "^":
            out.append("^")
            i += 1
        if i < n and p[i] == "]":       # leading ] is a literal member
            out.append("x")
            i += 1
        while i < n and p[i] != "]":
            i += 2 if p[i] == "\\" and i + 1 < n else 1
            out.append("x")
        if i < n:                       # closing ]
            out.append("]")
            i += 1
    return "".join(out)


# traps whose findings would be false-positives on chars INSIDE a
# character class — matched against the class-masked pattern
_CLASS_BLIND_TRAPS = {r"(?<!\\)[*+?]\+|(?<!\\)\}\+", r"\(\?>"}


def _lint_pattern(p: str) -> list[str]:
    """Return portability findings for a schema ``pattern`` (empty ==
    clean).  Warn-only, mirroring the reference's documented-caveat
    posture (jesse README.md:283-302 documents its PCRE dialect rather
    than rejecting patterns)."""
    masked = _mask_char_classes(p)
    findings = [msg for trap, msg in _REGEX_TRAPS
                if _pyre.search(trap,
                                masked if trap in _CLASS_BLIND_TRAPS else p)]
    names = _pyre.findall(r"\(\?P?<([A-Za-z][A-Za-z0-9]*)>", p)
    dups = {n for n in names if names.count(n) > 1}
    if dups:
        findings.append(
            f"duplicate named group(s) {sorted(dups)}: PCRE allows them "
            "with the J flag; java.util.regex rejects the pattern at "
            "runtime")
    return findings


def _validate_pattern(p: str, ctx: "Ctx") -> str:
    """Compile-time regex validation + portability lint (compile
    option ``pattern_lint``, on by default).  Returns the pattern with
    Java named-group syntax normalized to Python's, for any further
    PYTHON-side use (rlike itself gets the original — it IS Java).

    The runtime dialect is java.util.regex (rlike), so Java's named-
    group syntax ``(?<name>...)`` — which Python's re rejects — is
    normalized to ``(?P<name>...)`` for the validation compile only.
    Duplicate named groups still fail the (normalized) compile, which
    is parity-correct: both java.util.regex and Erlang's default re
    options reject them too — but the lint warning fires first so the
    SchemaError is attributable."""
    norm = _pyre.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", p)
    findings = _lint_pattern(p) if ctx.pattern_lint else []
    if findings:
        import warnings

        warnings.warn(
            f"pattern {p!r} uses non-portable regex construct(s): "
            + "; ".join(findings)
            + ".  Pass pattern_lint=False to compile_checks/validate "
            "to silence.", stacklevel=4)
    try:
        _pyre.compile(norm)
    except _pyre.error as exc:  # surface bad regexes at compile time
        raise SchemaError("schema_invalid", f"pattern {p!r}: {exc}")
    return norm


def _warn_anyof_detail_dropped(total: int, cap: int) -> None:
    import warnings

    warnings.warn(
        f"anyOf branch detail dropped: {total} branch checks exceed the "
        f"detail cap ({cap}); violations will carry only the combinator "
        "verdict (any_schemas_not_valid) without per-branch detail. "
        "Pass anyof_detail_max to compile_checks/validate to raise it.",
        stacklevel=3)

# ---------------------------------------------------------------------------
# format regexes (jesse_validator_draft4.erl:975-1004; draft6 adds
# uri-reference at _draft6.erl:968-979; draft3 format is a no-op :851-852)
# ---------------------------------------------------------------------------
_EMAIL_RE = r"^[^@]+@[^@]+$"  # jesse's own permissive email regex
_IPV4_RE = (
    r"^((25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])$"
)
# standard RFC-4291 forms incl. :: compression (jesse delegates to
# inet:parse_address; this regex covers the same accepted set)
_IPV6_RE = (
    r"^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,7}:"
    r"|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
    r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
    r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:((:[0-9A-Fa-f]{1,4}){1,6})"
    r"|:((:[0-9A-Fa-f]{1,4}){1,7}|:))$"
)
_RFC3339_RE = (
    r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:?\d{2})$"
)


# ---------------------------------------------------------------------------
# static JSON-type classification of Spark types
# ---------------------------------------------------------------------------
_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def json_types_of(dtype: T.DataType) -> set[str]:
    """Static JSON type(s) a Spark type can hold.

    BinaryType counts as ``string`` (the audio ``bytes`` column is
    declared ``{"type": "string"}`` in the constraint suite —
    FIXTURES.md §1.1; JSON has no binary type)."""
    if isinstance(dtype, (T.StringType, T.BinaryType, T.CharType, T.VarcharType)):
        return {"string"}
    if isinstance(dtype, _INTEGRAL):
        return {"integer", "number"}
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return {"number"}
    if isinstance(dtype, T.DecimalType):
        return {"integer", "number"} if dtype.scale == 0 else {"number"}
    if isinstance(dtype, T.BooleanType):
        return {"boolean"}
    if isinstance(dtype, (T.StructType, T.MapType)):
        return {"object"}
    if isinstance(dtype, T.ArrayType):
        return {"array"}
    if isinstance(dtype, T.NullType):
        return {"null"}
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return {"string"}  # serialized form; format checks apply
    return set()


def _is_string(dtype: T.DataType) -> bool:
    return "string" in json_types_of(dtype)


# ---------------------------------------------------------------------------
# check model
# ---------------------------------------------------------------------------
Builder = Callable[[Column], Column]


@dataclass
class Check:
    """One compiled constraint: ``pred(col)`` is True when the instance
    at ``col`` satisfies it.  ``path`` is the JSON-pointer of the value
    checked (jesse's reversed current_path, jesse_state.erl:68-81);
    ``observed`` extracts the offending value as a string."""

    constraint: str
    path: str
    pred: Builder
    observed: Builder


# compile one subschema on the caller's type view
CompileSub = Callable[[Any, "Ctx"], "list[Check]"]


@dataclass(frozen=True)
class Ctx:
    draft: int
    registry: SchemaRegistry | None = None
    root: Any = None
    # current base-URI scope ($id/id combined on every descent —
    # jesse_state.erl:176-196 set_current_schema → combine_id)
    scope: str | None = None
    # anyOf branch-detail budget (compile option; None → module default)
    anyof_detail_max: int | None = None
    # ids of $ref targets on the current descent stack (cycle detection)
    ref_seen: tuple = ()
    # total $ref inlinings this compile (the one mutable field: SHARED
    # across the whole tree — replace()-derived contexts alias the same
    # list on purpose)
    ref_expansions: list = field(default_factory=lambda: [0])
    # recursive-$ref unroll budget (compile option; None → module default)
    ref_unroll_max: int | None = None
    # regex-portability lint on `pattern` keywords (compile option)
    pattern_lint: bool = True

    @property
    def detail_max(self) -> int:
        return _ANYOF_DETAIL_MAX if self.anyof_detail_max is None \
            else self.anyof_detail_max

    @property
    def unroll_max(self) -> int:
        return _REF_UNROLL_MAX if self.ref_unroll_max is None \
            else self.ref_unroll_max


def _null_skip(col: Column, body: Column) -> Column:
    return F.when(col.isNull(), F.lit(True)).otherwise(body)


def _as_str(col: Column) -> Column:
    return col.cast("string")


# ---------------------------------------------------------------------------
# enum / const — deep equality incl. 1 == 1.0, order-insensitive objects
# (jesse_lib.erl:218-261; normalize_and_sort jesse_lib.erl:147-197)
# ---------------------------------------------------------------------------
def _typed_deep_eq(col: Column, dtype: T.DataType, val: Any) -> Column:
    """Deep structural equality between a typed column and a Python JSON
    literal: object properties order-INsensitive (compared per key, so
    the literal's dict order never matters), arrays order-sensitive,
    numbers value-equal across int/float (1 == 1.0) — jesse's is_equal
    (jesse_lib.erl:218-261).  Null-safe: never returns SQL NULL."""
    st = json_types_of(dtype)
    if val is None:
        # JSON null; struct-field null ≡ absent is the documented
        # deviation (ARCHITECTURE.md), conflated here as in _present
        return col.isNull()
    if isinstance(val, bool):
        return F.coalesce(col == F.lit(val), F.lit(False)) if "boolean" in st else F.lit(False)
    if isinstance(val, (int, float)):
        if not ("number" in st or "integer" in st):
            return F.lit(False)
        # exact compare for int literal vs integral column — doubles
        # collide past 2^53 (9007199254740992 == 9007199254740993 under
        # cast('double')); mirrors the variant compiler's bignum branch
        # and jesse's arbitrary-precision equality (uniqueItemsExtra.json)
        if isinstance(val, int) and not isinstance(val, bool):
            if isinstance(dtype, (T.ByteType, T.ShortType,
                                  T.IntegerType, T.LongType)):
                if -(2 ** 63) <= val < 2 ** 63:
                    return F.coalesce(col == F.lit(val), F.lit(False))
                return F.lit(False)  # int64 column can't hold the literal
            if isinstance(dtype, T.DecimalType) and dtype.scale == 0:
                return F.coalesce(
                    col == F.lit(str(val)).cast(dtype), F.lit(False))
        # cross int/float comparison: value equality via double, like
        # jesse's float normalization (jesse_lib.erl:177-181)
        return F.coalesce(col.cast("double") == F.lit(float(val)), F.lit(False))
    if isinstance(val, str):
        return F.coalesce(col == F.lit(val), F.lit(False)) if "string" in st else F.lit(False)
    if isinstance(val, list):
        if not isinstance(dtype, T.ArrayType):
            return F.lit(False)
        body = F.coalesce(F.size(col) == len(val), F.lit(False))
        for i, x in enumerate(val):
            body = body & _typed_deep_eq(F.get(col, i), dtype.elementType, x)
        return body
    if isinstance(val, dict):
        if isinstance(dtype, T.StructType):
            names = set(dtype.fieldNames())
            if not set(val).issubset(names):
                return F.lit(False)  # literal key the static type can't hold
            body = col.isNotNull()
            for f in dtype.fieldNames():
                fc = _struct_get(col, f)
                if f in val:
                    body = body & _typed_deep_eq(fc, dtype[f].dataType, val[f])
                else:
                    body = body & fc.isNull()  # extra property ⇒ unequal
            return body
        if isinstance(dtype, T.MapType):
            body = F.coalesce(F.size(F.map_keys(col)) == len(val), F.lit(False))
            for k, x in val.items():
                body = (body & F.coalesce(F.map_contains_key(col, F.lit(k)), F.lit(False))
                        & _typed_deep_eq(_map_get(col, k), dtype.valueType, x))
            return body
        return F.lit(False)
    return F.lit(False)


# ---------------------------------------------------------------------------
# object helpers
# ---------------------------------------------------------------------------
def _struct_get(col: Column, name: str) -> Column:
    return col.getField(name)


def _map_get(col: Column, name: str) -> Column:
    return F.element_at(col, F.lit(name))


def _present(col: Column, dtype: T.DataType, name: str) -> Column:
    """Property presence.  Struct field: non-null (absence ≡ null —
    documented deviation, Spark rows can't distinguish).  Map: key
    membership (true absence)."""
    if isinstance(dtype, T.StructType):
        if name not in dtype.fieldNames():
            return F.lit(False)
        return _struct_get(col, name).isNotNull()
    if isinstance(dtype, T.MapType):
        return F.map_contains_key(col, F.lit(name))
    return F.lit(False)


def _contains_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def _json_escape(c: Column) -> Column:
    """Escape backslash + quote so canonical strings can't forge the
    object/array delimiters of the rendering (a key like 'a\",\"b\":1'
    must not collide with a two-key object)."""
    return F.regexp_replace(
        F.regexp_replace(c, r"\\", r"\\\\"), '"', '\\\\"')


def _typed_canonical(col: Column, dtype: T.DataType) -> Column:
    """Canonical text rendering for equality grouping (uniqueItems over
    elements containing maps, which Spark can't compare natively):
    map entries key-SORTED (order-insensitive objects,
    jesse_lib.erl:147-197 normalize_and_sort), numbers as double.
    Struct fields render in sorted-name order for symmetry."""
    if isinstance(dtype, _NUMERIC):
        # integral types render exactly (bignums past 2^53 must not
        # collide); a typed array's elements all share one static type,
        # so the int-vs-float "1" / "1.0" split can never occur within
        # one uniqueItems comparison
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                              T.LongType)) or (
                isinstance(dtype, T.DecimalType) and dtype.scale == 0):
            return F.coalesce(col.cast("string"), F.lit("null"))
        return F.coalesce(col.cast("double").cast("string"), F.lit("null"))
    if isinstance(dtype, T.StructType):
        parts = [
            F.concat(F.lit(f'"{f.name}":'),
                     _typed_canonical(_struct_get(col, f.name), f.dataType))
            for f in sorted(dtype.fields, key=lambda f: f.name)
        ]
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit("{"), F.concat_ws(",", *parts), F.lit("}")))
    if isinstance(dtype, T.MapType):
        entries = F.array_sort(
            F.map_entries(col),
            lambda a, b: F.when(a.getField("key") < b.getField("key"), F.lit(-1))
            .when(a.getField("key") > b.getField("key"), F.lit(1))
            .otherwise(F.lit(0)),
        )
        inner = F.array_join(
            F.transform(entries, lambda e: F.concat(
                F.lit('"'), _json_escape(e.getField("key").cast("string")),
                F.lit('":'),
                _typed_canonical(e.getField("value"), dtype.valueType))),
            ",")
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit("{"), inner, F.lit("}")))
    if isinstance(dtype, T.ArrayType):
        inner = F.array_join(
            F.transform(col, lambda e: _typed_canonical(e, dtype.elementType)), ",")
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit("["), inner, F.lit("]")))
    if _is_string(dtype):
        return F.when(col.isNull(), F.lit("null")).otherwise(
            F.concat(F.lit('"'), _json_escape(col.cast("string")), F.lit('"')))
    return F.coalesce(col.cast("string"), F.lit("null"))


# ---------------------------------------------------------------------------
# type views: what the two modes differ in, static vs runtime type
# ---------------------------------------------------------------------------
_TYPE_NAMES = ("string", "number", "integer", "boolean", "object", "array",
               "null", "any")


class TypedView:
    """A value of static Spark type ``dtype`` (typed mode).  Every type
    question is answered at compile time: a keyword block whose type
    the column can't hold is never emitted, and an applicable keyword
    only skips SQL null.  A SQL null is an absent value when
    ``null_is_absent`` (a property), else JSON ``null`` (a root value or
    an array element).  The variant-mode counterpart is
    ``jesse_spark.variant_compiler.VariantView``."""

    observed = staticmethod(_as_str)

    def __init__(self, dtype: T.DataType, null_is_absent: bool = False) -> None:
        self.dtype = dtype
        self.null_is_absent = null_is_absent
        self.types = json_types_of(dtype)
        # the writer's two static shapes: per-field object checks, and
        # the exact integral multipleOf
        self.fields = dtype.fieldNames() if isinstance(dtype, T.StructType) else None
        self.integral = isinstance(dtype, _INTEGRAL)

    def may(self, jtype: str) -> bool:
        return jtype in self.types

    def has(self, c: Column, jtype: str, draft: int | None = None) -> bool | Column:
        """Whether the present (non-null) value is of JSON type
        ``jtype``.  draft4 ``integer`` means an actual integer
        (is_integer/1, jesse_validator_draft4.erl:306-312); draft6 also
        accepts floats with zero fractional part (_draft6.erl:341-359)."""
        if jtype == "any":  # draft3 only (jesse_validator_draft3.erl:296)
            return True
        if jtype == "null":
            return False
        if jtype == "integer" and "number" in self.types \
                and "integer" not in self.types:
            # 1.0 is an integer in draft6; round(x) == x, not floor
            # (floor(double) returns LONG and overflows past 2^63)
            return c == F.round(c) if draft >= DRAFT6 else False
        return jtype in self.types

    @staticmethod
    def guard(jtype: str, body: Builder) -> Builder:
        return lambda c: _null_skip(c, body(c))

    @staticmethod
    def num(c: Column) -> Column:
        return c

    str = obj = arr = num

    def present(self, c: Column, name: str) -> Column:
        return _present(c, self.dtype, name)

    def absent(self, c: Column, key: str | int) -> Column:
        if isinstance(key, int):
            return c.isNull() | (F.size(c) <= key)
        return c.isNull() | ~self.present(c, key)

    def get(self, c: Column, key: str | int) -> Column:
        if isinstance(key, int):
            return F.get(c, key)
        return _struct_get(c, key) if self.fields is not None else _map_get(c, key)

    def child(self, name: str | None = None) -> "TypedView":
        """View of property ``name``, or of any map value."""
        if self.fields is not None:
            return TypedView(self.dtype[name].dataType, True)
        return TypedView(self.dtype.valueType, True)

    def item(self) -> "TypedView":
        return TypedView(self.dtype.elementType, False)

    def as_value(self) -> "TypedView":
        """This value again, with null read as JSON null."""
        return TypedView(self.dtype, False)

    def prop_count(self, c: Column) -> Column:
        if self.fields is None:
            return F.size(F.map_keys(c))
        cnt = F.lit(0)
        for f in self.fields:
            cnt = cnt + _struct_get(c, f).isNotNull().cast("int")
        return cnt

    def equals_any(self, c: Column, values: list) -> Column:
        """Deep equality with any of ``values`` (None members are the
        caller's null case): scalar columns take one ``isin``."""
        st, dtype = self.types, self.dtype
        nonnull = [v for v in values if v is not None]

        def _scalar_compat(v: Any) -> bool:
            if isinstance(v, bool):
                return "boolean" in st
            if isinstance(v, (int, float)):
                return "number" in st or "integer" in st
            return isinstance(v, str) and "string" in st

        def _isin_safe(v: Any) -> bool:
            # ints beyond int64 can't travel as literals (py4j) — they go
            # through _typed_deep_eq (False on integral cols, double
            # compare on float cols)
            return not (isinstance(v, int) and not isinstance(v, bool)
                        and not -(2 ** 63) <= v < 2 ** 63)

        if nonnull and all(isinstance(v, (bool, int, float, str)) for v in nonnull) \
                and not isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
            compat = [v for v in nonnull if _scalar_compat(v)]
            small = [v for v in compat if _isin_safe(v)]
            # isin coerces to a common type, giving 1 == 1.0 for free
            body = c.isin(*small) if small else F.lit(False)
            for v in compat:
                if not _isin_safe(v):
                    body = body | _typed_deep_eq(c, dtype, v)
            return body
        body = F.lit(False)
        for v in nonnull:
            body = body | _typed_deep_eq(c, dtype, v)
        return body

    def unique_items(self, c: Column) -> Column:
        """The elements in a form ``array_distinct`` compares by JSON
        equality: native, unless they hold maps, which Spark can't
        compare — then canonical text (key-sorted entries,
        order-insensitive like jesse_lib:147-197)."""
        elem = self.dtype.elementType
        if not _contains_map(elem):
            return c
        return F.transform(c, lambda e: _typed_canonical(e, elem))


# ---------------------------------------------------------------------------
# the keyword writer: every keyword once, for both type views
# ---------------------------------------------------------------------------
def _root_ctx(schema: Any, ctx: Ctx | None, draft: int | None,
              registry: SchemaRegistry | None, **opts: Any) -> Ctx:
    """The compile context of a top-level call (``ctx`` when given)."""
    if ctx is not None:
        return ctx
    return Ctx(draft=detect_draft(schema) if draft is None else draft,
               registry=registry, root=schema, **opts)


def compile_checks(
    schema: Any,
    dtype: T.DataType,
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
    null_is_absent: bool = False,
    anyof_detail_max: int | None = None,
    ref_unroll_max: int | None = None,
    pattern_lint: bool = True,
    _ctx: Ctx | None = None,
) -> list[Check]:
    """Compile a schema against a static Spark type into a flat list of
    per-keyword :class:`Check` objects (granular, with JSON-pointer
    paths) — the engine analog of jesse's attr-list fold
    (jesse_validator_draft4.erl:84-260)."""
    ctx = _root_ctx(schema, _ctx, draft, registry,
                    anyof_detail_max=anyof_detail_max,
                    ref_unroll_max=ref_unroll_max, pattern_lint=pattern_lint)
    return _compile(schema, TypedView(dtype, null_is_absent), ctx)


def _compile(schema: Any, view: Any, ctx: Ctx) -> list[Check]:
    """The checks of ``schema`` on the value ``view`` describes (a
    :class:`TypedView` or a ``VariantView``).  The one recursion entry
    of both modes; the view answers every type question."""
    schema = normalize_schema(schema, ctx.draft)
    ctx = _scoped(ctx, schema)
    schema = hoist_ref(schema)

    def compile_sub(s: Any, c: Ctx) -> list[Check]:
        return _compile(s, view, c)

    inlined = _ref_checks(schema, ctx, compile_sub, view.observed)
    if inlined is not None:
        return inlined

    checks: list[Check] = []

    def add(constraint: str, pred: Builder) -> None:
        checks.append(Check(constraint, "", pred, view.observed))

    # ---- type / disallow ------------------------------------------------
    if "type" in schema:
        add(E.WRONG_TYPE, _type_pred(schema["type"], view, ctx, view.null_is_absent))
    if ctx.draft == DRAFT3 and "disallow" in schema:
        tp = _type_pred(schema["disallow"], view, ctx, True)
        add(E.NOT_ALLOWED, lambda c, tp=tp: _null_skip(c, ~tp(c)))

    # ---- enum / const ----------------------------------------------------
    if "enum" in schema:
        vals = schema["enum"]
        if not isinstance(vals, list):
            raise SchemaError("schema_invalid", vals)
        add(E.NOT_IN_ENUM, _enum_pred(vals, view))
    if ctx.draft >= DRAFT6 and "const" in schema:
        # const ≡ 1-element enum (jesse_validator_draft6.erl:249-251)
        add(E.NOT_IN_ENUM, _enum_pred([schema["const"]], view))

    # ---- numeric range ---------------------------------------------------
    # a type-guarded keyword applies only to its type, e.g. minimum
    # ``if is_number(Value)`` (jesse_validator_draft4.erl:149-158)
    num = view.num
    if view.may("number"):
        if "minimum" in schema:
            m = _num_bound(schema["minimum"])
            excl = ctx.draft <= DRAFT4 and schema.get("exclusiveMinimum") is True
            add(E.NOT_IN_RANGE, view.guard("number", lambda c, m=m, e=excl: (
                num(c) > F.lit(m)) if e else (num(c) >= F.lit(m))))
        if "maximum" in schema:
            m = _num_bound(schema["maximum"])
            excl = ctx.draft <= DRAFT4 and schema.get("exclusiveMaximum") is True
            add(E.NOT_IN_RANGE, view.guard("number", lambda c, m=m, e=excl: (
                num(c) < F.lit(m)) if e else (num(c) <= F.lit(m))))
        if ctx.draft >= DRAFT6:
            # numeric-valued exclusive bounds (jesse_validator_draft6.erl:178-209)
            if isinstance(schema.get("exclusiveMinimum"), (int, float)) and not isinstance(schema.get("exclusiveMinimum"), bool):
                m = _num_bound(schema["exclusiveMinimum"])
                add(E.NOT_IN_RANGE, view.guard("number", lambda c, m=m: num(c) > F.lit(m)))
            if isinstance(schema.get("exclusiveMaximum"), (int, float)) and not isinstance(schema.get("exclusiveMaximum"), bool):
                m = _num_bound(schema["exclusiveMaximum"])
                add(E.NOT_IN_RANGE, view.guard("number", lambda c, m=m: num(c) < F.lit(m)))
        kw = "divisibleBy" if ctx.draft == DRAFT3 else "multipleOf"
        if kw in schema:
            k = schema[kw]
            code = E.NOT_DIVISIBLE if ctx.draft == DRAFT3 else E.NOT_MULTIPLE_OF
            if not isinstance(k, (int, float)) or isinstance(k, bool):
                raise SchemaError(E.NOT_MULTIPLE_OF, k)
            if k == 0 and ctx.draft == DRAFT3:
                # draft3: data-invalid, not schema-invalid (D3:860-861)
                add(code, view.guard("number", lambda c: F.lit(False)))
            elif k <= 0:
                raise SchemaError("wrong_multiple_of", k)
            elif view.integral and isinstance(k, int):
                add(code, view.guard("number", lambda c, k=k: num(c) % F.lit(k) == 0))
            else:
                # jesse's float-tolerant formula, literally
                # (jesse_validator_draft4.erl:1019-1029)
                add(code, view.guard("number", lambda c, k=_num_bound(k): (
                    num(c) / F.lit(k) - F.floor(num(c) / F.lit(k))) * F.lit(k) == F.lit(0.0)))

    # ---- string length / pattern / format ---------------------------------
    if view.may("string"):
        # F.length counts code points on strings — matches jesse's
        # unicode-length (jesse_validator_draft4.erl:915-920)
        if "minLength" in schema:
            n = schema["minLength"]
            add(E.WRONG_LENGTH, view.guard("string", lambda c, n=n: F.length(view.str(c)) >= n))
        if "maxLength" in schema:
            n = schema["maxLength"]
            add(E.WRONG_LENGTH, view.guard("string", lambda c, n=n: F.length(view.str(c)) <= n))
        if "pattern" in schema:
            p = schema["pattern"]
            _validate_pattern(p, ctx)
            add(E.NO_MATCH, view.guard("string", lambda c, p=p: view.str(c).rlike(p)))
        if "format" in schema and ctx.draft != DRAFT3:
            # draft3 format check is a no-op (jesse_validator_draft3.erl:851-852)
            fmt = _format_body(schema["format"])
            add(E.WRONG_FORMAT, view.guard("string", lambda c: fmt(view.str(c)))
                if fmt else lambda c: F.lit(True))

    # ---- examples (draft6) ---------------------------------------------
    # jesse QUIRK, reproduced faithfully: an `examples`-bearing draft6
    # schema requires the INSTANCE to be an array (not_array otherwise)
    # — jesse_validator_draft6.erl:157-165 checks is_array(Value), not
    # the keyword's own value, although the spec calls it annotation
    if ctx.draft >= DRAFT6 and "examples" in schema:
        add(E.NOT_ARRAY, lambda c: _null_skip(c, F.lit(view.has(c, "array"))))

    if view.may("object"):
        checks.extend(_object_checks(schema, view, ctx))
    if view.may("array"):
        checks.extend(_array_checks(schema, view, ctx))

    # ---- combinators (boolean algebra over combined sub-preds) -------------
    checks.extend(_combinator_checks(schema, ctx, compile_sub, view.observed))

    return checks


def _type_pred(decl: Any, view: Any, ctx: Ctx, null_is_absent: bool) -> Builder:
    """``type``/``disallow`` membership.  Draft3 schema-valued members
    (jesse_validator_draft3.erl:304-328) compile here, once: a bad
    member fails the compile, and every render reuses the builders.  An
    unknown type name fails the compile too (wrong_type_specification)
    rather than compiling a check no value can pass."""
    names = decl if isinstance(decl, list) else [decl]
    members: list[str | Builder] = []
    for n in names:
        if isinstance(n, dict) and ctx.draft == DRAFT3:
            members.append(_conj(_compile(n, view.as_value(), ctx)))
        elif isinstance(n, str) and n in _TYPE_NAMES:
            members.append(n)
        else:
            raise SchemaError(E.WRONG_TYPE_SPECIFICATION, decl)
    null_ok = null_is_absent or "null" in names or "any" in names

    def pred(col: Column) -> Column:
        present_ok = F.lit(False)
        for m in members:
            present_ok = present_ok | (
                F.lit(view.has(col, m, ctx.draft)) if isinstance(m, str)
                else m(col))
        return F.when(col.isNull(), F.lit(null_ok)).otherwise(present_ok)
    return pred


def _enum_pred(values: list, view: Any) -> Builder:
    """``enum``: deep equality with a member, incl. 1 == 1.0 and
    order-insensitive objects (jesse_lib.erl:218-261)."""
    null_ok = view.null_is_absent or any(v is None for v in values)
    return lambda c: F.when(c.isNull(), F.lit(null_ok)).otherwise(
        F.coalesce(view.equals_any(c, values), F.lit(False)))


def _ref_checks(schema: dict, ctx: Ctx, compile_sub: CompileSub,
                observed: Builder) -> list[Check] | None:
    """Compile-time ``$ref`` inlining for both compilers
    (jesse_state.erl:206-259): resolve the ref, then recurse into the
    target through the caller's ``compile_sub``.  None when the schema
    has no ``$ref``.

    Recursive refs (jesse resolves lazily; plan inlining can't) are
    UNROLLED: each revisit of the same target node spends one unit of
    the unroll budget; at the budget a single fail-closed check replaces
    the subtree, so an instance nested deeper than the unroll is flagged
    (code ref_unroll_exceeded) rather than silently accepted.  The pred
    sits under the ancestors' presence guards, so only instances that
    actually REACH the cutoff depth fire it.  ref_seen holds the resolved
    TARGET NODES themselves (not id()s): the tuple's strong references
    guarantee no node on the stack is collected, so identity comparison
    can't be fooled by CPython id reuse."""
    if "$ref" not in schema:
        return None
    reg = ctx.registry or SchemaRegistry()
    target, new_root, new_scope = reg.resolve_ref(
        schema["$ref"], ctx.root, scope=ctx.scope)
    if sum(1 for t in ctx.ref_seen if t is target) >= ctx.unroll_max:
        _warn_ref_unroll(ctx.unroll_max)
        return [Check(E.REF_UNROLL_EXCEEDED, "", lambda v: F.lit(False), observed)]
    if len({id(t) for t in ctx.ref_seen}) >= MAX_REF_DEPTH:
        raise SchemaError("schema_unsupported",
                          f"$ref chain deeper than {MAX_REF_DEPTH}")
    ctx.ref_expansions[0] += 1
    if ctx.ref_expansions[0] > _REF_EXPANSION_BUDGET:
        raise SchemaError(
            "schema_unsupported",
            f"$ref expansion exceeds {_REF_EXPANSION_BUDGET} nodes "
            "(a schema with many refs per level grows ~k^unroll); "
            "lower ref_unroll_max to bound the inlined plan")
    # a remote document re-dispatches its own $schema dialect
    # (jesse_state.erl:233-241; CHANGELOG.md:61-63)
    new_draft = (ctx.draft if new_root is ctx.root
                 else detect_draft(new_root, default=ctx.draft))
    return compile_sub(target, replace(
        ctx, draft=new_draft, root=new_root, scope=new_scope,
        ref_seen=ctx.ref_seen + (target,)))


def _format_body(fmt: str) -> Builder | None:
    """The check of a string against ``format``
    (jesse_validator_draft4.erl:975-1004, +1340-1354 date-time); None
    for hostname/uri/uri-reference and unknown formats, which pass
    unvalidated (jesse_validator_draft4.erl:1000-1004;
    _draft6.erl:968-979)."""
    if fmt == "date-time":
        return lambda c: c.rlike(_RFC3339_RE) & F.try_to_timestamp(
            F.regexp_replace(F.regexp_replace(c, "[Tt]", " "), "[Zz]$", "+00:00")
        ).isNotNull()
    if fmt == "email":
        return lambda c: c.rlike(_EMAIL_RE)
    if fmt == "ipv4":
        return lambda c: c.rlike(_IPV4_RE)
    if fmt == "ipv6":
        return lambda c: c.rlike(_IPV6_RE)
    return None


# ---------------------------------------------------------------------------
# objects
# ---------------------------------------------------------------------------
def _at(view: Any, key: str | int, sub_checks: list[Check]) -> list[Check]:
    """``sub_checks`` moved to the value at ``key`` (a property name or
    an array index), each passing where that value is absent
    (jesse_validator_draft4.erl:380-400)."""
    return [Check(sc.constraint, f"/{key}{sc.path}",
                  lambda c, k=key, p=sc.pred: F.when(
                      view.absent(c, k), F.lit(True)).otherwise(p(view.get(c, k))),
                  lambda c, k=key, o=sc.observed: o(view.get(c, k)))
            for sc in sub_checks]


def _every(sub_checks: list[Check], pred: Callable[[Builder], Builder],
           observed: Builder) -> list[Check]:
    """``sub_checks`` over runtime keys or elements: one check per inner
    keyword, so each keeps its own code (jesse's error granularity); the
    path is the wildcard ``/*``."""
    return [Check(sc.constraint, f"/*{sc.path}", pred(sc.pred), observed)
            for sc in sub_checks]


def _object_checks(schema: dict, view: Any, ctx: Ctx) -> list[Check]:
    """Object keywords.  A view with static ``fields`` (a struct) gets
    per-field checks at ``/<name>``; runtime keys (a map, a variant)
    get ``/*`` checks."""
    checks: list[Check] = []
    props: dict = schema.get("properties", {}) or {}
    pattern_props: dict = schema.get("patternProperties", {}) or {}
    fields = view.fields

    def keys_of(c: Column) -> Column:
        return _as_str(F.map_keys(view.obj(c)))

    # ---- required ----------------------------------------------------------
    req: list[str] = []
    if ctx.draft >= DRAFT4:
        r = schema.get("required")
        if r is not None:
            if not isinstance(r, list):
                raise SchemaError("wrong_required_array", r)
            req = list(r)  # draft6 allows [] (jesse_validator_draft6.erl:1019-1020)
    else:
        # draft3: boolean `required` inside each property schema
        # (jesse_validator_draft3.erl:351-368)
        req = [n for n, s in props.items()
               if isinstance(s, dict) and s.get("required") is True]
    for name in req:
        checks.append(Check(
            E.MISSING_REQUIRED_PROPERTY, "",
            view.guard("object", lambda c, n=name: view.present(c, n)),
            lambda c, n=name: F.lit(n)))

    # ---- properties (recursion) --------------------------------------------
    for name, sub in props.items():
        if fields is None or name in fields:  # a missing field is always absent
            checks.extend(_at(view, name, _compile(sub, view.child(name), ctx)))

    # ---- patternProperties ---------------------------------------------------
    matched_by_pattern: set[str] = set()
    for pat, sub in pattern_props.items():
        rx = _pyre.compile(_validate_pattern(pat, ctx))
        if fields is not None:
            for name in fields:
                if rx.search(name):
                    matched_by_pattern.add(name)
                    checks.extend(_at(view, name, _compile(sub, view.child(name), ctx)))
        else:
            checks.extend(_every(
                _compile(sub, view.child(), ctx),
                lambda sp, p=pat: view.guard("object", lambda c: F.forall(
                    F.filter(F.map_entries(view.obj(c)),
                             lambda e: e.getField("key").rlike(p)),
                    lambda e: sp(e.getField("value")))),
                keys_of))

    # ---- additionalProperties (set algebra, D4:431-507) -----------------------
    addl = schema.get("additionalProperties")
    if addl is not None and addl is not True:
        if fields is not None:
            for name in fields:
                if name in props or name in matched_by_pattern:
                    continue
                if addl is False:
                    checks.append(Check(
                        E.NO_EXTRA_PROPERTIES_ALLOWED, f"/{name}",
                        view.guard("object", lambda c, n=name: ~view.present(c, n)),
                        lambda c, n=name: F.lit(n)))
                else:
                    checks.extend(_at(view, name, _compile(addl, view.child(name), ctx)))
        else:
            pats = list(pattern_props.keys())
            names = list(props.keys())

            def extra_keys(c: Column) -> Column:
                def is_extra(k: Column) -> Column:
                    e = ~k.isin(*names) if names else F.lit(True)
                    for p in pats:
                        e = e & ~k.rlike(p)
                    return e
                return F.filter(F.map_keys(view.obj(c)), is_extra)

            def extras_of(c: Column) -> Column:
                return _as_str(extra_keys(c))

            if addl is False:
                checks.append(Check(
                    E.NO_EXTRA_PROPERTIES_ALLOWED, "",
                    view.guard("object", lambda c: F.size(extra_keys(c)) == 0),
                    extras_of))
            else:
                checks.extend(_every(
                    _compile(addl, view.child(), ctx),
                    lambda sp: view.guard("object", lambda c: F.forall(
                        extra_keys(c), lambda k: sp(F.element_at(view.obj(c), k)))),
                    extras_of))

    # ---- propertyNames (draft6, jesse_validator_draft6.erl:114-125,424-436) ----
    if ctx.draft >= DRAFT6 and "propertyNames" in schema:
        # names are strings in both modes; inner codes propagate: jesse
        # re-enters check_value on each NAME (jesse_validator_draft6.erl:
        # 424-436), so a too-long key reports wrong_length, not a
        # collapsed not_schema_valid
        name_checks = _compile(schema["propertyNames"], TypedView(T.StringType()), ctx)
        if fields is not None:
            # static field names → constant-folded per-field presence check
            for name in fields:
                for sc in name_checks:
                    checks.append(Check(
                        sc.constraint, f"/{name}{sc.path}",
                        view.guard("object", lambda c, n=name, sp=sc.pred:
                                   ~view.present(c, n) | sp(F.lit(n))),
                        lambda c, n=name: F.lit(n)))
        else:
            checks.extend(_every(
                name_checks,
                lambda sp: view.guard("object", lambda c: F.forall(
                    F.map_keys(view.obj(c)), lambda k: sp(k))),
                keys_of))

    # ---- min/maxProperties (D4:1073-1107) ---------------------------------------
    for kw, code, cmp in (("maxProperties", E.TOO_MANY_PROPERTIES, "le"),
                          ("minProperties", E.TOO_FEW_PROPERTIES, "ge")):
        if ctx.draft >= DRAFT4 and kw in schema:
            n = schema[kw]
            if not isinstance(n, int) or isinstance(n, bool) or n < 0:
                raise SchemaError("wrong_" + ("max" if cmp == "le" else "min") + "_properties", n)
            checks.append(Check(
                code, "",
                view.guard("object", lambda c, n=n, cmp=cmp: (
                    view.prop_count(c) <= n) if cmp == "le" else (view.prop_count(c) >= n)),
                lambda c: _as_str(view.prop_count(c))))

    # ---- dependencies (D4:637-694) ------------------------------------------------
    deps = schema.get("dependencies")
    if isinstance(deps, dict):
        for name, dep in deps.items():
            if isinstance(dep, list) or (isinstance(dep, str) and ctx.draft == DRAFT3):
                # array form (draft3 also a single name): co-presence
                for d in dep if isinstance(dep, list) else [dep]:
                    checks.append(Check(
                        E.MISSING_DEPENDENCY, "",
                        view.guard("object", lambda c, n=name, d=d:
                                   ~view.present(c, n) | view.present(c, d)),
                        lambda c, d=d: F.lit(d)))
            else:
                # schema form: whole instance validates against the
                # sub-schema; inner codes propagate — jesse re-enters
                # check_value here (jesse_validator_draft4.erl:653-661),
                # so failures carry the inner keyword's code
                for sc in _compile(dep, view.as_value(), ctx):
                    checks.append(Check(
                        sc.constraint, sc.path,
                        view.guard("object", lambda c, n=name, sp=sc.pred:
                                   ~view.present(c, n) | sp(c)),
                        sc.observed))

    return checks


# ---------------------------------------------------------------------------
# arrays
# ---------------------------------------------------------------------------
def _array_checks(schema: dict, view: Any, ctx: Ctx) -> list[Check]:
    checks: list[Check] = []
    arr = view.arr

    def size_of(c: Column) -> Column:
        return _as_str(F.size(arr(c)))

    if "minItems" in schema:
        n = schema["minItems"]
        checks.append(Check(E.WRONG_SIZE, "",
                            view.guard("array", lambda c, n=n: F.size(arr(c)) >= n),
                            size_of))
    if "maxItems" in schema:
        n = schema["maxItems"]
        checks.append(Check(E.WRONG_SIZE, "",
                            view.guard("array", lambda c, n=n: F.size(arr(c)) <= n),
                            size_of))

    if schema.get("uniqueItems") is True:
        # in-row: exact distinct-count equality — same check as jesse's
        # O(n) set-cardinality phase (D4:846-855)
        checks.append(Check(
            E.NOT_UNIQUE, "",
            view.guard("array", lambda c: F.size(F.array_distinct(
                view.unique_items(c))) == F.size(arr(c))),
            view.observed))

    items = schema.get("items")
    if items is not None:
        if isinstance(items, list):
            # tuple form (D4:565-603)
            for i, sub in enumerate(items):
                checks.extend(_at(view, i, _compile(sub, view.item(), ctx)))
            addl = schema.get("additionalItems")
            n = len(items)
            if addl is False:
                checks.append(Check(
                    E.NO_EXTRA_ITEMS_ALLOWED, "",
                    view.guard("array", lambda c, n=n: F.size(arr(c)) <= n),
                    size_of))
            elif isinstance(addl, (dict, bool)) and addl is not True:
                ap = _conj(_compile(addl, view.item(), ctx))
                checks.append(Check(
                    E.NOT_SCHEMA_VALID, "",
                    view.guard("array", lambda c, n=n, ap=ap: F.forall(
                        F.slice(arr(c), n + 1, F.greatest(F.size(arr(c)) - n, F.lit(0))),
                        lambda x: ap(x))),
                    view.observed))
        else:
            # single-schema form: per-keyword granularity preserved —
            # each item keyword becomes its own forall() check with the
            # element path wildcard (posexplode rebuilds exact indices in
            # plans.validate.explain-mode)
            checks.extend(_every(
                _compile(items, view.item(), ctx),
                lambda p: view.guard("array", lambda c: F.forall(arr(c), lambda x: p(x))),
                view.observed))

    if ctx.draft >= DRAFT6 and "contains" in schema:
        # ≥1 element matches; empty array fails (jesse_validator_draft6.erl:569-587)
        cp = _conj(_compile(schema["contains"], view.item(), ctx))
        checks.append(Check(
            E.VALIDATION_ALWAYS_FAILS, "",
            view.guard("array", lambda c, cp=cp: F.exists(arr(c), lambda x: cp(x))),
            view.observed))

    return checks


# ---------------------------------------------------------------------------
# combinators
# ---------------------------------------------------------------------------
def _combinator_checks(schema: dict, ctx: Ctx, compile_sub: CompileSub,
                       observed: Builder) -> list[Check]:
    """allOf / anyOf / oneOf / not (draft4+) and extends (draft3) for
    both compilers.  A sub-schema's predicate is the AND of
    ``compile_sub(s, ctx)``; anyOf detail checks keep the paths
    ``compile_sub`` gave them."""
    checks: list[Check] = []

    def combined(sub: Any) -> Builder:
        return _conj(compile_sub(sub, ctx))

    if ctx.draft >= DRAFT4:
        if "allOf" in schema:
            subs = schema["allOf"]
            if not isinstance(subs, list) or not subs:
                raise SchemaError("wrong_all_of_schema_array", subs)
            preds = [combined(s) for s in subs]
            checks.append(Check(
                E.ALL_SCHEMAS_NOT_VALID, "",
                lambda c, ps=preds: _reduce_and([p(c) for p in ps]),
                observed))
        if "anyOf" in schema:
            subs = schema["anyOf"]
            if not isinstance(subs, list) or not subs:
                raise SchemaError("wrong_any_of_schema_array", subs)
            branch_checks = [compile_sub(s, ctx) for s in subs]
            preds = [_conj(bc) for bc in branch_checks]
            checks.append(Check(
                E.ANY_SCHEMAS_NOT_VALID, "",
                lambda c, ps=preds: _reduce_or([p(c) for p in ps]),
                observed))
            # shortest-error-branch detail: when every branch fails,
            # additionally surface the violations of the branch with the
            # FEWEST failed checks — first such branch on ties
            # (jesse_validator_draft4.erl:1156-1179 + shortest/2 :1365-1373).
            # Each detail check re-evaluates all B×C branch predicates, so
            # the full set costs O((B·C)²) expression nodes — capped at
            # ctx.detail_max total branch checks to keep the projection
            # inside whole-stage codegen; beyond it only the combinator
            # verdict is reported (detail degrades, verdict never does —
            # and the drop is WARNED at compile time, not silent)
            n_branch_checks = sum(len(bc) for bc in branch_checks)
            if any(branch_checks) and n_branch_checks > ctx.detail_max:
                _warn_anyof_detail_dropped(n_branch_checks, ctx.detail_max)
            if any(branch_checks) and n_branch_checks <= ctx.detail_max:

                def _fail_counts(c: Column) -> Column:
                    per_branch = []
                    for bc in branch_checks:
                        cnt = F.lit(0)
                        for ch in bc:
                            cnt = cnt + (~F.coalesce(ch.pred(c), F.lit(False))).cast("int")
                        per_branch.append(cnt)
                    return F.array(*per_branch)

                def _best_idx(c: Column) -> Column:  # 0-based, first shortest
                    fc = _fail_counts(c)
                    return F.array_position(fc, F.array_min(fc)) - 1

                # default-bind: `preds` is REBOUND by the oneOf block
                # below, and a schema may carry both combinators
                any_ok = lambda c, ps=preds: _reduce_or([p(c) for p in ps])  # noqa: E731
                for i, bc in enumerate(branch_checks):
                    for sc in bc:
                        checks.append(Check(
                            sc.constraint, sc.path,
                            (lambda i=i, p=sc.pred: lambda c:
                             any_ok(c) | (_best_idx(c) != i)
                             | F.coalesce(p(c), F.lit(False)))(),
                            sc.observed))
        if "oneOf" in schema:
            subs = schema["oneOf"]
            if not isinstance(subs, list) or not subs:
                raise SchemaError("wrong_one_of_schema_array", subs)
            preds = [combined(s) for s in subs]

            def one_count(c: Column, ps=preds) -> Column:
                cnt = F.lit(0)
                for p in ps:
                    cnt = cnt + F.coalesce(p(c), F.lit(False)).cast("int")
                return cnt
            checks.append(Check(
                E.NOT_ONE_SCHEMA_VALID, "",
                lambda c: one_count(c) >= 1, observed))
            checks.append(Check(
                E.MORE_THAN_ONE_SCHEMA_VALID, "",
                lambda c: one_count(c) <= 1, observed))
        if "not" in schema:
            p = combined(schema["not"])
            checks.append(Check(
                E.NOT_SCHEMA_VALID, "",
                lambda c, p=p: ~F.coalesce(p(c), F.lit(False)), observed))

    if ctx.draft == DRAFT3 and "extends" in schema:
        subs = schema["extends"]
        subs = subs if isinstance(subs, list) else [subs]
        preds = [combined(s) for s in subs]
        checks.append(Check(
            E.ALL_SCHEMAS_NOT_VALID, "",
            lambda c, ps=preds: _reduce_and([p(c) for p in ps]),
            observed))

    return checks


def _conj(cs: list[Check]) -> Builder:
    """AND of the checks' predicates; ``lit(True)`` for no checks."""
    return lambda c: _reduce_and([ch.pred(c) for ch in cs]) if cs else F.lit(True)


def _reduce_and(cols: list[Column]) -> Column:
    out = F.lit(True)
    for c in cols:
        out = out & F.coalesce(c, F.lit(False))
    return out


def _reduce_or(cols: list[Column]) -> Column:
    out = F.lit(False)
    for c in cols:
        out = out | F.coalesce(c, F.lit(False))
    return out


def _scoped(ctx: Ctx, schema: Any) -> Ctx:
    """Combine a subschema's ``$id`` (draft6) / ``id`` (draft3/4) into
    the current base-URI scope — the per-descent scope update of
    jesse_state.erl:176-196 (set_current_schema)."""
    if not isinstance(schema, dict):
        return ctx
    tag = "$id" if ctx.draft >= DRAFT6 else "id"
    sid = schema.get(tag)
    # fragment-only ids are location-independent anchors; the reference
    # itself skip-lists those suite cases (jesse_tests_draft4_SUITE.erl:49-55)
    if not isinstance(sid, str) or sid == "" or sid.startswith("#"):
        return ctx
    from jesse_spark.schema.parser import combine_id

    return replace(ctx, scope=combine_id(ctx.scope, sid))


# ---------------------------------------------------------------------------
# combined predicate (for lambdas / fail-fast mode)
# ---------------------------------------------------------------------------
def compile_pred(
    schema: Any,
    dtype: T.DataType,
    *,
    registry: SchemaRegistry | None = None,
    draft: int | None = None,
    null_is_absent: bool = False,
    ctx: Ctx | None = None,
) -> Builder:
    """AND of all keyword checks — a single boolean Column builder.

    Used inside higher-order-function lambdas (forall/exists/map_filter);
    Spark short-circuits the conjunction in
    codegen, matching jesse's fail-fast default
    (allowed_errors = 0, jesse_state.erl:126-129)."""
    return _conj(compile_checks(schema, dtype, registry=registry, draft=draft,
                                null_is_absent=null_is_absent, _ctx=ctx))
