"""KVC collection aggregates and dot-path evaluation.

Parity target: the KVC mini aggregate vocabulary ``@max @min @sum
@count @avg @distinctUnionOfArrays @distinctUnionOfObjects
@unionOfArrays @unionOfObjects`` (jesse_json_path.erl:173-209) →
per-row array aggregates (:func:`kvc_agg`) and, at table level, the
same names map onto groupBy aggregates (see
__spark_entry__.q_kvc_aggregates).  JSON Pointer resolution inside
schema documents is :func:`jesse_spark.schema.parser.resolve_pointer`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# KVC aggregates over in-row collections (jesse_json_path.erl:173-209)
# ---------------------------------------------------------------------------
def kvc_agg(arr: Column, op: str) -> Column:
    """Per-row collection aggregate with jesse_json_path's @-names."""
    if op == "@max":
        return F.array_max(arr)
    if op == "@min":
        return F.array_min(arr)
    if op == "@sum":
        return F.aggregate(arr, F.lit(0.0),
                           lambda acc, x: acc + x.cast("double"))
    if op == "@count":
        return F.size(arr).cast("long")
    if op == "@avg":
        return kvc_agg(arr, "@sum") / F.size(arr)
    if op == "@unionOfArrays":
        return F.flatten(arr)
    if op == "@distinctUnionOfArrays":
        # lists:usort = SORTED distinct (jesse_json_path.erl:190-191)
        return F.array_sort(F.array_distinct(F.flatten(arr)))
    if op == "@unionOfObjects":
        # identity on the collection (jesse_json_path.erl:196-197); the
        # per-key value collection happens in the PATH traversal when a
        # plain key follows — see :func:`kvc_path`
        return arr
    if op == "@distinctUnionOfObjects":
        # lists:usort(L) (jesse_json_path.erl:192-193)
        return F.array_sort(F.array_distinct(arr))
    raise ValueError(f"unknown KVC aggregate {op!r}")


def kvc_path(col: Column, dtype: T.DataType, path: str) -> tuple[Column, T.DataType]:
    """KVC dot-path evaluation (jesse_json_path.erl:55-61 path/2 over
    value/3): ``"foo.@unionOfObjects.name"``.

    Per jesse's semantics:

    - a plain key on an OBJECT (struct/map) is a field lookup;
    - an ``@``-operator on a COLLECTION applies :func:`kvc_agg`;
    - a plain key on a COLLECTION maps the lookup over the elements and
      collects only the present values (get_nested_values' non-@ clauses,
      jesse_json_path.erl:200-209 — missing keys are skipped, not
      null-padded), which is exactly the "union of the named key over an
      array of objects" the @unionOfObjects chains rely on.

    Returns (value Column, static result type).
    """
    cur, t = col, dtype
    for tok in [p for p in path.split(".") if p != ""]:
        if tok.startswith("@"):
            if not isinstance(t, T.ArrayType):
                raise KeyError(f"{tok} applies to collections, got {t.simpleString()}")
            cur = kvc_agg(cur, tok)
            et = t.elementType
            if tok == "@count":
                t = T.LongType()
            elif tok in ("@sum", "@avg"):
                t = T.DoubleType()
            elif tok in ("@max", "@min"):
                t = et
            elif tok in ("@unionOfArrays", "@distinctUnionOfArrays"):
                if not isinstance(et, T.ArrayType):
                    raise KeyError(f"{tok} needs array elements, got {et.simpleString()}")
                t = T.ArrayType(et.elementType)
            else:  # @unionOfObjects / @distinctUnionOfObjects
                t = t
        elif isinstance(t, T.StructType):
            if tok not in t.fieldNames():
                raise KeyError(f"{tok!r} not in struct {t.simpleString()}")
            cur, t = cur.getField(tok), t[tok].dataType
        elif isinstance(t, T.MapType):
            cur, t = F.element_at(cur, F.lit(tok)), t.valueType
        elif isinstance(t, T.ArrayType):
            et = t.elementType
            if isinstance(et, T.StructType):
                if tok not in et.fieldNames():
                    # every element misses the key → empty collection
                    # (jesse returns the default [] per element, skipped)
                    cur, t = F.array().cast("array<string>"), T.ArrayType(T.StringType())
                    continue
                inner = et[tok].dataType
                # arity-1 lambda: a 2-arg lambda would get the element
                # INDEX bound to the second parameter (F.transform API)
                getter = (lambda k: lambda e: e.getField(k))(tok)
                cur = F.array_compact(F.transform(cur, getter))
                t = T.ArrayType(inner)
            elif isinstance(et, T.MapType):
                getter = (lambda k: lambda e: F.element_at(e, F.lit(k)))(tok)
                cur = F.array_compact(F.transform(cur, getter))
                t = T.ArrayType(et.valueType)
            else:
                raise KeyError(
                    f"cannot look up {tok!r} inside {et.simpleString()} elements")
        else:
            raise KeyError(f"cannot descend into {t.simpleString()} with {tok!r}")
    return cur, t
