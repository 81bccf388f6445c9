"""$ref base-URI scope combination (jesse_state.erl:308-390).

Relative refs resolve against the current ``$id`` scope, the scope
changes when descending into a subschema with its own ``$id``
(jesse_state.erl:176-196 set_current_schema), and a ref that crosses
into a loaded document continues resolving inside that document (the
remote-document switch at jesse_state.erl:230-241).  Exercised by the
reference's remote-ref suites (jesse_tests_draft4_SUITE.erl:138-147).

Every case runs through BOTH compilers (typed + variant).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jesse_spark.compiler import compile_checks
from jesse_spark.errors import SchemaError
from jesse_spark.schema.parser import SchemaRegistry, combine_id
from jesse_spark.variant_compiler import compile_variant_checks

D6 = {"$schema": "http://json-schema.org/draft-06/schema#"}
BASE = "http://example.com/root.json"


# ---------------------------------------------------------------------------
# combine_id unit semantics (jesse_state.erl:308-390)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("base,ref,expected", [
    (None, "http://a/b.json", "http://a/b.json"),          # absolute wins
    ("http://a/x.json", "http://b/y.json", "http://b/y.json"),
    (None, "rel.json", "rel.json"),                         # no scope: as-is
    ("http://a/dir/x.json", "#/defs/p", "http://a/dir/x.json#/defs/p"),
    ("http://a/dir/x.json#old", "#new", "http://a/dir/x.json#new"),
    ("http://a/dir/x.json", "sib.json", "http://a/dir/sib.json"),
    ("http://a/dir/x.json", "../up.json", "http://a/up.json"),
    ("http://a/dir/x.json", "./same.json", "http://a/dir/same.json"),
    ("https://a/d/x.json", "y.json", "https://a/d/y.json"),
    ("file:///tmp/d/x.json", "y.json", "file:///tmp/d/y.json"),
    ("file:///tmp/d/x.json", "../y.json", "file:///tmp/y.json"),
    ("http://a/x.json", None, "http://a/x.json"),           # undefined ref
    # base with no path: dirname collapses to the bare scheme, like the
    # reference's filename:dirname (combine_relative_id2 "http:" clause)
    ("http://a", "y.json", "http://y.json"),
])
def test_combine_id(base, ref, expected):
    assert combine_id(base, ref) == expected


# ---------------------------------------------------------------------------
# fixture registry: a 3-document schema universe under one http base
# ---------------------------------------------------------------------------
def make_registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.add({**D6, "$id": "http://example.com/sibling.json",
             "type": "integer", "minimum": 10})
    reg.add({**D6, "$id": "http://example.com/nested/leaf.json",
             "type": "integer", "multipleOf": 2})
    reg.add({**D6, "$id": "http://example.com/defs.json",
             "definitions": {
                 "positive": {"type": "integer", "minimum": 1},
                 # a ref INSIDE the loaded doc, relative to ITS scope
                 "chained": {"$ref": "sibling.json"},
             }})
    return reg


# (root-schema, instance-long, expect_valid) triples; every root carries
# $id BASE so relative refs combine against it
REF_CASES = [
    # 1. relative ref under a base $id
    ({**D6, "$id": BASE, "$ref": "sibling.json"}, 15, True),
    ({**D6, "$id": BASE, "$ref": "sibling.json"}, 5, False),
    # 2. pointer into a loaded document
    ({**D6, "$id": BASE, "$ref": "defs.json#/definitions/positive"}, 3, True),
    ({**D6, "$id": BASE, "$ref": "defs.json#/definitions/positive"}, 0, False),
    # 3. ref chain crossing documents: root → defs.json → sibling.json
    #    (the inner "sibling.json" resolves against defs.json's scope)
    ({**D6, "$id": BASE, "$ref": "defs.json#/definitions/chained"}, 12, True),
    ({**D6, "$id": BASE, "$ref": "defs.json#/definitions/chained"}, 9, False),
    # 4. scope change in a subschema: the allOf member's $id moves the
    #    scope to nested/inner.json, so leaf.json resolves under nested/
    ({**D6, "$id": BASE,
      "allOf": [{"$id": "nested/inner.json", "$ref": "leaf.json"}]}, 4, True),
    ({**D6, "$id": BASE,
      "allOf": [{"$id": "nested/inner.json", "$ref": "leaf.json"}]}, 3, False),
    # 5. ../ canonicalization out of a nested scope
    ({**D6, "$id": "http://example.com/a/b/root.json",
      "$ref": "../../sibling.json"}, 11, True),
    # 6. local #-pointer still resolves against the CURRENT root even
    #    under a combined scope
    ({**D6, "$id": BASE,
      "definitions": {"pos": {"type": "integer", "minimum": 1}},
      "$ref": "#/definitions/pos"}, 2, True),
    ({**D6, "$id": BASE,
      "definitions": {"pos": {"type": "integer", "minimum": 1}},
      "$ref": "#/definitions/pos"}, 0, False),
]


@pytest.mark.parametrize("schema,value,expect_valid", REF_CASES,
                         ids=[f"typed{i}" for i in range(len(REF_CASES))])
def test_ref_scope_typed(spark, schema, value, expect_valid):
    reg = make_registry()
    checks = compile_checks(schema, T.LongType(), registry=reg)
    df = spark.createDataFrame([(value,)], "value long")
    row = df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.col("value")), F.lit(False)),
               F.lit(c.constraint)) for c in checks
    ])).alias("codes")).head()
    assert (list(row["codes"]) == []) is expect_valid


@pytest.mark.parametrize("schema,value,expect_valid", REF_CASES,
                         ids=[f"var{i}" for i in range(len(REF_CASES))])
def test_ref_scope_variant(spark, schema, value, expect_valid):
    reg = make_registry()
    checks = compile_variant_checks(schema, registry=reg)
    df = spark.createDataFrame([(json.dumps(value),)], "j string")
    row = df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.parse_json(F.col("j"))), F.lit(False)),
               F.lit(c.constraint)) for c in checks
    ])).alias("codes")).head()
    assert (list(row["codes"]) == []) is expect_valid


def test_unresolvable_relative_ref_raises(spark):
    reg = make_registry()
    schema = {**D6, "$id": BASE, "$ref": "missing.json"}
    with pytest.raises(SchemaError):
        compile_checks(schema, T.LongType(), registry=reg)


def test_local_ref_under_fragment_carrying_scope(spark):
    """An ``$id`` that itself carries a fragment (e.g. ``...#anchor``)
    still scopes purely-local ``#/...`` refs to the current root — the
    locality test compares against the scope with its fragment stripped
    (ADVICE r3: previously raised schema_not_found)."""
    schema = {**D6, "$id": BASE + "#anchor",
              "definitions": {"pos": {"type": "integer", "minimum": 1}},
              "$ref": "#/definitions/pos"}
    for compile_fn, mk in (
            (lambda s: compile_checks(s, T.LongType(),
                                      registry=SchemaRegistry()),
             lambda v: (v,)),
            (lambda s: compile_variant_checks(s, registry=SchemaRegistry()),
             None)):
        checks = compile_fn(schema)
        assert checks  # compiled, not schema_not_found
    checks = compile_checks(schema, T.LongType(), registry=SchemaRegistry())
    df = spark.createDataFrame([(2,), (0,)], "value long")
    rows = {r["value"]: r["ok"] for r in df.select(
        "value",
        F.coalesce(checks[0].pred(F.col("value")) &
                   (checks[1].pred(F.col("value"))
                    if len(checks) > 1 else F.lit(True)),
                   F.lit(False)).alias("ok")).collect()}
    assert rows[2] is True and rows[0] is False


def test_empty_ref_resolves_to_current_root():
    """``"$ref": ""`` means "this document" under any scope — it must
    not be combined into dirname(scope) and loaded remotely (ADVICE r3:
    previously loaded ``http://example.com/``)."""
    reg = SchemaRegistry()
    root = {**D6, "$id": BASE, "type": "integer"}
    target, new_root, new_scope = reg.resolve_ref("", root, scope=BASE)
    assert target is root and new_root is root and new_scope == BASE
    # and with a fragment-carrying scope
    target, new_root, _ = reg.resolve_ref("", root, scope=BASE + "#a")
    assert target is root and new_root is root


# ---------------------------------------------------------------------------
# bounded recursive-$ref unroll (VERDICT r3 #3)
# ---------------------------------------------------------------------------
def _nested(depth: int):
    """Linked-list instance {"v": 1, "next": {...}} of given depth."""
    node: dict = {"v": 1}
    for _ in range(depth - 1):
        node = {"v": 1, "next": node}
    return node


RECURSIVE_SCHEMA = {
    "properties": {"v": {"type": "integer"},
                   "next": {"$ref": "#"}},
}


def test_recursive_ref_unrolls_and_fails_closed_variant(spark):
    """Instances within the unroll validate normally; instances nested
    DEEPER than the budget fail closed with ref_unroll_exceeded (the
    documented policy — never silently accepted).  A compile warning
    fires, like the anyOf detail cap."""
    from jesse_spark.errors import ErrorCodes as E

    with pytest.warns(UserWarning, match="recursive \\$ref unrolled"):
        checks = compile_variant_checks(RECURSIVE_SCHEMA, draft=4,
                                        ref_unroll_max=2)
    cases = [(json.dumps(_nested(d)),) for d in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(cases, "j string")
    rows = df.select(
        F.col("j"),
        F.array_compact(F.array(*[
            F.when(~F.coalesce(c.pred(F.parse_json(F.col("j"))),
                               F.lit(False)),
                   F.lit(c.constraint)) for c in checks
        ])).alias("codes")).collect()
    by_depth = {len(r["j"].split("next")): list(r["codes"]) for r in rows}
    # budget 2 = two revisits of the root node, so instances up to
    # depth 3 validate normally; depth >= 4 reaches the cutoff's
    # fail-closed check.  Since the properties recursion preserves
    # inner codes (round 5), the cutoff's own ref_unroll_exceeded code
    # surfaces at its nested path — never silent acceptance.
    assert by_depth[1] == [] and by_depth[2] == [] and by_depth[3] == []
    assert by_depth[4] == [E.REF_UNROLL_EXCEEDED]
    assert by_depth[5] == [E.REF_UNROLL_EXCEEDED]
    # a root-level $ref cycle exposes the fail-closed code directly
    with pytest.warns(UserWarning, match="recursive \\$ref unrolled"):
        root_checks = compile_variant_checks({"$ref": "#"}, draft=4,
                                             ref_unroll_max=0)
    assert [c.constraint for c in root_checks] == [E.REF_UNROLL_EXCEEDED]


def test_recursive_ref_typed_terminates_with_dtype(spark):
    """The typed compiler's unroll terminates when the dtype runs out —
    a finite struct nesting never hits the budget, so no warning and
    correct per-level checks."""
    import warnings

    dt = T.StructType([
        T.StructField("v", T.LongType()),
        T.StructField("next", T.StructType([
            T.StructField("v", T.StringType()),  # wrong type at depth 2
        ])),
    ])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        checks = compile_checks(RECURSIVE_SCHEMA, dt, draft=4)
    df = spark.createDataFrame(
        [((1, ("x",)),)], T.StructType([T.StructField("value", dt)]))
    row = df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.col("value")), F.lit(False)),
               F.lit(c.constraint + "@" + c.path)) for c in checks
    ])).alias("codes")).head()
    assert list(row["codes"]) == ["wrong_type@/next/v"]


def test_mutually_recursive_refs_unroll(spark):
    """A 2-cycle (a -> b -> a) spends one budget unit per revisit of
    each node — the unroll handles multi-schema cycles, not just
    self-reference."""
    schema = {
        "definitions": {
            "a": {"properties": {"b": {"$ref": "#/definitions/b"}},
                  "required": ["tag_a"]},
            "b": {"properties": {"a": {"$ref": "#/definitions/a"}},
                  "required": ["tag_b"]},
        },
        "$ref": "#/definitions/a",
    }
    with pytest.warns(UserWarning, match="recursive \\$ref unrolled"):
        checks = compile_variant_checks(schema, draft=4, ref_unroll_max=2)
    ok = {"tag_a": 1, "b": {"tag_b": 1, "a": {"tag_a": 1}}}
    bad = {"tag_a": 1, "b": {"a": {"tag_a": 1}}}  # missing tag_b
    df = spark.createDataFrame([(json.dumps(ok),), (json.dumps(bad),)],
                               "j string")
    rows = df.select("j", F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.parse_json(F.col("j"))), F.lit(False)),
               F.lit(c.constraint)) for c in checks
    ])).alias("codes")).collect()
    got = {r["j"]: list(r["codes"]) for r in rows}
    assert got[json.dumps(ok)] == []
    # the missing tag_b is nested under /b and keeps its OWN code
    # through the properties recursion (round-5 code propagation)
    assert "missing_required_property" in got[json.dumps(bad)]


def test_anchor_in_loader_fetched_document(tmp_path):
    """An anchor fragment in a document the loader can still fetch
    (not yet cached) resolves: the anchor branch tries load(base)
    before giving up (r4 review finding)."""
    import json as _json

    doc = {**D6, "$id": f"file://{tmp_path}/defs.json",
           "definitions": {"pos": {"$id": "#positive",
                                   "type": "integer", "minimum": 1}}}
    (tmp_path / "defs.json").write_text(_json.dumps(doc))
    reg = SchemaRegistry()
    target, new_root, new_scope = reg.resolve_ref(
        f"file://{tmp_path}/defs.json#positive", {}, scope=None)
    assert target["minimum"] == 1
    assert new_root is not None


def test_pointer_into_embedded_id_document():
    """A JSON-pointer ref whose BASE is an embedded-$id document
    pointer-walks inside the matched node (r4 review finding)."""
    reg = SchemaRegistry()
    host = {**D6, "$id": "http://h/host.json",
            "definitions": {
                "sub": {"$id": "http://h/sub",
                        "definitions": {"d": {"type": "integer"}}}}}
    reg.add(host)
    target, new_root, new_scope = reg.resolve_ref(
        "http://h/sub#/definitions/d", host, scope="http://h/host.json")
    assert target == {"type": "integer"}


# ---------------------------------------------------------------------------
# registry-less refs: one rule in both modes (the shared $ref inliner)
# ---------------------------------------------------------------------------
def _ref_codes(spark, mode, schema, values):
    if mode == "typed":
        checks = compile_checks(schema, T.LongType())
        df = spark.createDataFrame([(v,) for v in values], "value long")
        col = F.col("value")
    else:
        checks = compile_variant_checks(schema)
        df = spark.createDataFrame([(json.dumps(v),) for v in values],
                                   "j string")
        col = F.parse_json(F.col("j"))
    return [sorted(r["codes"]) for r in df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(col), F.lit(False)), F.lit(c.constraint))
        for c in checks])).alias("codes")).collect()]


@pytest.mark.parametrize("mode", ["typed", "variant"])
def test_registry_less_file_ref_loads(spark, tmp_path, mode):
    """With no registry and no scope, a ``file://`` ref goes through the
    default loader in both modes (typed mode used to raise
    schema_not_found before trying it)."""
    (tmp_path / "pos.json").write_text(json.dumps(
        {**D6, "type": "integer", "minimum": 0, "multipleOf": 2}))
    schema = {**D6, "$ref": f"file://{tmp_path}/pos.json"}
    assert _ref_codes(spark, mode, schema, [-3, 0, 4, 5]) == [
        ["not_in_range", "not_multiple_of"], [], [], ["not_multiple_of"]]


@pytest.mark.parametrize("mode", ["typed", "variant"])
@pytest.mark.parametrize("ref", ["http://example.com/pos.json", "pos.json"])
def test_registry_less_unloadable_ref_raises(spark, mode, ref):
    """The default loader reads ``file://`` only: an ``http://`` ref and
    a relative ref with no scope stay schema_not_found in both modes."""
    with pytest.raises(SchemaError) as err:
        _ref_codes(spark, mode, {**D6, "$ref": ref}, [1])
    assert err.value.code == "schema_not_found"


def test_registry_add_dir_loads_nested_files(spark, tmp_path):
    """``add_dir`` (jesse's directory loader, jesse_database.erl:96-103)
    loads every ``*.json`` below a directory, nested ones too, under
    sorted ``file://`` ids; a ``$ref`` to one compiles from the store."""
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "pos.json").write_text(json.dumps(
        {**D6, "type": "integer", "minimum": 0, "multipleOf": 2}))
    (tmp_path / "any.json").write_text(json.dumps({**D6}))
    (tmp_path / "notes.txt").write_text("not a schema")
    reg = SchemaRegistry()
    ids = reg.add_dir(tmp_path)
    pos = f"file://{(tmp_path / 'sub' / 'pos.json').resolve()}"
    assert ids == sorted(ids) == [
        f"file://{(tmp_path / 'any.json').resolve()}", pos]
    # the store answers the ref, not the file loader
    (tmp_path / "sub" / "pos.json").unlink()
    checks = compile_checks({**D6, "$ref": pos}, T.LongType(), registry=reg)
    df = spark.createDataFrame([(v,) for v in [-3, 0, 5]], "value long")
    got = [sorted(r["codes"]) for r in df.select(F.array_compact(F.array(*[
        F.when(~F.coalesce(c.pred(F.col("value")), F.lit(False)),
               F.lit(c.constraint)) for c in checks])).alias("codes")).collect()]
    assert got == [["not_in_range", "not_multiple_of"], [], ["not_multiple_of"]]
