"""Golden suite adapted from the reference's 20 integration fixtures
(/root/reference/src/test/resources/integration-tests/, run table-driven at
IntegrationTests.scala:11-39).

Each fixture is re-expressed per FIXTURES.md §B as (constraint spec, tiny
table with conforming + violating rows, expected per-row verdicts). The
reference's oracle was avro-tools compiling the emitted .avsc; ours is the
expected Spark carrier schema + per-row pass/fail.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_to_avro_schema_spark.compiler.plan import compile_document
from json_to_avro_schema_spark.errors import (
    SpecCompileError,
    SpecParseError,
    SpecResolutionError,
)
from json_to_avro_schema_spark.runner import ROW_PASS, apply_row_checks


def _root(name: str, **kw) -> dict:
    return {"$schema": "http://json-schema.org/draft-06/schema#",
            "$id": f"http://example.org/{name}", **kw}


def run_rows(spark, doc, schema, rows_with_expect, max_ref_depth=3):
    """rows_with_expect: list of (row_tuple, expected_pass)."""
    plan = compile_document(doc, max_ref_depth=max_ref_depth)
    rows = [r for r, _ in rows_with_expect]
    df = spark.createDataFrame(rows, schema)
    checked = apply_row_checks(df, plan)
    got = [bool(r[ROW_PASS]) for r in checked.collect()]
    want = [e for _, e in rows_with_expect]
    assert got == want, f"{plan.check_names()}: got {got}, want {want}"
    return plan


# ---------------------------------------------------------- primitives

def test_fixture_null(spark):
    doc = _root("Null", properties={"alwaysNull": {"type": "null"}})
    schema = T.StructType([T.StructField("alwaysNull", T.StringType())])
    plan = run_rows(spark, doc, schema, [((None,), True), (("x",), False)])
    assert plan.expected_schema["alwaysNull"].dataType == T.StringType()


def test_fixture_boolean(spark):
    doc = _root("Boolean", properties={"optimize": {"type": "boolean"}},
                required=["optimize"])
    schema = T.StructType([T.StructField("optimize", T.BooleanType())])
    plan = run_rows(spark, doc, schema,
                    [((True,), True), ((False,), True), ((None,), False)])
    assert plan.expected_schema["optimize"].dataType == T.BooleanType()


def test_fixture_double(spark):
    doc = _root("Double", properties={"score": {"type": "number"}},
                required=["score"])
    schema = T.StructType([T.StructField("score", T.DoubleType())])
    plan = run_rows(spark, doc, schema, [((1.5,), True), ((None,), False)])
    assert plan.expected_schema["score"].dataType == T.DoubleType()


def test_fixture_integer(spark):
    doc = _root("Integer", properties={"index": {"type": "integer"}},
                required=["index"])
    schema = T.StructType([T.StructField("index", T.LongType())])
    plan = run_rows(spark, doc, schema, [((7,), True), ((None,), False)])
    assert plan.expected_schema["index"].dataType == T.LongType()


def test_fixture_string(spark):
    doc = _root("String", properties={"title": {"type": "string"}},
                required=["title"])
    schema = T.StructType([T.StructField("title", T.StringType())])
    run_rows(spark, doc, schema, [(("hello",), True), ((None,), False)])


def test_fixture_empty_schema(spark):
    # empty schema → bytes carrier, anything passes (Transpiler.scala:266-268)
    doc = _root("EmptySchema", properties={"emptySchema": {}},
                required=["emptySchema"])
    schema = T.StructType([T.StructField("emptySchema", T.BinaryType())])
    plan = run_rows(spark, doc, schema,
                    [((b"anything",), True), ((None,), False)])
    assert plan.expected_schema["emptySchema"].dataType == T.BinaryType()
    # no conforms check compiled for a no-op spec
    assert plan.check_names() == ["emptySchema__required"]


def test_fixture_optional_boolean(spark):
    # not in required ⇒ union[null, T] ⇒ null passes (Transpiler.scala:203-211)
    doc = _root("OptionalBoolean", properties={"optimize": {"type": "boolean"}})
    schema = T.StructType([T.StructField("optimize", T.BooleanType())])
    run_rows(spark, doc, schema, [((True,), True), ((None,), True)])


# ------------------------------------------------------------- arrays/maps

def test_fixture_string_array(spark):
    doc = _root("StringArray",
                properties={"stringArray": {"type": "array",
                                            "items": {"type": "string"}}},
                required=["stringArray"])
    schema = T.StructType(
        [T.StructField("stringArray", T.ArrayType(T.StringType(), True))]
    )
    plan = run_rows(spark, doc, schema, [
        ((["a", "b"],), True),
        (([],), True),
        (([None, "b"],), False),   # null element is not a string
        ((None,), False),          # required
    ])
    assert plan.expected_schema["stringArray"].dataType == T.ArrayType(T.StringType(), True)


def test_fixture_any_array(spark):
    doc = _root("AnyArray",
                properties={"anyArray": {"type": "array", "items": {}}},
                required=["anyArray"])
    schema = T.StructType([T.StructField("anyArray", T.ArrayType(T.BinaryType(), True))])
    run_rows(spark, doc, schema, [
        (([b"x", None],), True),   # any-typed elements (incl null) pass
        ((None,), False),
    ])


def test_fixture_string_map(spark):
    doc = _root("StringMap",
                properties={"stringMap": {"type": "object",
                                          "additionalProperties": {"type": "string"}}},
                required=["stringMap"])
    schema = T.StructType(
        [T.StructField("stringMap", T.MapType(T.StringType(), T.StringType(), True))]
    )
    plan = run_rows(spark, doc, schema, [
        (({"k": "v"},), True),
        (({},), True),
        (({"k": None},), False),   # null value is not a string
        ((None,), False),
    ])
    assert isinstance(plan.expected_schema["stringMap"].dataType, T.MapType)


def test_fixture_nested(spark):
    doc = _root("Nested",
                properties={"nested": {
                    "type": "object",
                    "properties": {"innerProp": {"type": "integer"}},
                    "required": ["innerProp"]}},
                required=["nested"])
    schema = T.StructType([T.StructField(
        "nested", T.StructType([T.StructField("innerProp", T.LongType())]))])
    run_rows(spark, doc, schema, [
        (((5,),), True),
        (((None,),), False),   # innerProp required inside the struct
        ((None,), False),
    ])


def test_fixture_string_enum(spark):
    doc = _root("StringEnum",
                properties={
                    "someProp": {"enum": ["a", "b"]},
                    "otherProp": {"properties": {"enumProp": {"enum": ["foo"]}},
                                  "required": ["enumProp"]},
                },
                required=["someProp", "otherProp"])
    schema = T.StructType([
        T.StructField("someProp", T.StringType()),
        T.StructField("otherProp", T.StructType([T.StructField("enumProp", T.StringType())])),
    ])
    run_rows(spark, doc, schema, [
        (("a", ("foo",)), True),
        (("c", ("foo",)), False),   # outside enum
        (("b", ("bar",)), False),   # nested enum violation
    ])


# ----------------------------------------------------------------- unions

def test_fixture_union_type(spark):
    # type: [boolean, string] → tagged struct of optional arms
    doc = _root("Union", properties={"union_val": {"type": ["boolean", "string"]}},
                required=["union_val"])
    arm = T.StructType([
        T.StructField("boolean", T.BooleanType()),
        T.StructField("string", T.StringType()),
    ])
    schema = T.StructType([T.StructField("union_val", arm)])
    plan = run_rows(spark, doc, schema, [
        (((True, None),), True),
        (((None, "s"),), True),
        (((True, "s"),), False),   # both arms set
        (((None, None),), False),  # neither arm set
        ((None,), False),          # required
    ])
    assert plan.expected_schema["union_val"].dataType == arm


def test_fixture_nullable_union(spark):
    # [null, string] → plain nullable string (2-arm null union collapse)
    doc = _root("NullableUnion",
                properties={"v": {"type": ["null", "string"], "minLength": 2}})
    schema = T.StructType([T.StructField("v", T.StringType())])
    plan = run_rows(spark, doc, schema, [
        (("ab",), True), ((None,), True), (("a",), False),
    ])
    assert plan.expected_schema["v"].dataType == T.StringType()


# ------------------------------------------------------------------- refs

def test_fixture_sibling_ref(spark):
    shared = {"properties": {"name": {"type": "string"}, "index": {"type": "integer"}},
              "required": ["name"]}
    doc = _root("SiblingRef",
                properties={"A": shared, "B": {"$ref": "#/properties/A"}},
                required=["A", "B"])
    sub = T.StructType([T.StructField("name", T.StringType()),
                        T.StructField("index", T.LongType())])
    schema = T.StructType([T.StructField("A", sub), T.StructField("B", sub)])
    run_rows(spark, doc, schema, [
        ((("n", 1), ("m", 2)), True),
        ((("n", 1), (None, 2)), False),   # B validated by A's spec
    ])


def test_fixture_sibling_ref_with_id(spark):
    shared = {"$id": "AwesomeSchema",
              "properties": {"name": {"type": "string"}}, "required": ["name"]}
    doc = _root("SiblingRefWithId",
                properties={"A": shared, "B": {"$ref": "AwesomeSchema"}},
                required=["A", "B"])
    sub = T.StructType([T.StructField("name", T.StringType())])
    schema = T.StructType([T.StructField("A", sub), T.StructField("B", sub)])
    run_rows(spark, doc, schema, [
        ((("n",), ("m",)), True),
        ((("n",), (None,)), False),       # ref resolved through declared $id
    ])


def test_fixture_definitions(spark):
    doc = _root("Definitions",
                definitions={
                    "someBool": {"type": "boolean"},
                    "someRecord": {"properties": {"someField": {"type": "integer"},
                                                  "someOtherField": {"type": "string"}},
                                   "required": ["someField", "someOtherField"]},
                },
                properties={"optimize": {"$ref": "#/definitions/someBool"},
                            "warnings": {"$ref": "#/definitions/someBool"},
                            "applesauce": {"$ref": "#/definitions/someRecord"}},
                required=["optimize", "warnings", "applesauce"])
    rec = T.StructType([T.StructField("someField", T.LongType()),
                        T.StructField("someOtherField", T.StringType())])
    schema = T.StructType([
        T.StructField("optimize", T.BooleanType()),
        T.StructField("warnings", T.BooleanType()),
        T.StructField("applesauce", rec),
    ])
    plan = run_rows(spark, doc, schema, [
        ((True, False, (1, "x")), True),
        ((True, False, (1, None)), False),
        ((True, None, (1, "x")), False),
    ])
    # engine deviation from the reference (documented): scalar definitions
    # inline as the scalar itself, not a {value: T} wrapper record
    assert plan.expected_schema["optimize"].dataType == T.BooleanType()


def test_fixture_array_ref_def(spark):
    doc = _root("ArrayRefDef",
                definitions={"subjectEntry": {"properties": {"id": {"type": "string"}},
                                              "required": ["id"]}},
                properties={"ArrayHolder": {
                    "properties": {"subject": {
                        "type": "array",
                        "items": {"$ref": "#/definitions/subjectEntry"}}}}})
    entry = T.StructType([T.StructField("id", T.StringType())])
    holder = T.StructType([T.StructField("subject", T.ArrayType(entry, True))])
    schema = T.StructType([T.StructField("ArrayHolder", holder)])
    run_rows(spark, doc, schema, [
        (((([("a",), ("b",)]),),), True),
        ((((None,),)), True),                # nullable holder members
        (((([("a",), (None,)]),),), False),  # element misses required id
        ((None,), True),                     # holder itself optional
    ])


# ------------------------------------------------------------------ oneOf

def test_fixture_oneof(spark):
    doc = _root("OneOf",
                definitions={
                    "AA": {"oneOf": [{"type": "boolean"}, {"type": "integer"}]},
                    "BB": {"properties": {"qux": {"type": "string"}},
                           "required": ["qux"]},
                },
                properties={
                    "foo": {"oneOf": [{"type": "number"}, {"type": "string"}]},
                    "foobar": {"oneOf": [{"type": "number"}, {"type": "string"}]},
                    "bar": {"$ref": "#/definitions/AA"},
                    "baz": {"oneOf": [{"$ref": "#/definitions/BB"},
                                      {"type": "boolean"}]},
                },
                required=["foo", "bar", "baz"])
    foo_t = T.StructType([T.StructField("double", T.DoubleType()),
                          T.StructField("string", T.StringType())])
    bar_t = T.StructType([T.StructField("boolean", T.BooleanType()),
                          T.StructField("long", T.LongType())])
    bb_t = T.StructType([T.StructField("qux", T.StringType())])
    baz_t = T.StructType([T.StructField("arm0", bb_t),
                          T.StructField("boolean", T.BooleanType())])
    schema = T.StructType([
        T.StructField("foo", foo_t), T.StructField("foobar", foo_t),
        T.StructField("bar", bar_t), T.StructField("baz", baz_t),
    ])
    run_rows(spark, doc, schema, [
        # exactly one arm everywhere
        (((1.5, None), None, (True, None), (("q",), None)), True),
        # foobar optional → null passes; baz takes boolean arm
        (((None, "s"), (2.0, None), (None, 3), (None, True)), True),
        # foo: both arms set → fail
        (((1.5, "s"), None, (True, None), (None, True)), False),
        # baz: BB arm present but qux missing → fail
        (((1.5, None), None, (True, None), ((None,), None)), False),
        # bar: no arm set → fail
        (((1.5, None), None, (None, None), (None, True)), False),
    ])


def test_fixture_nested_union_refs(spark):
    # root-level oneOf wraps into a `value` union field (Transpiler.scala:155-167)
    doc = _root("NestedUnionRefs",
                definitions={
                    "Thing": {"properties": {"subject": {
                        "type": "array",
                        "items": {"properties": {"id": {"type": "string"}},
                                  "required": ["id"]}}}},
                    "OtherThing": {"properties": {"foo": {"type": "string"}},
                                   "required": ["foo"]},
                },
                oneOf=[{"$ref": "#/definitions/Thing"},
                       {"$ref": "#/definitions/OtherThing"}])
    plan = compile_document(doc)
    assert [f.name for f in plan.expected_schema.fields] == ["value"]
    value_t = plan.expected_schema["value"].dataType
    assert isinstance(value_t, T.StructType)
    assert [f.name for f in value_t.fields] == ["arm0", "arm1"]

    thing_t = T.StructType([T.StructField("subject", T.ArrayType(
        T.StructType([T.StructField("id", T.StringType())]), True))])
    other_t = T.StructType([T.StructField("foo", T.StringType())])
    schema = T.StructType([T.StructField("value", T.StructType([
        T.StructField("arm0", thing_t), T.StructField("arm1", other_t)]))])
    run_rows(spark, doc, schema, [
        (((([("x",)],), None),), True),     # Thing arm
        (((None, ("f",)),), True),          # OtherThing arm
        (((None, (None,)),), False),        # OtherThing without foo
        (((([("x",)],), ("f",)),), False),  # both arms
        ((None,), False),                   # value required (no null arm)
    ])


def test_fixture_selfref_depth_bounded(spark):
    # circular refs: Element ↔ Extension; compile terminates via depth bound,
    # residual depth disclosed in unchecked_paths (SURVEY.md §7)
    doc = _root("SelfReferencing",
                definitions={
                    "Element": {"properties": {"extension": {
                        "type": "array",
                        "items": {"$ref": "#/definitions/Extension"}}}},
                    "Extension": {"properties": {
                        "extension": {"type": "array",
                                      "items": {"$ref": "#/definitions/Extension"}},
                        "circularRef": {"$ref": "#/definitions/Element"}}},
                    "Account": {"properties": {
                        "language": {"type": "string"},
                        "_language": {"$ref": "#/definitions/Element"}}},
                },
                properties={"account": {"$ref": "#/definitions/Account"}})
    plan = compile_document(doc, max_ref_depth=2)
    assert plan.unchecked_paths, "circular spec must report unchecked depth"
    acct_t = plan.expected_schema["account"].dataType
    assert isinstance(acct_t, T.StructType)
    # depth-2 inline: Extension appears, its residual refs became opaque binary
    lang_el = acct_t["_language"].dataType
    assert isinstance(lang_el, T.StructType)
    ext_arr = lang_el["extension"].dataType
    assert isinstance(ext_arr, T.ArrayType)


# ------------------------------------------------------------ error paths

def test_error_fixtures():
    with pytest.raises(SpecResolutionError, match=r"\$id must be specified"):
        compile_document({"properties": {"a": {"type": "string"}}})
    with pytest.raises(SpecParseError, match="multipleOf must be > 0"):
        compile_document(_root("E", properties={"a": {"multipleOf": -1}}))
    with pytest.raises(SpecParseError, match="must be >= 0"):
        compile_document(_root("E", properties={"a": {"minLength": -1}}))
    with pytest.raises(SpecParseError, match="must be >= 0"):
        compile_document(_root("E", properties={"a": {"maxLength": -2}}))
    with pytest.raises(SpecParseError, match="required must be an array"):
        compile_document(_root("E", required="a"))
    with pytest.raises(SpecParseError, match="required must be a string"):
        compile_document(_root("E", required=[1]))
    # documented deviation: the reference errors on tuple-form items
    # (Transpiler.scala:290); the engine compiles them (per-index predicates
    # — see test_keyword_checks.py::test_positional_items_*)
    tuple_plan = compile_document(_root("E", properties={
        "a": {"type": "array", "items": [{"type": "string"}]}}))
    a_field = [f for f in tuple_plan.expected_schema.fields if f.name == "a"][0]
    assert isinstance(a_field.dataType, T.ArrayType)
    with pytest.raises(SpecCompileError, match="no valid schemas"):
        compile_document(_root("E", properties={"a": False}))
    with pytest.raises(SpecCompileError, match="non-string enums"):
        compile_document(_root("E", properties={"a": {"enum": [1, 2]}}),
                         strict_enums=True)
    with pytest.raises(SpecParseError, match="root schema must be a schema"):
        compile_document(True)


_NON_STRING_ENUM = {"enum": [1, 2]}


@pytest.mark.parametrize("prop", [
    {"not": _NON_STRING_ENUM},
    {"type": "array", "contains": _NON_STRING_ENUM},
    {"type": "object", "patternProperties": {"^x": _NON_STRING_ENUM}},
    {"if": _NON_STRING_ENUM, "then": {"type": "integer"}},
    {"if": {"type": "integer"}, "then": _NON_STRING_ENUM},
    {"if": {"type": "integer"}, "else": _NON_STRING_ENUM},
    {"type": "object", "propertyNames": _NON_STRING_ENUM},
    {"type": "object",
     "dependencies": {"x": {"properties": {"y": _NON_STRING_ENUM}}}},
], ids=["not", "contains", "patternProperties", "if", "then", "else",
        "propertyNames", "dependencies"])
def test_strict_enums_cover_every_child_slot(prop):
    doc = _root("E", properties={"a": prop})
    compile_document(doc)  # compiles; only strict_enums rejects it
    with pytest.raises(SpecCompileError, match="non-string enums"):
        compile_document(doc, strict_enums=True)
