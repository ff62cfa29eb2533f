"""Driver-side compiler passes — no SparkSession needed.

Mirrors the reference's per-pass unit specs: JsonSchemaParserSpec (keyword
parse/validation), IdNormalizerSpec (base-URI resolution), SymbolResolverSpec
(bidirectional table invariants), Transpiler type-mapping cases.
"""

from __future__ import annotations

import dataclasses

import pytest

from json_to_avro_schema_spark.errors import SpecParseError
from json_to_avro_schema_spark.spec.model import (
    CHILD_SLOTS,
    UNSET,
    ConstraintSpec,
    children,
    map_children,
)
from json_to_avro_schema_spark.spec.normalize import normalize_ids
from json_to_avro_schema_spark.spec.parser import parse_root, parse_subspec
from json_to_avro_schema_spark.spec.symbols import resolve_symbols


# ------------------------------------------------------------------ parser

def test_parse_all_keywords_roundtrip():
    doc = {
        "$schema": "http://json-schema.org/draft-06/schema#",
        "$id": "http://x/Root", "title": "T", "description": "D",
        "default": 3, "multipleOf": 2, "maximum": 10, "exclusiveMaximum": 11,
        "minimum": 1, "exclusiveMinimum": 0, "maxLength": 5, "minLength": 1,
        "pattern": "^a", "items": {"type": "string"}, "additionalItems": True,
        "maxItems": 4, "minItems": 1, "uniqueItems": True,
        "contains": {"type": "number"}, "maxProperties": 9, "minProperties": 1,
        "required": ["a"], "properties": {"a": {"type": "string"}},
        "patternProperties": {"^x": {"type": "integer"}},
        "additionalProperties": {"type": "boolean"},
        "dependencies": {"a": ["b"], "c": {"type": "object"}},
        "propertyNames": {"pattern": "^[a-z]+$"}, "const": 7,
        "type": "object", "enum": ["p", "q"], "format": "email",
        "allOf": [True], "anyOf": [{"type": "null"}], "oneOf": [False],
        "not": {"type": "array"},
    }
    root = parse_root(doc)
    s = root.spec
    assert root.schema_uri == "http://json-schema.org/draft-06/schema#"
    assert s.id == "http://x/Root" and s.title == "T" and s.desc == "D"
    assert s.default == 3 and s.const == 7
    assert s.multiple_of == 2 and s.maximum == 10 and s.exclusive_maximum == 11
    assert s.minimum == 1 and s.exclusive_minimum == 0
    assert s.max_length == 5 and s.min_length == 1 and s.pattern == "^a"
    assert isinstance(s.items, ConstraintSpec) and s.items.types == ("string",)
    assert s.additional_items is True
    assert s.max_items == 4 and s.min_items == 1 and s.unique_items is True
    assert isinstance(s.contains, ConstraintSpec)
    assert s.max_properties == 9 and s.min_properties == 1
    assert s.required == ("a",) and "a" in s.properties
    assert "^x" in s.pattern_properties
    assert isinstance(s.additional_properties, ConstraintSpec)
    assert s.dependencies["a"] == ("b",)
    assert isinstance(s.dependencies["c"], ConstraintSpec)
    assert isinstance(s.property_names, ConstraintSpec)
    assert s.types == ("object",) and s.enum == ("p", "q") and s.format == "email"
    assert s.all_of == (True,) and s.one_of == (False,)
    assert isinstance(s.any_of[0], ConstraintSpec) and s.any_of[0].types == ("null",)
    assert isinstance(s.not_, ConstraintSpec)


def test_parse_defaults_match_reference():
    # JsonSchema.scala:49-88 defaults: minLength/minItems/minProperties 0,
    # uniqueItems false, collections empty, const/default UNSET
    s = parse_subspec({})
    assert s.min_length == 0 and s.min_items == 0 and s.min_properties == 0
    assert s.unique_items is False and s.required == ()
    assert s.const is UNSET and s.default is UNSET


def test_parse_boolean_schemas():
    assert parse_subspec(True) is True
    assert parse_subspec(False) is False
    with pytest.raises(SpecParseError, match="object or boolean"):
        parse_subspec("nope")


@pytest.mark.parametrize(
    "doc,msg",
    [
        ({"multipleOf": 0}, "multipleOf must be > 0"),
        ({"multipleOf": "x"}, "multipleOf must be a number"),
        ({"minLength": -1}, "minLength must be >= 0"),
        ({"maxItems": -1}, "maxItems must be >= 0"),
        ({"uniqueItems": "yes"}, "uniqueItems must be a boolean"),
        ({"pattern": 4}, "pattern must be a string"),
        ({"type": 4}, "type must be a string or array"),
        ({"type": "float"}, "Invalid type: float"),
        ({"type": ["string", 3]}, "type must be a string or array"),
        ({"items": "x"}, "items must be an object or array"),
        ({"required": {"a": 1}}, "required must be an array"),
        ({"required": [3]}, "required must be a string"),
        ({"properties": []}, "properties must be an object"),
        ({"enum": "abc"}, "enum must be an array"),
        ({"allOf": {}}, "allOf must be an array"),
        ({"dependencies": {"a": 3}}, "object or string array"),
        ({"dependencies": {"a": [3]}}, "object or string array"),
        ({"x-bits": 16}, "x-bits must be 32 or 64"),
    ],
)
def test_parse_keyword_validation_errors(doc, msg):
    with pytest.raises(SpecParseError, match=msg):
        parse_subspec(doc)


# ------------------------------------------------------------- child slots

def test_child_slot_table_names_every_schema_field():
    """Every ConstraintSpec field that can hold a child schema is in the slot
    table, so a new schema-bearing keyword cannot go untraversed."""
    schema_fields = {
        f.name for f in dataclasses.fields(ConstraintSpec) if "JSchema" in str(f.type)
    }
    slot_fields = [name for name, _ in CHILD_SLOTS]
    assert len(slot_fields) == len(set(slot_fields)) == 16
    assert set(slot_fields) == schema_fields


def test_children_labels_and_map_children():
    s = parse_subspec({
        "definitions": {"D": {}}, "items": [{}, True, {}], "contains": {},
        "properties": {"p": {"not": {}}}, "oneOf": [{}, False],
        "dependencies": {"a": ["b"], "c": {}}, "if": {}, "then": {},
    })
    assert [(f, p) for f, p, _ in children(s, "$")] == [
        ("definitions", "$.def[D]"), ("items", "$[0]"), ("items", "$[2]"),
        ("properties", "$.p"), ("contains", "$[contains]"), ("if_", "$?"),
        ("then_", "$?t"), ("one_of", "$^0"), ("dependencies", "$.dep[c]"),
    ]
    assert [p for _, p, _ in children(s.properties["p"], "$.p")] == ["$.p!"]
    assert map_children(s, lambda c, _: c) == s
    # fn's result replaces exactly the schema children; boolean schemas and
    # the property-list form of dependencies stay as they were
    marked = map_children(s, lambda c, p: c.evolve(title=p))
    assert marked.items[1] is True and marked.one_of[1] is False
    assert marked.dependencies["a"] == ("b",)
    assert marked.items[2].title == "$[2]" and marked.dependencies["c"].title == "$.dep[c]"
    assert marked.properties["p"].not_ == ConstraintSpec()
    # a slot set through ``fields`` is replaced without being walked
    seen = []
    dropped = map_children(s, lambda c, p: seen.append(p) or c, definitions={})
    assert dropped.definitions == {} and "$.def[D]" not in seen and "$.p" in seen


# --------------------------------------------------------------- normalize

def test_normalize_relative_ids_rfc3986():
    doc = {
        "$id": "http://example.com/root",
        "definitions": {
            "A": {"$id": "folder/a.json",
                  "properties": {"inner": {"$id": "inner.json"}}},
            "B": {"$id": "http://other.com/abs"},
            "U": {"$id": "urn:uuid:deadbeef"},
        },
    }
    root = normalize_ids(parse_root(doc))
    defs = root.spec.definitions
    assert defs["A"].id == "http://example.com/folder/a.json"
    # nested $id resolves against the nearest ancestor $id (new base)
    assert defs["A"].properties["inner"].id == "http://example.com/folder/inner.json"
    assert defs["B"].id == "http://other.com/abs"       # absolute passes through
    assert defs["U"].id == "urn:uuid:deadbeef"          # URN passes through


def test_normalize_requires_root_id():
    from json_to_avro_schema_spark.errors import SpecResolutionError

    with pytest.raises(SpecResolutionError, match=r"\$id must be specified"):
        normalize_ids(parse_root({"properties": {}}))


# ----------------------------------------------------------------- symbols

def test_symbols_bidirectional():
    doc = {
        "$id": "http://example.com/root",
        "definitions": {"A": {"$id": "http://example.com/a"}},
        "properties": {"B": {"$id": "http://example.com/b"}},
    }
    table = resolve_symbols(normalize_ids(parse_root(doc)))
    assert table["#/definitions/A"] == "http://example.com/a"
    assert table["http://example.com/a"] == "#/definitions/A"
    assert table["#/properties/B"] == "http://example.com/b"
    assert table["http://example.com/b"] == "#/properties/B"
    # bidirectional invariant: every mapping is invertible
    for k, v in table.items():
        assert table[v] == k
