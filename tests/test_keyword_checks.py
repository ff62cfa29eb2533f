"""§2.2 keyword predicate semantics: for every constraint keyword, compile a
tiny spec and assert the check splits known-pass / known-fail rows exactly
(the data-level counterpart of test_spec_passes' parse coverage)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_to_avro_schema_spark.compiler.plan import compile_document  # noqa: E402
from json_to_avro_schema_spark.runner import run_validation  # noqa: E402


def _spec(props: dict, required=()) -> dict:
    return {
        "$id": "x://t/Kw",
        "type": "object",
        "properties": {"id": {"type": "integer"}, **props},
        "required": list(required),
    }


def _failing_ids(spark, doc: dict, rows, schema: str):
    plan = compile_document(doc)
    df = spark.createDataFrame(rows, schema)
    res = run_validation(spark, df, plan)
    return {r["id"] for r in res.violations.select("id").collect()}


def test_numeric_bounds_and_multiple_of(spark):
    doc = _spec({
        "a": {"type": "integer", "minimum": 0, "maximum": 10, "multipleOf": 2},
        "b": {"type": "number", "exclusiveMinimum": 0, "exclusiveMaximum": 1,
              "multipleOf": 0.25},
    })
    rows = [
        (1, 4, 0.5),      # pass
        (2, -2, 0.25),    # a < minimum
        (3, 12, 0.75),    # a > maximum
        (4, 3, 0.5),      # a not multiple of 2
        (5, 8, 0.0),      # b not > 0
        (6, 8, 1.0),      # b not < 1
        (7, 8, 0.3),      # b not multiple of 0.25
        (8, None, None),  # optional: nulls pass
    ]
    assert _failing_ids(spark, doc, rows, "id long, a long, b double") == {2, 3, 4, 5, 6, 7}


def test_string_length_pattern_format(spark):
    doc = _spec({
        "s": {"type": "string", "minLength": 2, "maxLength": 5,
              "pattern": "^[a-z]+$"},
        "e": {"type": "string", "format": "email"},
    })
    rows = [
        (1, "abc", "a@b.co"),
        (2, "a", "a@b.co"),       # too short
        (3, "abcdef", "a@b.co"),  # too long
        (4, "aBc", "a@b.co"),     # pattern
        (5, "abc", "not-email"),  # format
    ]
    assert _failing_ids(spark, doc, rows, "id long, s string, e string") == {2, 3, 4, 5}


def test_format_ipv6_uri_reference_json_pointer(spark):
    doc = _spec({
        "v6": {"type": "string", "format": "ipv6"},
        "ur": {"type": "string", "format": "uri-reference"},
        "jp": {"type": "string", "format": "json-pointer"},
    })
    ok = ("::1", "../rel/path?q=1", "/a/b~0c/0")
    rows = [
        (1, "2001:db8::1", "https://h/p", ""),            # pass (all forms)
        (2, *ok),                                         # pass
        (3, "fe80:0:0:0:0:0:0:1", "#frag", "/m~1n"),      # pass (full + escapes)
        (4, "12345::1", ok[1], ok[2]),                    # >4 hex digits
        (5, "not-an-ip", ok[1], ok[2]),                   # junk v6
        (6, ok[0], "has space", ok[2]),                   # whitespace in ref
        (7, ok[0], ok[1], "missing-slash"),               # pointer w/o leading /
        (8, ok[0], ok[1], "/bad~2escape"),                # invalid ~ escape
        (9, None, None, None),                            # optional: nulls pass
    ]
    assert _failing_ids(
        spark, doc, rows, "id long, v6 string, ur string, jp string"
    ) == {4, 5, 6, 7, 8}


def test_format_registry_remaining_draft6_names(spark):
    """The rest of the registry — date-time / date / time / hostname /
    ipv4 / uri / uri-template / uuid — completing draft-6 §8.3 (date,
    time, uuid are the draft-7+ extras the engine also ships)."""
    doc = _spec({
        "dt": {"type": "string", "format": "date-time"},
        "d": {"type": "string", "format": "date"},
        "t": {"type": "string", "format": "time"},
        "h": {"type": "string", "format": "hostname"},
        "ip": {"type": "string", "format": "ipv4"},
        "u": {"type": "string", "format": "uri"},
        "ut": {"type": "string", "format": "uri-template"},
        "uu": {"type": "string", "format": "uuid"},
    })
    ok = (
        "2024-01-02T03:04:05Z", "2024-01-02", "03:04:05.5",
        "a-b.example.com", "192.168.0.1", "https://x/y?q=1",
        "http://ex.com/~{username}/{file}{?x,y*,z:3}",
        "123e4567-e89b-12d3-a456-426614174000",
    )
    def row(i, **override):
        vals = dict(zip(("dt", "d", "t", "h", "ip", "u", "ut", "uu"), ok))
        vals.update(override)
        return (i, *vals.values())

    rows = [
        row(1),
        (2,) + (None,) * 8,                     # optional: nulls pass
        row(3, dt="2024-1-2T03:04:05Z"),        # 1-digit month
        row(4, d="24-01-02"),                   # 2-digit year
        row(5, t="3:04:05"),                    # 1-digit hour
        row(6, h="-bad.example.com"),           # label starts with hyphen
        row(7, ip="256.1.1.1"),                 # octet out of range
        row(8, u="no-scheme/path"),             # missing scheme colon
        row(9, ut="{unclosed"),                 # unterminated expression
        row(10, ut="{}"),                       # empty expression
        row(11, uu="123e4567e89b12d3a456426614174000"),  # no hyphens
    ]
    schema = ("id long, dt string, d string, t string, h string, "
              "ip string, u string, ut string, uu string")
    assert _failing_ids(spark, doc, rows, schema) == set(range(3, 12))


def test_array_keywords(spark):
    doc = _spec({
        "xs": {"type": "array", "minItems": 1, "maxItems": 3,
               "uniqueItems": True,
               "items": {"type": "integer", "minimum": 0},
               "contains": {"type": "integer", "minimum": 5}},
    })
    rows = [
        (1, [1, 6]),        # pass
        (2, []),            # minItems
        (3, [1, 2, 3, 6]),  # maxItems
        (4, [6, 6]),        # uniqueItems
        (5, [-1, 6]),       # element minimum
        (6, [1, 2]),        # contains (nothing ≥ 5)
    ]
    assert _failing_ids(spark, doc, rows, "id long, xs array<long>") == {2, 3, 4, 5, 6}


def test_map_keywords(spark):
    doc = _spec({
        "m": {"type": "object", "minProperties": 1, "maxProperties": 2,
              "propertyNames": {"pattern": "^[a-z]+$"},
              "additionalProperties": {"type": "integer", "minimum": 0}},
    })
    rows = [
        (1, {"a": 1}),
        (2, {}),                         # minProperties
        (3, {"a": 1, "b": 2, "c": 3}),   # maxProperties
        (4, {"BAD": 1}),                 # propertyNames
        (5, {"a": -1}),                  # value minimum
    ]
    assert _failing_ids(spark, doc, rows, "id long, m map<string,long>") == {2, 3, 4, 5}


def test_pattern_properties_value_schema(spark):
    doc = _spec({
        "m": {"type": "object",
              "additionalProperties": {"type": "integer"},
              "patternProperties": {"^n_": {"type": "integer", "minimum": 0}}},
    })
    rows = [
        (1, {"n_ok": 3, "other": -5}),   # pattern key ok; non-matching key free
        (2, {"n_bad": -1}),              # pattern key violates minimum
    ]
    assert _failing_ids(spark, doc, rows, "id long, m map<string,long>") == {2}


def test_dependencies_both_forms(spark):
    doc = _spec({
        "card": {"type": "string"},
        "cvv": {"type": "string"},
        "addr": {"type": "string"},
    })
    doc["dependencies"] = {
        "card": ["cvv"],                                   # property form
        "addr": {"properties": {"card": {"minLength": 4}},  # schema form
                 "required": ["card"]},
    }
    rows = [
        (1, None, None, None),     # nothing present → pass
        (2, "1234", "999", None),  # card+cvv → pass
        (3, "1234", None, None),   # card without cvv → fail
        (4, "1234", "999", "x"),   # addr present, card len ≥ 4 → pass
        (5, "12", "999", "x"),     # addr present, card too short → fail
    ]
    assert _failing_ids(
        spark, doc, rows, "id long, card string, cvv string, addr string"
    ) == {3, 5}


def test_const_and_complex_const(spark):
    doc = _spec({
        "k": {"const": "fixed"},
        "arr": {"const": [1, 2]},
    })
    rows = [
        (1, "fixed", [1, 2]),
        (2, "other", [1, 2]),   # scalar const
        (3, "fixed", [2, 1]),   # structural const
    ]
    assert _failing_ids(spark, doc, rows, "id long, k string, arr array<long>") == {2, 3}


def test_combinators_allof_anyof_not(spark):
    doc = _spec({
        "v": {"type": "integer",
              "allOf": [{"minimum": 0}, {"maximum": 100}],
              "anyOf": [{"multipleOf": 3}, {"multipleOf": 5}],
              "not": {"const": 15}},
    })
    rows = [
        (1, 9),     # pass (0..100, mult 3, != 15)
        (2, -3),    # allOf minimum
        (3, 300),   # allOf maximum (300 is mult of 3, in anyOf)
        (4, 7),     # anyOf: neither mult 3 nor 5
        (5, 15),    # not
        (6, 10),    # pass (mult 5)
    ]
    assert _failing_ids(spark, doc, rows, "id long, v long") == {2, 3, 4, 5}


def test_boolean_schemas(spark):
    doc = _spec({"anything": True})
    rows = [(1, "x"), (2, None)]
    assert _failing_ids(spark, doc, rows, "id long, anything string") == set()

    # false schema ⇒ no valid instance: compile-time error, reference parity
    # (Transpiler.scala:232-240)
    from json_to_avro_schema_spark.errors import SpecCompileError

    with pytest.raises(SpecCompileError, match="false value"):
        compile_document(_spec({"never": False}))


def test_required_vs_optional_null(spark):
    doc = _spec({"a": {"type": "string"}, "b": {"type": "string"}},
                required=["a"])
    rows = [(1, "x", None), (2, None, "y")]
    assert _failing_ids(spark, doc, rows, "id long, a string, b string") == {2}


def test_nested_struct_dotted_paths(spark):
    doc = _spec({
        "o": {"type": "object",
              "properties": {"inner": {"type": "integer", "minimum": 10}},
              "required": ["inner"]},
    })
    rows = [
        (1, {"inner": 12}),
        (2, {"inner": 5}),     # nested minimum
        (3, {"inner": None}),  # nested required
        (4, None),             # whole object optional → pass
    ]
    assert _failing_ids(
        spark, doc, rows, "id long, o struct<inner:long>"
    ) == {2, 3}


def test_positional_items_homogeneous(spark):
    """Tuple-form items on a homogeneous carrier (array<long>): per-index
    predicates + additionalItems schema — beyond the reference, which
    errors at Transpiler.scala:290."""
    doc = _spec({
        "t": {
            "type": "array",
            "items": [
                {"type": "integer", "minimum": 0},
                {"type": "integer", "maximum": 10},
            ],
            "additionalItems": {"type": "integer", "multipleOf": 5},
        },
    })
    rows = [
        (1, [1, 2]),          # pass
        (2, [-1, 2]),         # index 0 < minimum
        (3, [1, 11]),         # index 1 > maximum
        (4, [1]),             # shorter arrays pass (draft-6)
        (5, [1, 2, 15, 20]),  # additional items are multiples of 5
        (6, [1, 2, 7]),       # additional item not multiple of 5
        (7, None),            # null array passes (optional)
        (8, []),              # empty passes
    ]
    assert _failing_ids(spark, doc, rows, "id long, t array<long>") == {2, 3, 6}


def test_positional_items_additional_false(spark):
    doc = _spec({
        "t": {
            "type": "array",
            "items": [{"type": "integer"}, {"type": "integer"}],
            "additionalItems": False,
        },
    })
    rows = [
        (1, [1, 2]),
        (2, [1, 2, 3]),  # too long
        (3, [1]),
    ]
    assert _failing_ids(spark, doc, rows, "id long, t array<long>") == {2}


def test_positional_items_heterogeneous_struct_carrier(spark):
    """Heterogeneous tuple → fixed-width struct carrier (i0: long,
    i1: string); minItems requires the first positions present."""
    from pyspark.sql import types as T

    doc = _spec({
        "t": {
            "type": "array",
            "minItems": 1,
            "items": [
                {"type": "integer", "minimum": 0},
                {"type": "string", "minLength": 2},
            ],
        },
    })
    plan = compile_document(doc)
    t_field = [f for f in plan.expected_schema.fields if f.name == "t"][0]
    assert isinstance(t_field.dataType, T.StructType)
    assert [f.name for f in t_field.dataType.fields] == ["i0", "i1"]

    rows = [
        (1, (3, "ab")),      # pass
        (2, (-1, "ab")),     # i0 < minimum
        (3, (3, "a")),       # i1 too short
        (4, (3, None)),      # absent position passes
        (5, (None, "ab")),   # minItems=1: position 0 must be present
    ]
    schema = "id long, t struct<i0: long, i1: string>"
    assert _failing_ids(spark, doc, rows, schema) == {2, 3, 5}


def test_accumulative_additional_properties_schema(spark):
    """Draft-6-correct accumulative behavior (the reference's Roadmap
    flags its exclusive behavior as a known bug): declared properties keep
    their checks AND undeclared data columns validate against
    additionalProperties."""
    doc = {
        "$id": "x://t/Acc",
        "type": "object",
        "properties": {"id": {"type": "integer"},
                       "a": {"type": "integer", "minimum": 0}},
        "additionalProperties": {"type": "string", "minLength": 3},
    }
    rows = [
        (1, 5, "abc"),    # pass
        (2, -1, "abc"),   # declared property fails
        (3, 5, "ab"),     # additional column fails its schema
        (4, 5, None),     # absent additional value passes
    ]
    assert _failing_ids(spark, doc, rows, "id long, a long, x string") == {2, 3}


def test_accumulative_additional_properties_false(spark):
    doc = {
        "$id": "x://t/AccF",
        "type": "object",
        "properties": {"id": {"type": "integer"}},
        "additionalProperties": False,
    }
    rows = [(1, None), (2, "boo")]  # any non-null undeclared value fails
    assert _failing_ids(spark, doc, rows, "id long, x string") == {2}


def test_root_pattern_properties_on_columns(spark):
    doc = {
        "$id": "x://t/Pat",
        "type": "object",
        "properties": {"id": {"type": "integer"}},
        "patternProperties": {"^m_": {"type": "integer", "minimum": 0}},
        "additionalProperties": False,
    }
    rows = [
        (1, 5, None),     # m_x ok, extra absent
        (2, -1, None),    # m_x fails pattern-spec
        (3, 5, "boo"),    # non-matching extra forbidden
    ]
    assert _failing_ids(spark, doc, rows, "id long, m_x long, other string") == {2, 3}


def test_if_then_else_conditional(spark):
    """draft-7 if/then/else (beyond the reference's draft-6 surface):
    value < 0 must be a multiple of 5; otherwise must be <= 100."""
    doc = _spec({
        "v": {
            "type": "integer",
            "if": {"exclusiveMaximum": 0},
            "then": {"multipleOf": 5},
            "else": {"maximum": 100},
        },
    })
    rows = [
        (1, -10),   # if-branch, multiple of 5: pass
        (2, -3),    # if-branch, not multiple of 5: fail
        (3, 50),    # else-branch, <= 100: pass
        (4, 200),   # else-branch, > 100: fail
        (5, None),  # optional null: pass
    ]
    assert _failing_ids(spark, doc, rows, "id long, v long") == {2, 4}


def test_if_without_then_else_and_inert_then(spark):
    doc_if_only = _spec({
        "v": {"type": "integer", "if": {"minimum": 0}},
    })
    rows = [(1, 5), (2, -5)]
    # if alone constrains nothing (both branches default true)
    assert _failing_ids(spark, doc_if_only, rows, "id long, v long") == set()
    # then without if is inert per draft-7
    doc_then_only = _spec({
        "v": {"type": "integer", "then": {"maximum": 0}},
    })
    assert _failing_ids(spark, doc_then_only, rows, "id long, v long") == set()


def test_content_encoding_and_media_type(spark):
    """draft-7 §8 content keywords (beyond the reference's draft-6
    surface, like if/then/else): strict RFC-4648 base64/base16 syntax,
    application/json well-formedness, and the combined form where the
    media type applies to the DECODED value. Encodings without checkable
    syntax (quoted-printable) are annotation-only."""
    doc = _spec({
        "b": {"type": "string", "contentEncoding": "base64"},
        "h": {"type": "string", "contentEncoding": "base16"},
        "j": {"type": "string", "contentMediaType": "application/json"},
        "bj": {"type": "string", "contentEncoding": "base64",
               "contentMediaType": "application/json"},
        # media type applies to the DECODED value for base16 too, to the
        # literal value under the RFC-2045 identity encodings, and stays
        # annotation-only for encodings the engine cannot decode
        "hj": {"type": "string", "contentEncoding": "base16",
               "contentMediaType": "application/json"},
        "ij": {"type": "string", "contentEncoding": "8bit",
               "contentMediaType": "application/json"},
        "q": {"type": "string", "contentEncoding": "quoted-printable",
              "contentMediaType": "application/json"},
    })
    hex_json = '{"a":1}'.encode().hex().upper()  # 7B2261223A317D
    ok = ("Zm9v", "deadBEEF", '{"a": 1}', "eyJhIjoxfQ==",
          hex_json, '{"b": 2}', "=3D?junk?=")
    rows = [
        (1, *ok),                                          # pass
        (2, "Zm9v", "", "123", "eyJhIjoxfQ==",             # pass: empty hex,
         hex_json, ok[5], "x"),                            # scalar JSON
        (3, "Zm9#v", *ok[1:]),                             # bad b64 char
        (4, "Zm9vYQ", *ok[1:]),                            # missing padding
        (5, ok[0], "abc", *ok[2:]),                        # odd hex digits
        (6, ok[0], ok[1], "{not json", *ok[3:]),           # malformed JSON
        (7, *ok[:3], "bm90IGpzb24=", *ok[4:]),             # decodes non-JSON
        (8, *ok[:3], "!!notb64!!", *ok[4:]),               # fails enc check
        (9, *ok[:4], "6E6F74206A736F6E", *ok[5:]),         # hex of 'not json'
        (10, *ok[:5], "not json", ok[6]),                  # identity enc sees
                                                           # the literal value
        (11, None, None, None, None, None, None, None),    # nulls pass
    ]
    assert _failing_ids(
        spark, doc, rows,
        "id long, b string, h string, j string, bj string, hj string, "
        "ij string, q string",
    ) == {3, 4, 5, 6, 7, 8, 9, 10}


def test_x_severity_warn_enforce_and_fail_levels(spark):
    """The three expectation levels: warn (x-severity: warn — reported in
    verdicts, row stays valid), drop (default enforce — row lands in
    violations, not in valid), fail (fail_on_violations raises past the
    limit with a bounded sample)."""
    from json_to_avro_schema_spark.errors import (
        SpecParseError,
        ValidationFailedError,
    )
    from json_to_avro_schema_spark.runner import (
        fail_on_violations,
        run_validation,
    )

    doc = _spec({
        "hard": {"type": "integer", "minimum": 0},
        "soft": {"type": "string", "maxLength": 3, "x-severity": "warn"},
    }, required=["hard"])
    rows = [
        (1, 5, "ok"),          # clean
        (2, -1, "ok"),         # enforce failure → violation
        (3, 5, "too-long"),    # warn-only failure → still valid
        (4, None, "toolong"),  # required (enforce) + warn failures
    ]
    plan = compile_document(doc)
    df = spark.createDataFrame(rows, "id long, hard long, soft string")
    res = run_validation(spark, df, plan)

    assert {r["id"] for r in res.violations.select("id").collect()} == {2, 4}
    assert {r["id"] for r in res.valid.select("id").collect()} == {1, 3}
    assert res.valid.columns == df.columns  # original columns untouched

    # the warn check still reports: its verdict line shows the failures
    v = {r["check_name"]: r for r in res.verdicts.collect()}
    soft = next(n for n in v if "soft" in n)
    assert v[soft]["n_fail"] == 2 and v[soft]["pass"] is False

    # fail level: limit 2 tolerates the two violations, limit 1 raises
    assert fail_on_violations(res, limit=2) == 2
    with pytest.raises(ValidationFailedError) as ei:
        fail_on_violations(res, limit=1, sample=1)
    assert ei.value.n_violations == 2 and len(ei.value.sample) == 1

    with pytest.raises(SpecParseError):
        compile_document(_spec({"s": {"type": "string", "x-severity": "loud"}}))

    # unsupported positions are compile-time errors, never silent no-ops
    from json_to_avro_schema_spark.errors import SpecCompileError
    nested = _spec({"a": {"type": "object", "properties": {
        "b": {"type": "integer", "minimum": 0, "x-severity": "warn"}}}})
    with pytest.raises(SpecCompileError):
        compile_document(nested)
    rooted = _spec({"s": {"type": "string"}})
    rooted["x-severity"] = "warn"
    with pytest.raises(SpecCompileError):
        compile_document(rooted)

    # $ref siblings are dropped by inlining: severity there must be a
    # compile error, never a silent downgrade to enforce
    reffed = _spec({"a": {"$ref": "#/definitions/d", "x-severity": "warn"}})
    reffed["definitions"] = {"d": {"type": "integer", "minimum": 0}}
    with pytest.raises(SpecCompileError):
        compile_document(reffed)
    # ... and inside a definition body it is equally unsupported
    in_def = _spec({"a": {"$ref": "#/definitions/d"}})
    in_def["definitions"] = {
        "d": {"type": "integer", "minimum": 0, "x-severity": "warn"}
    }
    with pytest.raises(SpecCompileError):
        compile_document(in_def)

    # the fused violations->verdicts derivation cannot see warn failures:
    # it must refuse warn-bearing plans instead of under-reporting
    from json_to_avro_schema_spark.runner import verdicts_from_violations
    with pytest.raises(ValueError):
        verdicts_from_violations(df, res.violations, plan)


# ---- type-directed lowering: each arm lowers against the value's carrier.
# The cases below are the minimal reproductions the JSON-Schema
# differential (test_jsonschema_differential.py) found; each failed on the
# commit before type-directed lowering.

_ARRAYS = [(1, [1, 2]), (2, [1, 2, 3]), (3, [-1]), (4, [5, 6, 7, 8, 9]),
           (5, []), (6, None)]


@pytest.mark.parametrize("arms, failing", [
    ({"allOf": [{"maxItems": 2}]}, {2, 4}),
    ({"allOf": [{"minItems": 2}]}, {3, 5}),
    ({"allOf": [{"items": {"minimum": 0}}]}, {3}),
    ({"allOf": [{"contains": {"minimum": 5}}]}, {1, 2, 3, 5}),
    ({"anyOf": [{"maxItems": 2}, {"minItems": 5}]}, {2}),
    ({"not": {"maxItems": 2}}, {1, 3, 5}),
])
def test_untyped_array_keyword_arms(spark, arms, failing):
    doc = _spec({"ai": {"type": "array", "items": {"type": "integer"}, **arms}})
    assert _failing_ids(spark, doc, _ARRAYS, "id long, ai array<long>") == failing


@pytest.mark.parametrize("spec, rows, failing", [
    ({"type": "string", "oneOf": [{"pattern": "b$"}, {"pattern": "\\d"}]},
     [(1, "ab"), (2, "a1"), (3, "1b"), (4, "xx")], {3, 4}),
    ({"type": "number", "oneOf": [{"const": 1}, {"minimum": 2}]},
     [(1, 1.0), (2, 2.5), (3, 1.5)], {3}),
    ({"type": "string", "oneOf": [{"minLength": 2}, {"maxLength": 0}]},
     [(1, ""), (2, "ab"), (3, "a")], {3}),
    # parent: INVALID_EXTRACT_BASE_FIELD_TYPE at selectExpr
    ({"type": "number", "allOf": [{"oneOf": [
        {"maximum": 1}, {"maximum": 3, "const": 1}, {"minimum": 1}]}]},
     [(1, 0.5), (2, 1.0), (3, 2.0), (4, 5.0)], {2}),
    # parent: length(CAST(v AS STRING)) <= 1 on a number
    ({"type": "number", "allOf": [{"maxLength": 1}]},
     [(1, 12.5), (2, 3.0)], set()),
    ({"type": "integer", "allOf": [{"type": "string"}]}, [(1, 1.0)], {1}),
    ({"type": "number", "anyOf": [{"type": "integer"}, {"minimum": 10}]},
     [(1, 2.0), (2, 2.5), (3, 12.5)], {2}),
])
def test_scalar_combinator_arms(spark, spec, rows, failing):
    dtype = "long" if spec["type"] == "integer" else (
        "double" if spec["type"] == "number" else "string")
    rows = [(i, int(v) if dtype == "long" else v) for i, v in rows]
    assert _failing_ids(spark, _spec({"v": spec}), rows, f"id long, v {dtype}") == failing


def test_contains_null_element_matches_subschema_admitting_null(spark):
    """A null element is JSON null: it satisfies an untyped ``contains``
    (``minimum`` constrains numbers only) but not a typed one."""
    doc = _spec({
        "u": {"type": "array", "items": {"type": ["integer", "null"]},
              "contains": {"minimum": 5}},
        "t": {"type": "array", "items": {"type": ["integer", "null"]},
              "contains": {"type": "integer", "minimum": 5}},
    })
    rows = [(1, [None, 1], [7]), (2, [1], [None, 1]), (3, [], [5])]
    assert _failing_ids(
        spark, doc, rows, "id long, u array<long>, t array<long>"
    ) == {2, 3}


@pytest.mark.parametrize("spec, rows, schema, failing", [
    ({"type": ["array", "null"], "items": {"type": "string"}, "maxItems": 1},
     [(1, ["a"]), (2, ["a", "b"]), (3, None)], "array<string>", {2}),
    ({"type": ["object", "null"],
      "properties": {"a": {"type": "integer", "minimum": 0}}},
     [(1, (1,)), (2, (-1,)), (3, None)], "struct<a: long>", {2}),
    ({"oneOf": [{"type": "null"},
                {"type": "array", "items": {"type": "integer"}, "maxItems": 2}]},
     [(1, [1]), (2, [1, 2, 3]), (3, None)], "array<long>", {2}),
])
def test_nullable_array_and_object_specs(spark, spec, rows, schema, failing):
    """A union naming array/object arms compiles (parent: KeyError) and
    validates like the arm it collapses to."""
    assert _failing_ids(spark, _spec({"v": spec}), rows, f"id long, v {schema}") == failing


@pytest.mark.parametrize("rows, schema, failing", [
    ([(1, "abc"), (2, "7"), (3, None)], "string", set()),
    ([(1, bytearray(b"\x00\x01")), (2, bytearray(b"9"))], "binary", set()),
    ([(1, 3), (2, -1), (3, None)], "long", {2}),
])
def test_any_carrier_numeric_keyword_is_cast_safe(spark, rows, schema, failing):
    """An untyped ``{"minimum": 0}`` property carries any column type
    (BinaryType). A value that does not read as a number passes instead
    of failing the job (parent: CAST_INVALID_INPUT on "abc",
    DATATYPE_MISMATCH on binary); a bigint column is still checked."""
    doc = _spec({"v": {"minimum": 0}})
    assert _failing_ids(spark, doc, rows, f"id long, v {schema}") == failing


@pytest.mark.parametrize("spans", [
    {"type": "array"},
    {"type": "array", "items": {"type": "integer"}},
    {"type": "array", "items": {"type": "object",
                                "properties": {"pos": {"type": "integer"}}}},
])
def test_malformed_monotonic_increasing_rejected_at_compile(spans):
    from json_to_avro_schema_spark.errors import SpecCompileError

    doc = _spec({"spans": {**spans, "x-monotonicIncreasing": ["offset"]}})
    with pytest.raises(SpecCompileError, match=r"x-monotonicIncreasing at \$\.spans"):
        compile_document(doc)
