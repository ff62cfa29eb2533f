"""Row checks lowered to Spark SQL text: quoting, literal typing, x-checks
isolation, and the py4j cost of building a verdict query.

The expected rows of the escaping cases were recorded from the Column-based
compiler this lowering replaced, so they are its verdicts; the one exception
is the backtick property name, which that compiler could not resolve.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from json_to_avro_schema_spark import runner  # noqa: E402
from json_to_avro_schema_spark.compiler.plan import compile_document  # noqa: E402
from json_to_avro_schema_spark.errors import SpecCompileError  # noqa: E402
from json_to_avro_schema_spark.sources.synthetic import documents_iv_rich_spec  # noqa: E402


def _doc(props: dict, required=(), x_checks=()) -> dict:
    return {
        "$id": "x://t/Sql",
        "type": "object",
        "properties": {"id": {"type": "integer"}, **props},
        "required": list(required),
        "x-checks": list(x_checks),
    }


def _verdicts(spark, doc: dict, schema: T.StructType, rows):
    """(sorted (check_name, n_fail) verdict rows, failing ids)."""
    df = spark.createDataFrame(rows, schema)
    res = runner.run_validation(spark, df, compile_document(doc))
    verdicts = sorted((r["check_name"], r["n_fail"]) for r in res.verdicts.collect())
    return verdicts, {r["id"] for r in res.violations.select("id").collect()}


def _schema(*fields) -> T.StructType:
    return T.StructType([T.StructField("id", T.LongType())] + [
        T.StructField(name, dtype) for name, dtype in fields
    ])


Q = "it's \\ \"q\"\n ü"  # quote, backslash, double quote, newline, non-ASCII

CASES = {
    "space_and_backtick_names": (
        _doc({"a b": {"type": "integer", "minimum": 1},
              "c`d": {"type": "string", "maxLength": 2}}),
        _schema(("a b", T.LongType()), ("c`d", T.StringType())),
        [(1, 2, "ok"), (2, 0, "ok"), (3, 5, "long")],
        ([("a_b__conforms", 1), ("c_d__conforms", 1), ("id__conforms", 0)], {2, 3}),
    ),
    "enum_and_const_strings": (
        _doc({"e": {"type": "string",
                    "enum": ["it's", "back\\slash", 'say "hi"', "two\nlines", "naïve 漢字"]},
              "k": {"type": "string", "const": Q}}),
        _schema(("e", T.StringType()), ("k", T.StringType())),
        [(1, "it's", Q), (2, "back\\slash", Q), (3, 'say "hi"', Q),
         (4, "two\nlines", Q), (5, "naïve 漢字", Q), (6, "its", Q),
         (7, "it's", Q.replace("\\", "/"))],
        ([("e__conforms", 1), ("id__conforms", 0), ("k__conforms", 1)], {6, 7}),
    ),
    "pattern_strings": (
        _doc({"p": {"type": "string", "pattern": "^it's \\\\ \"q\"\\n?ü+$"}}),
        _schema(("p", T.StringType())),
        [(1, "it's \\ \"q\"ü"), (2, "it's \\ \"q\"\nüü"), (3, "its \\ \"q\"ü"),
         (4, "it's  \"q\"ü")],
        ([("id__conforms", 0), ("p__conforms", 2)], {3, 4}),
    ),
    "numeric_literal_types": (
        _doc({"h": {"type": "number", "minimum": 0.5, "multipleOf": 0.1},
              "big": {"type": "integer", "maximum": 2**40}}),
        _schema(("h", T.DoubleType()), ("big", T.LongType())),
        [(1, 0.5, 2**40), (2, 0.4, 0), (3, 0.55, 1), (4, 0.7, 2**40 + 1),
         (5, 1.2, 5)],
        ([("big__conforms", 1), ("h__conforms", 2), ("id__conforms", 0)], {2, 3, 4}),
    ),
    "x_check_quoted_paren": (
        _doc({"s": {"type": "string"}},
             x_checks=[{"name": "not_paren", "expr": "s <> ')' AND s <> 'it\\'s'"}]),
        _schema(("s", T.StringType())),
        [(1, "ok"), (2, ")"), (3, "it's")],
        ([("id__conforms", 0), ("not_paren", 2), ("s__conforms", 0)], {2, 3}),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_escaping_and_literal_typing(spark, case):
    doc, schema, rows, expected = CASES[case]
    assert _verdicts(spark, doc, schema, rows) == expected


@pytest.mark.parametrize("expr", ["true) OR (false", "true, false", "true -- x", "'open"])
def test_x_check_text_cannot_reach_other_checks(expr):
    with pytest.raises(SpecCompileError, match="x-checks 'inj'"):
        compile_document(_doc({}, x_checks=[{"name": "inj", "expr": expr}]))


def test_dotted_top_level_property_name(spark):
    """``"a.b"`` is one column, not field ``b`` of a struct ``a``."""
    doc = _doc({"a.b": {"type": "integer", "minimum": 0}}, required=["a.b"])
    verdicts, failing = _verdicts(
        spark, doc, _schema(("a.b", T.LongType())), [(1, 5), (2, -1), (3, None)]
    )
    assert verdicts == [("a_b__conforms", 1), ("a_b__required", 1), ("id__conforms", 0)]
    assert failing == {2, 3}


def _py4j_calls(spark, build) -> int:
    """py4j round trips (GC detach commands excluded) made by ``build()``."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        client.__dict__.pop("send_command", None)
    return len(calls)


def test_verdict_build_py4j_budget(spark):
    """Building the rich-spec verdict query costs a bounded number of py4j
    round trips (GC detach commands excluded), independent of how many
    keywords the spec carries."""
    plan = compile_document(documents_iv_rich_spec())
    df = spark.createDataFrame([], plan.expected_schema)
    n = _py4j_calls(spark, lambda: runner.verdicts_with_violation_count(df, plan))
    assert n <= 150


def test_spans_from_documents_build_py4j_budget(spark):
    """The derived-spans table is one SQL projection: building it with all
    three corruption families costs a handful of py4j round trips."""
    from json_to_avro_schema_spark.sources.derived_spans import spans_from_documents

    docs = spark.createDataFrame([], "doc_id long, text string")
    n = _py4j_calls(spark, lambda: spans_from_documents(
        docs, corrupt_every=9, bad_ref_every=21, null_spans_every=11
    ))
    assert n <= 10


def _tree(node):
    """Every node of a Catalyst tree (plan or expression), over py4j."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _tree(children.apply(i))


def test_flagship_span_check_plan_shape(spark):
    """The rich spec's optimized plan holds no interpreted ``aggregate``
    fold, and each ``oneOf`` arm's pattern is evaluated in exactly one
    place of ``spans__conforms`` (the arm the span's ``kind`` selects)."""
    spec = documents_iv_rich_spec()
    plan = compile_document(spec)
    df = spark.createDataFrame([], plan.expected_schema)
    optimized = runner.apply_row_checks(df, plan)._jdf.queryExecution().optimizedPlan()
    exprs = [e for p in _tree(optimized) for i in range(p.expressions().size())
             for e in _tree(p.expressions().apply(i))]
    assert not [e for e in exprs if e.getClass().getSimpleName() == "ArrayAggregate"]

    (spans,) = [e for e in exprs if e.getClass().getSimpleName() == "Alias"
                and e.name() == runner.CHECK_PREFIX + "spans__conforms"]
    patterns = sorted(e.right().toString() for e in _tree(spans)
                      if e.getClass().getSimpleName() == "RLike")
    arms = spec["properties"]["spans"]["items"]["oneOf"]
    assert patterns == sorted(
        sub["pattern"] for arm in arms for sub in arm["properties"].values()
        if "pattern" in sub
    )
