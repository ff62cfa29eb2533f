"""Differential conformance: compiled row checks vs an independent validator.

A seeded generator builds constraint specs over a six-column typed table
(bigint, double, string, array<bigint>, array<string>, struct<a bigint,
b string>) and compares, row by row, the engine's row pass with
``jsonschema``'s ``Draft7Validator.is_valid`` on the JSON instance of that
row. Draft 7, because the engine also lowers ``if``/``then``/``else``.

The JSON instance of a row: a null column or a null struct field is an
absent property; a null array element is JSON null.

Generated specs use the per-kind keywords (numeric, string, array, object,
``const``/``enum``, ``type``) and the combinators (``allOf``, ``anyOf``,
``oneOf``, ``not``, ``if``/``then``/``else``, schema-form
``dependencies``) nested down to depth 2. Arms are untyped, typed with the
column's kind, typed with a disjoint kind, or multi-typed. A spec whose
``expected_schema`` does not conform to the table (its property types name
a different carrier) is skipped and counted.

What the generator leaves out, and why:

* ``format`` and ``contentEncoding``/``contentMediaType``: the engine
  asserts them, ``Draft7Validator`` only annotates them by default;
* ``multipleOf`` divisors are 2, 3 and 0.5, and doubles are multiples of
  0.25: the engine compares non-integral quotients with an epsilon
  (SURVEY.md §7), ``jsonschema`` with exact float arithmetic, and the two
  agree on dyadic values;
* root-level ``required``/``dependencies`` name only declared properties:
  the engine binds an undeclared data column only through root
  ``additionalProperties``/``patternProperties``;
* ``x-*`` keywords: engine extensions, which the validator ignores.

The engine may disagree only on a spec in the allow-list: one that uses an
``x-*`` keyword or reports ``unchecked_paths``. This generator produces
neither, so the test also asserts the allow-list is empty and every
disagreement fails it.
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

jsonschema = pytest.importorskip("jsonschema")

from json_to_avro_schema_spark.compiler.plan import compile_document  # noqa: E402
from json_to_avro_schema_spark.compiler.sql import and_, coalesce_false, lit  # noqa: E402
from json_to_avro_schema_spark.runner import run_validation, schema_conformance  # noqa: E402

SEED = 8
N_SPECS = 600
MIN_EVALUATED = 500
N_ROWS = 60
BATCH = 50

SCHEMA = (
    "rid bigint, n bigint, x double, s string, ai array<bigint>, "
    "as array<string>, o struct<a: bigint, b: string>"
)
# column → (JSON kind, element kind for arrays)
COLUMNS = {
    "n": ("integer", None), "x": ("number", None), "s": ("string", None),
    "ai": ("array", "integer"), "as": ("array", "string"), "o": ("object", None),
}
KINDS = ("null", "boolean", "integer", "number", "string", "array", "object")
PATTERNS = ("^a", "b$", "\\d", "^[ab]*$", "x", "^$")
POOL = (0, 1, 2, 2.5, -1, "a", "ab", "", True, False, None,
        [1, 2], [], ["a"], {"a": 1}, {"a": 1, "b": "a"}, {})


# ------------------------------------------------------------------ data

def _rows(rng: random.Random):
    def some(gen, p_null=0.15):
        return None if rng.random() < p_null else gen()

    def num():
        return rng.randint(-2, 6)

    def dbl():
        return rng.randint(-8, 24) * 0.25

    def txt():
        return "".join(rng.choice("ab1x") for _ in range(rng.randint(0, 3)))

    def arr(elem):
        return [some(elem, 0.12) for _ in range(rng.randint(0, 4))]

    return [
        (i, some(num), some(dbl), some(txt), some(lambda: arr(num)),
         some(lambda: arr(txt)), some(lambda: (some(num, 0.25), some(txt, 0.25))))
        for i in range(N_ROWS)
    ]


def _instance(row) -> dict:
    _, n, x, s, ai, as_, o = row
    out = {"n": n, "x": x, "s": s, "ai": ai, "as": as_}
    if o is not None:
        out["o"] = {k: v for k, v in zip("ab", o) if v is not None}
    return {k: v for k, v in out.items() if v is not None}


# ------------------------------------------------------------- generator

class _Gen:
    def __init__(self, rng: random.Random, rows):
        self.rng = rng
        self.values = {c: [_instance(r).get(c) for r in rows] for c in COLUMNS}

    def pick(self, seq):
        return self.rng.choice(seq)

    def chance(self, p: float) -> bool:
        return self.rng.random() < p

    # per-kind keyword families
    def numeric(self) -> dict:
        kw = self.pick(("minimum", "maximum", "exclusiveMinimum",
                        "exclusiveMaximum", "multipleOf"))
        if kw == "multipleOf":
            return {kw: self.pick((2, 3, 0.5))}
        return {kw: self.pick((-1, 0, 1, 2, 3.5, 5))}

    def string(self) -> dict:
        kw = self.pick(("minLength", "maxLength", "pattern"))
        return {kw: self.pick(PATTERNS) if kw == "pattern" else self.rng.randint(0, 3)}

    def array(self, elem: str, depth: int) -> dict:
        kw = self.pick(("minItems", "maxItems", "uniqueItems", "items", "contains"))
        if kw in ("items", "contains"):
            return {kw: self.arm(elem, None, depth + 1)}
        if kw == "uniqueItems":
            return {kw: True}
        return {kw: self.rng.randint(0, 3)}

    def object(self, depth: int) -> dict:
        kw = self.pick(("required", "properties", "minProperties", "maxProperties",
                        "additionalProperties", "propertyNames", "dependencies",
                        "patternProperties"))
        if kw == "required":
            return {kw: self.pick((["a"], ["b"], ["a", "b"], ["c"]))}
        if kw == "properties":
            name = self.pick(("a", "b"))
            sub = self.arm("integer" if name == "a" else "string", None, depth + 1)
            return {kw: {name: sub}}
        if kw in ("minProperties", "maxProperties"):
            return {kw: self.rng.randint(0, 2)}
        if kw == "additionalProperties":
            out = {kw: self.pick((False, {"minimum": 1}, {"type": "string"}))}
            if self.chance(0.5):
                out["properties"] = {"a": {}}
            return out
        if kw == "propertyNames":
            return {kw: self.pick(({"pattern": "^a$"}, {"maxLength": 0}, {"enum": ["a", "c"]}))}
        if kw == "dependencies":
            return {kw: self.pick(({"a": ["b"]}, {"a": {"required": ["b"]}},
                                   {"b": {"properties": {"a": {"minimum": 2}}}},
                                   {"b": ["c"]}))}
        return {kw: {self.pick(("^a", "^b", "^c")): self.arm(
            self.pick(("integer", "string")), None, depth + 1)}}

    def literal_keyword(self, column) -> dict:
        pool = list(POOL) + ([v for v in self.values[column] if v is not None][:3]
                             if column else [])
        if self.chance(0.5):
            return {"const": self.pick(pool)}
        vals = []
        for v in self.rng.sample(pool, self.rng.randint(1, 3)):
            if all(json.dumps(v) != json.dumps(w) for w in vals):
                vals.append(v)
        return {"enum": vals}

    def family(self, kind: str, elem, depth: int) -> dict:
        """One keyword, mostly of the value's own kind."""
        if self.chance(0.3):
            kind = self.pick(("integer", "string", "array", "object"))
            elem = elem or self.pick(("integer", "string"))
        if kind in ("integer", "number"):
            return self.numeric()
        if kind == "string":
            return self.string()
        if kind == "array":
            return self.array(elem or "integer", depth)
        return self.object(depth)

    def combinator(self, kind: str, elem, column, depth: int) -> dict:
        kw = self.pick(("allOf", "anyOf", "oneOf", "not", "if"))
        arm = lambda: self.arm(kind, elem, depth + 1, column)  # noqa: E731
        if kw == "not":
            return {"not": arm()}
        if kw == "if":
            out = {"if": arm()}
            for branch in ("then", "else"):
                if self.chance(0.7):
                    out[branch] = arm()
            return out
        return {kw: [arm() for _ in range(self.rng.randint(1, 3))]}

    def arm(self, kind: str, elem, depth: int, column=None):
        """A subschema applied to a value of JSON kind ``kind``."""
        if self.chance(0.06):
            return self.chance(0.7)
        out: dict = {}
        r = self.rng.random()
        if r < 0.15:
            out["type"] = kind
        elif r < 0.3:
            out["type"] = self.pick([k for k in KINDS if k != kind])
        elif r < 0.42:
            out["type"] = self.rng.sample(KINDS, 2)
        for _ in range(self.rng.randint(1, 2)):
            if self.chance(0.15):
                out.update(self.literal_keyword(column))
            else:
                out.update(self.family(kind, elem, depth))
        if depth < 2 and self.chance(0.35):
            out.update(self.combinator(kind, elem, column, depth))
        return out

    def property(self, column: str) -> dict:
        kind, elem = COLUMNS[column]
        if self.chance(0.06):  # a carrier that does not fit the column
            kind = self.pick([k for k in ("integer", "number", "string") if k != kind])
            return {"type": kind}
        out: dict = {"type": [kind, "null"] if self.chance(0.3) else kind}
        for _ in range(self.rng.randint(0, 2)):
            if self.chance(0.15):
                out.update(self.literal_keyword(column))
            else:
                out.update(self.family(kind, elem, 0))
        for _ in range(self.rng.randint(0, 2)):
            out.update(self.combinator(kind, elem, column, 0))
        # the structure that fixes the column's carrier
        if kind == "array":
            item: dict = {"type": [elem, "null"] if self.chance(0.5) else elem}
            if self.chance(0.4):
                item.update(self.numeric() if elem == "integer" else self.string())
            out["items"] = item
        if kind == "object":
            out["properties"] = {"a": {"type": "integer"}, "b": {"type": "string"}}
        return out

    def document(self, i: int) -> dict:
        cols = self.rng.sample(sorted(COLUMNS), self.rng.randint(1, 3))
        doc = {
            "$id": f"x://diff/S{i}",
            "type": "object",
            "properties": {c: self.property(c) for c in cols},
        }
        if self.chance(0.3):
            doc["required"] = self.rng.sample(cols, 1)
        if len(cols) > 1 and self.chance(0.25):
            key, other = cols[0], cols[1]
            doc["dependencies"] = {key: self.pick((
                [other],
                {"required": [other]},
                {"properties": {other: self.arm(COLUMNS[other][0], COLUMNS[other][1], 1, other)}},
            ))}
        return doc


# ------------------------------------------------------------------ test

def _row_pass_sql(plan) -> str:
    """The runner's row pass (``apply_row_checks``): every enforce check,
    fail-closed."""
    return and_(lit(True), *[
        coalesce_false(c.sql) for c in plan.row_checks if c.severity == "enforce"
    ])


def _compare(spark, df, instances, docs):
    """Compile each spec, evaluate the row passes in batches and compare
    them with ``Draft7Validator``: (evaluated, skipped, disagreements,
    raw exceptions, allow-listed specs)."""
    evaluated, skipped, exceptions, allowed = [], 0, [], []
    for doc in docs:
        try:
            plan = compile_document(doc).bind_schema(df.schema)
        except Exception as e:  # noqa: BLE001 — any raise is a finding
            exceptions.append((doc, f"{type(e).__name__}: {e}"))
            continue
        if plan.unchecked_paths or '"x-' in json.dumps(doc):
            allowed.append(doc)
            continue
        if schema_conformance(df.schema, plan.expected_schema):
            skipped += 1
            continue
        evaluated.append((doc, plan))

    disagreements = []
    for lo in range(0, len(evaluated), BATCH):
        batch = evaluated[lo:lo + BATCH]
        try:
            got = df.orderBy("rid").selectExpr(*[
                f"{_row_pass_sql(plan)} AS p{k}" for k, (_, plan) in enumerate(batch)
            ]).collect()
            columns = [[r[k] for r in got] for k in range(len(batch))]
        except Exception:  # noqa: BLE001 — find the spec that raised
            columns = []
            for doc, plan in batch:
                try:
                    res = run_validation(spark, df, plan)
                    bad = {r["rid"] for r in res.violations.select("rid").collect()}
                    columns.append([i not in bad for i in range(len(instances))])
                except Exception as e:  # noqa: BLE001
                    exceptions.append((doc, f"{type(e).__name__}: {str(e)[:300]}"))
                    columns.append(None)
        for (doc, _), engine in zip(batch, columns):
            if engine is None:
                continue
            validator = jsonschema.Draft7Validator(doc)
            for inst, ok in zip(instances, engine):
                if validator.is_valid(inst) != ok:
                    disagreements.append((json.dumps(doc), inst, ok))
    return evaluated, skipped, disagreements, exceptions, allowed


def _report(label, evaluated, skipped, disagreements, exceptions) -> str:
    print(f"{label}: {len(evaluated)} evaluated, {skipped} skipped, "
          f"{len(disagreements)} disagreeing rows in "
          f"{len({d for d, _, _ in disagreements})} specs, "
          f"{len(exceptions)} raw exceptions")
    return "\n".join(
        [f"engine={ok} on {inst} for {doc}" for doc, inst, ok in disagreements[:8]]
        + [f"{e} for {json.dumps(d)}" for d, e in exceptions[:8]]
    )


def test_engine_agrees_with_draft7_validator(spark):
    rng = random.Random(SEED)
    rows = _rows(rng)
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    gen = _Gen(rng, rows)
    docs = [gen.document(i) for i in range(N_SPECS)]

    evaluated, skipped, disagreements, exceptions, allowed = _compare(
        spark, df, [_instance(r) for r in rows], docs)
    report = _report("differential", evaluated, skipped, disagreements, exceptions)
    assert not allowed, "the generator made a spec outside the compared surface"
    assert len(evaluated) >= MIN_EVALUATED
    assert not disagreements and not exceptions, report


# ------------------------------------------------- discriminated oneOf

TAGGED_SEED = 21
N_TAGGED_SPECS = 240
TAGGED_SCHEMA = (
    "rid bigint, t struct<kind: string, a: bigint, b: string>, "
    "at array<struct<kind: string, a: bigint, b: string>>"
)
TAGGED_PROPS = {"kind": {"type": "string"}, "a": {"type": "integer"},
                "b": {"type": "string"}}
TAGS = ("x", "y", "z")
# a ``oneOf`` whose arms all require one field and pin it to distinct values
# lowers to a CASE on that field; every near-miss keeps the arm count
NEAR_MISSES = ("shared_const", "not_required", "two_value_enum", "wrong_type")
CASE_RE = re.compile(r"CASE \S+\.`(kind|a)` WHEN")


def _tagged_rows(rng: random.Random):
    def some(gen, p_null=0.15):
        return None if rng.random() < p_null else gen()

    def obj():
        return (some(lambda: rng.choice(TAGS + ("w",))), some(lambda: rng.randint(-1, 3)),
                some(lambda: "".join(rng.choice("ab1") for _ in range(rng.randint(0, 2)))))

    return [(i, some(obj), some(lambda: [some(obj, 0.1) for _ in range(rng.randint(0, 3))]))
            for i in range(N_ROWS)]


def _tagged_instance(row) -> dict:
    def obj(o):
        return None if o is None else {k: v for k, v in zip(("kind", "a", "b"), o)
                                       if v is not None}

    _, t, at = row
    out = {"t": obj(t), "at": None if at is None else [obj(e) for e in at]}
    return {k: v for k, v in out.items() if v is not None}


def _tagged_one_of(rng: random.Random, variant: str) -> list:
    """Arms that each require a tag field (``kind`` or, with integer tags,
    ``a``) and pin it with a ``const`` or one-value ``enum``, plus random
    constraints on the other fields; ``variant`` breaks the pattern once."""
    name = "a" if rng.random() < 0.25 else "kind"
    pool = [0, 1, 2] if name == "a" else list(TAGS)
    values = rng.sample(pool, rng.randint(1, 3))
    if variant == "shared_const":
        values = values[:1] * 2 + values[1:]
    arms = []
    for v in values:
        pin = {"const": v} if rng.random() < 0.7 else {"enum": [v]}
        arm = {"properties": {name: pin}, "required": [name]}
        other = rng.choice([f for f in TAGGED_PROPS if f != name])
        if rng.random() < 0.7:
            arm["properties"][other] = rng.choice((
                {"minimum": rng.randint(0, 2)}, {"maximum": rng.randint(0, 2)},
                {"pattern": rng.choice(("^a", "1"))}, {"maxLength": rng.randint(0, 1)},
                {"type": "null"}, {"not": {"minimum": 2}},
            ))
        if rng.random() < 0.4:
            arm["required"].append(other)
        if rng.random() < 0.15:
            arm["type"] = rng.choice(("object", "string"))
        arms.append(arm)
    k = rng.randrange(len(arms))
    if variant == "not_required":
        arms[k]["required"].remove(name)
    elif variant == "two_value_enum":
        arms[k]["properties"][name] = {"enum": [values[k], pool[(pool.index(values[k]) + 1) % 3]]}
    elif variant == "wrong_type":
        arms[k]["properties"][name] = {"const": 1 if name == "kind" else "x"}
    return arms


def _tagged_document(rng: random.Random, i: int):
    variant = rng.choice(("case",) * 4 + NEAR_MISSES)
    node = {"type": "object", "properties": dict(TAGGED_PROPS),
            "oneOf": _tagged_one_of(rng, variant)}
    if rng.random() < 0.5:
        prop = {"t": node}
    else:
        if rng.random() < 0.3:
            node["type"] = ["object", "null"]
        prop = {"at": {"type": "array", "items": node}}
    return variant, {"$id": f"x://diff/T{i}", "type": "object", "properties": prop}


def test_discriminated_one_of_agrees_with_draft7_validator(spark):
    rng = random.Random(TAGGED_SEED)
    rows = _tagged_rows(rng)
    df = spark.createDataFrame(rows, TAGGED_SCHEMA).coalesce(1)
    variants, docs = zip(*[_tagged_document(rng, i) for i in range(N_TAGGED_SPECS)])

    evaluated, skipped, disagreements, exceptions, allowed = _compare(
        spark, df, [_tagged_instance(r) for r in rows], docs)
    report = _report("discriminated oneOf", evaluated, skipped, disagreements, exceptions)
    assert not allowed and not skipped
    assert not disagreements and not exceptions, report
    lowered = {
        json.dumps(doc): any(CASE_RE.search(c.sql) for c in plan.row_checks)
        for doc, plan in evaluated
    }
    by_variant = {v: [lowered[json.dumps(d)] for v2, d in zip(variants, docs) if v2 == v]
                  for v in ("case",) + NEAR_MISSES}
    assert len(by_variant["case"]) >= 60 and all(by_variant["case"])
    for v in NEAR_MISSES:
        assert len(by_variant[v]) >= 15 and not any(by_variant[v]), v
