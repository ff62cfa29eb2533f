"""Keyword → Spark SQL predicate text generators (SURVEY.md §2.2).

Every JSON-Schema keyword the reference's AST captures
(/root/reference/src/main/scala/JsonSchema.scala:9-46) becomes a check
generator here.  Semantics follow draft-6: a keyword constrains the value only
when the value is present (non-null) and of the keyword's applicable type —
so every value-level predicate is *null-gated*: ``expr IS NULL OR pred``.
Requiredness (``required``) is compiled separately as ``isNotNull`` checks,
mirroring the reference's optionality rewrite (Transpiler.scala:203-211:
not-required ⇒ union[null, T] ⇒ null passes).

Each generator takes the SQL text of the value it constrains and returns the
SQL text of a boolean predicate (built with the helpers in ``sql.py``), so a
whole check is one string the runner hands to Spark in one call. Predicates
use only JVM-side built-ins (higher-order functions for arrays/maps), so they
stay inside whole-stage codegen — zero Python UDFs on this path.

Lowering is type-directed: each generator also takes the value's carrier
``DataType``, decided once. ``plan.py`` passes the expected column type (a
data column's own type when undeclared); a child schema takes its part of
the parent's carrier (array element, map value, struct field, ``StringType``
for property names); combinator arms and schema-form ``dependencies`` take
the node's own carrier. Keywords then apply
only to a value of their JSON type: a ``type`` that excludes the carrier's
lowers to ``false`` (``integer`` on a double is an integral check), a
``const``/``enum`` literal of another type compares ``false``, and a struct
carrier is an object except the ``i0…`` tuple carrier. The tagged struct
``types.py`` built for a union node is the one union shape: exactly one arm
field is set and that arm passes. Only the any-carrier (``BinaryType``)
casts, with ``try_cast`` through STRING, so a value outside a keyword's
domain reads as null and passes.

Spark interprets higher-order functions element by element (``forall``,
``exists`` and ``aggregate`` do not generate code), so two rewrites keep
per-element work small, both exact: a ``oneOf`` whose arms all require one
object field and pin it to distinct literals (a discriminator) lowers to a
``CASE`` on that field that evaluates only the selected arm, instead of
every arm plus a count; and ``x-monotonicIncreasing`` lowers to
code-generated functions of the projected field array, which also make a
``uniqueItems`` beside it redundant, so that check is dropped.
"""

from __future__ import annotations

import json
import re
from typing import Any, List, Optional, Sequence, Tuple

from pyspark.sql import types as T

from ..errors import SpecCompileError
from ..spec.model import UNSET, ConstraintSpec, JSchema
from .sql import (
    ADD, MUL, Sql, and_, binop, call, case, cast, chain, cmp, coalesce_false,
    field, is_not_null, is_null, isin, lam, lit, not_, or_, rlike, string, when,
)
from .types import union_arms

DOUBLE_EPS = 1e-9

# named ``format`` registry → regex (semantic formats per draft-6 §8.3).
#
# DOCUMENTED DEVIATION — regex dialect: ``pattern`` and these format regexes
# execute as Java regexes (Spark ``rlike``), while draft-6 §6.8 specifies
# ECMA-262. The dialects agree on the constructs specs actually use
# (character classes, anchors, quantifiers, alternation); they diverge on
# exotica (ECMA lacks possessive quantifiers, Java lacks ECMA's \cX forms).
# The reference has the same open TODO (JsonSchemaParser.scala:263-265 —
# "ECMA 262 regex validation"), so this parity gap is shared and disclosed,
# not silent. The ipv6/uri-reference entries are pragmatic shapes (draft-6
# formats are assertions "SHOULD" be best-effort); json-pointer is the
# exact RFC 6901 grammar.
FORMAT_REGEX = {
    "date-time": r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:?\d{2})?$",
    "date": r"^\d{4}-\d{2}-\d{2}$",
    "time": r"^\d{2}:\d{2}:\d{2}(\.\d+)?$",
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    "hostname": r"^[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$",
    "ipv4": r"^((25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}(25[0-5]|2[0-4]\d|[01]?\d?\d)$",
    "ipv6": (
        r"^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
        r"|([0-9A-Fa-f]{1,4}:){1,7}:"
        r"|:(:[0-9A-Fa-f]{1,4}){1,7}"
        r"|([0-9A-Fa-f]{1,4}:){1,6}(:[0-9A-Fa-f]{1,4}){1,1}"
        r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
        r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
        r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
        r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
        r"|[0-9A-Fa-f]{1,4}:(:[0-9A-Fa-f]{1,4}){1,6}"
        r"|::)$"
    ),
    "uri": r"^[A-Za-z][A-Za-z0-9+.-]*:",
    "uri-reference": r"^([A-Za-z][A-Za-z0-9+.-]*:)?\S*$",
    # RFC 6570: literals (no control/space/reserved-unwise chars) or
    # pct-escapes, interleaved with {op? varname[:len|*][,more]} expressions
    "uri-template": (
        r"^([^\x00-\x20\x7F\"'%<>\\^`{|}]"
        r"|%[0-9A-Fa-f]{2}"
        r"|\{[+#./;?&=,!@|]?[A-Za-z0-9_%.]+(:[1-9][0-9]{0,3}|\*)?"
        r"(,[A-Za-z0-9_%.]+(:[1-9][0-9]{0,3}|\*)?)*\})*$"
    ),
    "json-pointer": r"^(/([^/~]|~[01])*)*$",
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
}

# draft-7 §8.3 ``contentEncoding`` values with checkable syntax (strict
# RFC-4648: base64 enforces 4-char groups + =/== padding, base16 an even
# count of hex digits). The other RFC-2045 names (7bit, 8bit, binary,
# quoted-printable) are annotation-only, like unknown ``format`` names.
CONTENT_ENCODING_REGEX = {
    "base64": (
        r"^(?:[A-Za-z0-9+/]{4})*"
        r"(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
    ),
    "base16": r"^(?:[0-9A-Fa-f]{2})*$",
}


def gate(expr: str, pred: str) -> Sql:
    """Null-gate: an absent value passes every value-level constraint."""
    return or_(is_null(expr), pred)


def node_predicate(s: JSchema, expr: str, dtype: T.DataType, path: str = "$") -> Sql:
    """Full null-gated conformance predicate for a (ref-free) spec node."""
    return gate(expr, value_predicate(s, expr, dtype, path))


def element_predicate(s: JSchema, e: str, dtype: T.DataType, path: str) -> Sql:
    """Predicate for array elements / map values: unlike struct fields, a
    null element is a VALUE (JSON null), not an absent field — it conforms
    only when the element spec admits null."""
    if s is True or s is False:
        return lit(s)
    return when(is_null(e), lit(accepts_null(s)),
                coalesce_false(value_predicate(s, e, dtype, path)))


def value_predicate(s: JSchema, expr: str, dtype: T.DataType, path: str = "$") -> Sql:
    """Conformance predicate assuming ``expr`` is non-null."""
    if s is True or s is False:
        return lit(s)
    assert isinstance(s, ConstraintSpec)
    return and_(*all_keyword_predicates(s, expr, dtype, path))


def accepts_null(s: JSchema) -> bool:
    """Whether JSON null conforms to ``s``: only ``type``, ``const``,
    ``enum`` and the combinators can reject it — every other keyword
    constrains values of its own type only."""
    if s is True or s is False:
        return s
    return (
        (not s.types or "null" in s.types)
        and (s.const is UNSET or s.const is None)
        and (not s.enum or any(v is None for v in s.enum))
        and all(map(accepts_null, s.all_of))
        and (not s.any_of or any(map(accepts_null, s.any_of)))
        and (not s.one_of or sum(map(accepts_null, s.one_of)) == 1)
        and (s.not_ is None or not accepts_null(s.not_))
        and (s.if_ is None or accepts_null(
            (s.then_ if accepts_null(s.if_) else s.else_) or True))
    )


_JSON_TYPES = ((T.IntegralType, "integer"), (T.NumericType, "number"),
               (T.StringType, "string"), (T.BooleanType, "boolean"),
               (T.ArrayType, "array"), (T.MapType, "object"))


def _json_type(dtype: T.DataType) -> Optional[str]:
    """The JSON type of the values a carrier holds; None for the
    any-carrier (``BinaryType``). A struct is an object, except the
    fixed-width ``i0…iN`` struct carrying a heterogeneous tuple."""
    if isinstance(dtype, T.StructType):
        return "array" if _is_tuple(dtype) else "object"
    return next((k for t, k in _JSON_TYPES if isinstance(dtype, t)), None)


def _is_tuple(dtype: T.DataType) -> bool:
    names = dtype.names if isinstance(dtype, T.StructType) else []
    return bool(names) and names == [f"i{k}" for k in range(len(names))]


def all_keyword_predicates(
    s: ConstraintSpec, expr: str, dtype: T.DataType, path: str
) -> List[Sql]:
    """One predicate per applicable keyword; conjunction = node conformance."""
    union = _tagged_union_predicate(s, expr, dtype, path)
    if union is not None:
        return [union]
    kind = _json_type(dtype)
    typed = _type_predicate(s.types, expr, kind)
    if typed == "false":
        return [typed]  # no other keyword can make the value conform
    preds: List[Sql] = [] if typed is None else [typed]
    if s.const is not UNSET:
        preds.append(_equals_any((s.const,), expr, dtype, kind, one=True))
    if s.enum:
        preds.append(_equals_any(s.enum, expr, dtype, kind, one=False))
    preds.extend(_scalar_keyword_predicates(s, expr, dtype, kind))
    preds.extend(_container_keyword_predicates(s, expr, dtype, path))
    preds.extend(_combinator_predicates(s, expr, dtype, path))
    return preds


def _type_predicate(types: Sequence[str], expr: str, kind: Optional[str]) -> Optional[Sql]:
    """``type`` on a value of JSON type ``kind``; None when it always holds."""
    if not types or kind in types or (kind == "integer" and "number" in types):
        return None
    if kind is None:  # any-carrier: a non-null value is never null
        return lit(False) if tuple(types) == ("null",) else None
    if kind == "number" and "integer" in types:
        return cmp(binop("%", MUL, expr, lit(1)), "=", 0)
    return lit(False)


# ------------------------------------------------------------- literals

_LITERAL_KIND = {type(None): "null", bool: "boolean", int: "number", float: "number",
                 str: "string", list: "array", dict: "object"}


def _equals_any(
    values: Sequence[Any], expr: str, dtype: T.DataType, kind: Optional[str], one: bool
) -> Sql:
    """``expr`` equals one of the JSON ``values`` (``const`` when ``one``).
    A literal of another JSON type than the carrier's never matches, so it
    is dropped rather than forcing a Spark cast; null never matches a
    present value. Arrays and objects compare as canonical JSON, an object
    literal with its keys in the struct carrier's field order."""
    want = "number" if kind == "integer" else kind
    scalars, docs = [], []
    for v in values:
        vk = _LITERAL_KIND[type(v)]
        if v is None or want not in (None, vk):
            continue
        if vk not in ("array", "object"):
            scalars.append(v)
        elif isinstance(v, dict) and isinstance(dtype, T.StructType):
            if set(v) <= set(dtype.names):
                v = {k: v[k] for k in dtype.names if k in v}
                docs.append(json.dumps(v, separators=(",", ":")))
        else:
            docs.append(json.dumps(v, separators=(",", ":")))
    terms = []
    if scalars:
        terms.append(cmp(expr, "=", scalars[0]) if one else isin(expr, scalars))
    if docs:
        doc = call("to_json", expr)
        terms.append(cmp(doc, "=", docs[0]) if one else isin(doc, docs))
    return or_(*terms)


# ------------------------------------------------------------- scalar kws

def _scalar_keyword_predicates(
    s: ConstraintSpec, expr: str, dtype: T.DataType, kind: Optional[str]
) -> List[Sql]:
    """Numeric keywords on a number, string keywords on a string. On the
    any-carrier (``kind`` None) both families apply to a view of the value
    in their domain: a value outside it reads as null and passes."""
    preds: List[Sql] = []

    if kind in ("integer", "number", None):
        num = expr if kind else Sql(f"try_cast({cast(expr, 'STRING')} AS DOUBLE)")

        def ngate(pred: Sql) -> Sql:
            return pred if kind else or_(is_null(num), pred)

        for op, bound in (
            (">=", s.minimum), ("<=", s.maximum),
            (">", s.exclusive_minimum), ("<", s.exclusive_maximum),
        ):
            if bound is not None:
                preds.append(ngate(cmp(num, op, bound)))
        if s.multiple_of is not None:
            m = s.multiple_of
            if isinstance(dtype, T.LongType) and float(m).is_integer():
                preds.append(cmp(call("pmod", expr, lit(int(m))), "=", 0))
            else:
                # double semantics need epsilon care (SURVEY.md §7)
                ratio = binop("/", MUL, num, lit(float(m)))
                off = binop("-", ADD, ratio, call("round", ratio))
                preds.append(ngate(cmp(call("abs", off), "<", DOUBLE_EPS)))

    if kind in ("string", None):
        sv = expr if kind else cast(expr, "STRING")
        if s.min_length > 0:
            preds.append(cmp(call("length", sv), ">=", s.min_length))
        if s.max_length is not None:
            preds.append(cmp(call("length", sv), "<=", s.max_length))
        if s.pattern is not None:
            preds.append(rlike(sv, s.pattern))
        if s.format is not None and s.format in FORMAT_REGEX:
            preds.append(rlike(sv, FORMAT_REGEX[s.format]))
        enc = (s.content_encoding or "").lower()
        if enc in CONTENT_ENCODING_REGEX:
            preds.append(rlike(sv, CONTENT_ENCODING_REGEX[enc]))
        mt = (s.content_media_type or "").lower()
        if mt == "application/json" or mt.endswith("+json"):
            # draft-7 §8.4: the media type describes the DECODED content.
            # Gate on the encoding's syntax so the decoder never sees junk
            # (a failed gate nulls the pred → the row already fails via
            # the encoding check, and coalesce_false treats null as
            # non-conforming). Encodings the engine cannot decode
            # (quoted-printable, ...) make the media type annotation-only
            # — asserting JSON-ness of the TRANSPORT form would reject
            # spec-valid values.
            decoders = {"base64": "unbase64", "base16": "unhex"}
            if enc in decoders:
                payload = when(
                    rlike(sv, CONTENT_ENCODING_REGEX[enc]),
                    cast(call(decoders[enc], sv), "STRING"),
                )
            elif s.content_encoding is None or enc in ("7bit", "8bit", "binary"):
                # RFC-2045 identity encodings: the content IS the value
                payload = sv
            else:
                payload = None
            if payload is not None:
                preds.append(is_not_null(call("try_parse_json", payload)))

    return preds


# ---------------------------------------------------------- container kws

def _container_keyword_predicates(
    s: ConstraintSpec, expr: str, dtype: T.DataType, path: str
) -> List[Sql]:
    preds: List[Sql] = []

    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        size = call("size", expr)
        if s.min_items > 0:
            preds.append(cmp(size, ">=", s.min_items))
        if s.max_items is not None:
            preds.append(cmp(size, "<=", s.max_items))
        if s.x_monotonic:
            preds.append(_monotonic_increasing(expr, s.x_monotonic, et, path))
        elif s.unique_items:
            # strictly increasing present fields already make every element
            # distinct, so uniqueItems beside x-monotonicIncreasing is implied
            preds.append(cmp(size, "=", call("size", call("array_distinct", expr))))
        if s.items is not None and not isinstance(s.items, tuple):
            preds.append(call("forall", expr, lam(
                lambda e: element_predicate(s.items, e, et, f"{path}[]"), "e")))
        if isinstance(s.items, tuple):
            # positional (tuple-form) items on an array carrier: index k is
            # constrained only when the array is long enough (draft-6:
            # shorter arrays pass) — beyond the reference, which errors here
            # (Transpiler.scala:290)
            n_tuple = len(s.items)
            for k, it in enumerate(s.items):
                preds.append(when(
                    cmp(size, "<=", k), lit(True),
                    element_predicate(
                        it, call("element_at", expr, lit(k + 1)), et, f"{path}[{k}]"
                    ),
                ))
            if s.additional_items is False:
                preds.append(cmp(size, "<=", n_tuple))
            elif s.additional_items is not None and s.additional_items is not True:
                rest = call("filter", expr, lam(lambda e, i: cmp(i, ">=", n_tuple), "e", "i"))
                preds.append(call("forall", rest, lam(
                    lambda e: element_predicate(s.additional_items, e, et, f"{path}[+]"), "e")))
        if s.contains is not None:
            # a null element is JSON null: it satisfies ``contains`` exactly
            # when the subschema admits null
            if accepts_null(s.contains):
                def has(e: Sql) -> Sql:
                    return or_(is_null(e), value_predicate(s.contains, e, et, f"{path}[c]"))
            else:
                def has(e: Sql) -> Sql:
                    return and_(is_not_null(e), value_predicate(s.contains, e, et, f"{path}[c]"))
            preds.append(call("exists", expr, lam(lambda e: coalesce_false(has(e)), "e")))

    if isinstance(dtype, T.MapType):
        vt = dtype.valueType
        keys = call("map_keys", expr)
        if s.min_properties > 0:
            preds.append(cmp(call("size", keys), ">=", s.min_properties))
        if s.max_properties is not None:
            preds.append(cmp(call("size", keys), "<=", s.max_properties))
        if s.property_names is not None:
            preds.append(call("forall", keys, lam(
                lambda k: coalesce_false(
                    value_predicate(s.property_names, k, T.StringType(), f"{path}.<k>")),
                "k",
            )))
        if (
            s.additional_properties is not None
            and s.additional_properties is not True
        ):
            preds.append(call("forall", call("map_values", expr), lam(
                lambda v: element_predicate(s.additional_properties, v, vt, f"{path}.<v>"), "v")))
        for pat, sub in s.pattern_properties.items():
            matching = call("map_filter", expr, lam(lambda k, v: rlike(k, pat), "k", "v"))
            preds.append(call("forall", call("map_values", matching), lam(
                lambda v: element_predicate(sub, v, vt, f"{path}.<p>"), "v")))

    if _is_tuple(dtype):
        # heterogeneous tuple carried as fixed-width struct (i0..iN): each
        # position validates its own field; a null field = absent position,
        # which draft-6 allows, so node_predicate's gate applies. minItems
        # translates to the first minItems positions being present.
        items = s.items if isinstance(s.items, tuple) else ()
        for k, (it, f) in enumerate(zip(items, dtype.fields)):
            preds.append(node_predicate(it, field(expr, f.name), f.dataType, f"{path}[{k}]"))
        preds.extend(is_not_null(field(expr, f.name)) for f in dtype.fields[:s.min_items])
    elif isinstance(dtype, T.StructType):
        preds.extend(_struct_predicates(s, expr, dtype, path))

    return preds


def _struct_predicates(
    s: ConstraintSpec, expr: str, dtype: T.StructType, path: str
) -> List[Sql]:
    """Object keywords on a struct carrier, over the carrier's own fields: a
    null field is an absent property and a name the struct lacks is never
    present."""
    fields = {f.name: f.dataType for f in dtype.fields}

    def present(name: str) -> Sql:
        return is_not_null(field(expr, name)) if name in fields else lit(False)

    preds: List[Sql] = [
        node_predicate(sub, field(expr, name), fields[name], f"{path}.{name}")
        for name, sub in s.properties.items() if name in fields
    ]
    preds.extend(present(name) for name in s.required)
    for dep_key, dep in s.dependencies.items():
        if dep_key not in fields:
            continue
        if isinstance(dep, tuple):
            need = and_(*map(present, dep))
        else:
            need = value_predicate(dep, expr, dtype, f"{path}.dep[{dep_key}]")
        preds.append(or_(not_(present(dep_key)), need))
    ap = s.additional_properties
    for name, ftype in fields.items():
        f = field(expr, name)
        matched = [sub for pat, sub in s.pattern_properties.items() if re.search(pat, name)]
        preds.extend(node_predicate(sub, f, ftype, f"{path}.<p>") for sub in matched)
        if name not in s.properties and not matched and ap is not None and ap is not True:
            preds.append(is_null(f) if ap is False else node_predicate(ap, f, ftype, f"{path}.<v>"))
        if s.property_names is not None:
            preds.append(gate(f, coalesce_false(value_predicate(
                s.property_names, string(name), T.StringType(), f"{path}.<k>"))))
    if s.min_properties > 0 or s.max_properties is not None:
        count = chain("+", ADD, [cast(present(n), "INT") for n in fields], "0")
        if s.min_properties > 0:
            preds.append(cmp(count, ">=", s.min_properties))
        if s.max_properties is not None:
            preds.append(cmp(count, "<=", s.max_properties))
    return preds


def _monotonic_increasing(
    expr: str, fields: Sequence[str], elem_type: T.DataType, path: str
) -> Sql:
    """Engine extension ``x-monotonicIncreasing``: each struct-element field
    in ``fields`` strictly increases along the array (the span ``offset``
    invariant), compared in the field's own type; a null element or field
    fails. Per field, over the projected array ``o = expr.f``: sorting the
    distinct non-null values of ``o`` gives ``o`` back, which no null, tie
    or decrease survives. Code-generated array functions only; ``o`` appears
    just twice because a filter pushed below a projection repeats a
    computed input column once per reference."""
    if not isinstance(elem_type, T.StructType) or not set(fields) <= set(elem_type.names):
        raise SpecCompileError(
            f"x-monotonicIncreasing at {path} needs array items that are a "
            f"struct with fields {list(fields)}; the items carrier is "
            f"{elem_type.simpleString()}"
        )
    preds = []
    for name in fields:
        ftype = elem_type[name].dataType
        if not _orderable(ftype):
            raise SpecCompileError(
                f"x-monotonicIncreasing at {path}: field {name} has type "
                f"{ftype.simpleString()}, which Spark cannot order"
            )
        o = field(expr, name)
        preds.append(cmp(call("sort_array", call("array_except", o, call("array", "NULL"))), "=", o))
        if isinstance(ftype, (T.FloatType, T.DoubleType)):
            # hash-based set functions tell -0.0 from 0.0, which sorting
            # ties; a struct wrapper makes array_distinct compare by ordering
            preds.append(cmp(call("size", call("array_distinct", call("arrays_zip", o))),
                             "=", call("size", o)))
    return and_(*preds)


def _orderable(dtype: T.DataType) -> bool:
    """Whether Spark can sort values of ``dtype`` (no map inside)."""
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return not isinstance(dtype, T.MapType)


# ------------------------------------------------------------ combinators

def _combinator_predicates(
    s: ConstraintSpec, expr: str, dtype: T.DataType, path: str
) -> List[Sql]:
    """Every arm constrains the same value, so it lowers against the same
    carrier."""
    def arm(sub: JSchema, tag: str) -> Sql:
        return value_predicate(sub, expr, dtype, f"{path}{tag}")

    preds: List[Sql] = []
    if s.all_of:
        preds.append(and_(*[arm(a, f"&{i}") for i, a in enumerate(s.all_of)]))
    if s.any_of:
        preds.append(or_(lit(False), *[
            coalesce_false(arm(a, f"|{i}")) for i, a in enumerate(s.any_of)
        ]))
    if s.one_of:
        arms = [arm(a, f"^{i}") for i, a in enumerate(s.one_of)]
        tag = _discriminator(s.one_of, dtype)
        if tag is not None:
            # at most one arm can hold, so exactly one holds iff the arm the
            # tag selects does: one arm evaluated instead of all plus a count
            name, values = tag
            preds.append(case(field(expr, name), [
                (v, coalesce_false(a)) for v, a in zip(values, arms)
            ], "false"))
        else:
            # exactly one arm holds (SURVEY.md §2.2: sum(cast(arm AS INT)) =
            # 1); an arm that lowers to false adds nothing to the count
            count = chain("+", ADD, [
                cast(coalesce_false(a), "INT") for a in arms if a != "false"
            ], "0")
            preds.append(cmp(count, "=", 1))
    if s.not_ is not None:
        preds.append(not_(coalesce_false(arm(s.not_, "!"))))
    if s.if_ is not None:
        # draft-7 conditional (beyond the reference's draft-6 surface):
        # if matches -> then must hold; else -> else must hold. Absent
        # branches default to true; then/else without if are inert per spec.
        def branch(sub: JSchema, tag: str) -> Sql:
            return lit(True) if sub is None else coalesce_false(arm(sub, tag))

        preds.append(when(branch(s.if_, "?"), branch(s.then_, "?t"), branch(s.else_, "?e")))
    return preds


# a discriminator literal and the field it pins compare exactly
_TAG_TYPES = {str: T.StringType, bool: T.BooleanType, int: T.IntegralType}


def _discriminator(
    arms: Sequence[JSchema], dtype: T.DataType
) -> Optional[Tuple[str, List[Any]]]:
    """``(P, [c1, …])`` when every ``oneOf`` arm over an object struct
    carrier requires the carrier field ``P`` and pins it with a ``const``
    (or a one-value ``enum``) ``c_i``, a string, boolean or integer of the
    field's own type, the ``c_i`` pairwise distinct; None otherwise. Arm
    ``i`` can then hold only where ``P = c_i``."""
    if not isinstance(dtype, T.StructType) or _is_tuple(dtype):
        return None
    if not all(isinstance(a, ConstraintSpec) for a in arms):
        return None

    def pin(a: ConstraintSpec, name: str) -> Any:
        sub = a.properties.get(name)
        if name not in a.required or not isinstance(sub, ConstraintSpec):
            return UNSET
        if sub.const is not UNSET:
            return sub.const
        return sub.enum[0] if len(sub.enum) == 1 else UNSET

    for f in dtype.fields:
        values = [pin(a, f.name) for a in arms]
        if all(
            isinstance(f.dataType, _TAG_TYPES.get(type(v), ())) for v in values
        ) and len(set(values)) == len(values):
            return f.name, values
    return None


def _tagged_union_predicate(
    s: ConstraintSpec, expr: str, dtype: T.DataType, path: str
) -> Optional[Sql]:
    """When ``dtype`` is the tagged struct ``types.py`` built for union-shaped
    ``s`` (one nullable field per value arm): exactly one arm field is set,
    and that arm passes on its field. None for any other carrier."""
    arms = union_arms(s) if isinstance(dtype, T.StructType) else None
    if len(arms or ()) < 2 or dtype.names != [n for n, _ in arms]:
        return None
    present = [cast(is_not_null(field(expr, n)), "INT") for n, _ in arms]
    exactly_one = cmp(chain("+", ADD, present, "0"), "=", 1)
    arms_ok = and_(*[
        gate(field(expr, n), value_predicate(a, field(expr, n), f.dataType, f"{path}^{n}"))
        for (n, a), f in zip(arms, dtype.fields)
    ])
    return and_(exactly_one, arms_ok)
