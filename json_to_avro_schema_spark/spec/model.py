"""Constraint-spec AST.

The spec language is JSON-Schema-draft-6-shaped: the engine accepts the same
34 keywords the reference's ``JsonSchema`` case class captures
(/root/reference/src/main/scala/JsonSchema.scala:9-46), but interprets every
keyword as a *check generator* over a Spark DataFrame column rather than an
Avro-schema emission rule (SURVEY.md §2.2).

Like the reference's ``JSchema = Either[Boolean, JsonSchema]``
(/root/reference/src/main/scala/Json.scala:4), a schema node is either a
boolean schema (``True`` = anything passes, ``False`` = nothing passes) or a
full :class:`ConstraintSpec`.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Callable, Container, Dict, Iterator, Optional, Tuple, Union


class _Unset:
    """Sentinel distinguishing 'keyword absent' from 'keyword present with null'.

    Needed because ``const: null`` and ``default: null`` are legal spec values.
    """

    _instance: "_Unset | None" = None

    def __new__(cls) -> "_Unset":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:  # pragma: no cover
        return "UNSET"

    def __bool__(self) -> bool:
        return False


UNSET = _Unset()

# A schema node: boolean schema or full spec (reference Json.scala:4).
JSchema = Union[bool, "ConstraintSpec"]

# JSON Schema draft-6 primitive type names (reference Json.scala:6-14).
PRIMITIVE_TYPES = ("null", "boolean", "integer", "number", "string", "array", "object")


@dataclass(frozen=True)
class ConstraintSpec:
    """One spec node; one field per supported keyword.

    Field-for-field parity with the reference's 35-field case class
    (JsonSchema.scala:9-46); defaults follow JsonSchema.scala:49-88
    (``min_length``/``min_items``/``min_properties`` default 0,
    ``unique_items`` defaults False, collections default empty).
    """

    # core / identity
    id: Optional[str] = None                      # $id
    ref: Optional[str] = None                     # $ref
    title: Optional[str] = None
    desc: Optional[str] = None                    # description
    definitions: Dict[str, JSchema] = field(default_factory=dict)
    default: Any = UNSET

    # numeric
    multiple_of: Optional[float] = None
    maximum: Optional[float] = None
    exclusive_maximum: Optional[float] = None
    minimum: Optional[float] = None
    exclusive_minimum: Optional[float] = None

    # string
    max_length: Optional[int] = None
    min_length: int = 0
    pattern: Optional[str] = None
    format: Optional[str] = None

    # draft-7 §8 content keywords — BEYOND the reference's draft-6 surface
    # (like if/then/else). contentEncoding is asserted for the encodings
    # with checkable syntax (base64, base16); the other RFC-2045 names
    # (7bit, 8bit, binary, quoted-printable) are annotations, mirroring
    # format's best-effort SHOULD. contentMediaType asserts
    # application/json (or +json) well-formedness — on the DECODED value
    # when contentEncoding is base64.
    content_encoding: Optional[str] = None
    content_media_type: Optional[str] = None

    # array
    items: Optional[Union[JSchema, Tuple[JSchema, ...]]] = None  # uniform | positional
    additional_items: Optional[JSchema] = None
    max_items: Optional[int] = None
    min_items: int = 0
    unique_items: bool = False
    contains: Optional[JSchema] = None

    # object
    max_properties: Optional[int] = None
    min_properties: int = 0
    required: Tuple[str, ...] = ()
    properties: Dict[str, JSchema] = field(default_factory=dict)
    pattern_properties: Dict[str, JSchema] = field(default_factory=dict)
    additional_properties: Optional[JSchema] = None
    dependencies: Dict[str, Union[Tuple[str, ...], JSchema]] = field(default_factory=dict)
    property_names: Optional[JSchema] = None

    # value / type
    const: Any = UNSET
    types: Tuple[str, ...] = ()                   # "type", single or union
    enum: Tuple[Any, ...] = ()

    # combinators
    all_of: Tuple[JSchema, ...] = ()
    any_of: Tuple[JSchema, ...] = ()
    one_of: Tuple[JSchema, ...] = ()
    not_: Optional[JSchema] = None
    # draft-7 conditionals — BEYOND the reference's draft-6 surface (its
    # parser has no if/then/else); compiled as an implication predicate.
    # Per draft-7: then/else are inert without if.
    if_: Optional[JSchema] = None
    then_: Optional[JSchema] = None
    else_: Optional[JSchema] = None

    # engine extension keywords (not in draft-6; prefixed ``x-`` in spec files)
    # x-monotonicIncreasing on an array-of-struct spec: listed element fields
    # must be strictly increasing along the array (e.g. span ``offset``).
    x_monotonic: Tuple[str, ...] = ()
    # x-bits on an integer spec: carrier width (32 → IntegerType, 64 → LongType).
    # The reference maps integer→long ("JSON is capable of 53 bit ints",
    # docs/TypeMappings.md); this extension pins narrower physical columns.
    x_bits: Optional[int] = None
    # x-severity on a property spec: "enforce" (default — failing rows are
    # violations) or "warn" (failures are REPORTED in the verdicts but the
    # row still passes — Delta Live Tables' plain `expect`, Deequ's
    # warning level). Applies to the property's required+conforms checks.
    x_severity: Optional[str] = None

    def evolve(self, **kw: Any) -> "ConstraintSpec":
        return replace(self, **kw)

    @property
    def is_positional_items(self) -> bool:
        return isinstance(self.items, tuple)


@dataclass(frozen=True)
class RootConstraintSpec:
    """Root document: ``$schema`` dialect URI + root spec node.

    Mirrors ``RootJsonSchema(schemaUri, schema)`` (JsonSchema.scala:7).
    """

    schema_uri: Optional[str]
    spec: ConstraintSpec


EMPTY_SPEC = ConstraintSpec()


def is_empty_spec(s: JSchema) -> bool:
    """True when the node constrains nothing (empty schema ⇒ 'any')."""
    return s is True or (isinstance(s, ConstraintSpec) and s == EMPTY_SPEC)


# The ConstraintSpec fields that hold child schemas, each with the path label
# of a child in it — the one list every spec-tree pass walks (the reference's
# $id pass likewise visits "all schema-bearing keywords" from one list,
# IdNormalizer.scala:24-35). A slot's shape follows from its value: a dict
# (``{key}`` = name; ``dependencies``' property-list form is not a schema and
# is skipped), a tuple (``{key}`` = position), or one optional child (``{key}``
# = "", so single-form ``items`` reads ``[]``). Table order is traversal
# order, which fixes the order of a plan's ``unchecked_paths``.
CHILD_SLOTS: Tuple[Tuple[str, str], ...] = (
    ("definitions", "{path}.def[{key}]"),
    ("items", "{path}[{key}]"),
    ("properties", "{path}.{key}"),
    ("pattern_properties", "{path}.<pattern:{key}>"),
    ("additional_properties", "{path}.<additional>"),
    ("additional_items", "{path}[+]"),
    ("contains", "{path}[contains]"),
    ("property_names", "{path}.<keys>"),
    ("not_", "{path}!"),
    ("if_", "{path}?"),
    ("then_", "{path}?t"),
    ("else_", "{path}?e"),
    ("all_of", "{path}&{key}"),
    ("any_of", "{path}|{key}"),
    ("one_of", "{path}^{key}"),
    ("dependencies", "{path}.dep[{key}]"),
)


def _keyed(value: Any) -> Iterator[Tuple[Any, Any]]:
    if isinstance(value, dict):
        return iter(value.items())
    if isinstance(value, tuple):
        return enumerate(value)
    return iter((("", value),))


def _entries(
    node: ConstraintSpec, path: str, skip: Container[str] = ()
) -> Iterator[Tuple[str, Any, str, ConstraintSpec]]:
    for name, label in CHILD_SLOTS:
        value = getattr(node, name)
        if name in skip or not value:  # replaced, absent or empty
            continue
        for key, child in _keyed(value):
            if isinstance(child, ConstraintSpec):
                yield name, key, label.format(path=path, key=key), child


def children(
    node: ConstraintSpec, path: str
) -> Iterator[Tuple[str, str, ConstraintSpec]]:
    """``(field, child_path, child)`` for every child schema of ``node``.
    Boolean schemas carry no keywords, so no pass has work in them and they
    are not yielded."""
    for name, _, child_path, child in _entries(node, path):
        yield name, child_path, child


def map_children(
    node: ConstraintSpec,
    fn: Callable[[ConstraintSpec, str], JSchema],
    path: str = "$",
    **fields: Any,
) -> ConstraintSpec:
    """``node`` with every child schema ``c`` replaced by ``fn(c, child_path)``
    (called in table order) and with ``fields`` set, rebuilt with one
    ``evolve``. A slot named in ``fields`` takes the given value unwalked."""
    kw: Dict[str, Any] = {}
    for name, key, child_path, child in _entries(node, path, fields):
        new = kw.setdefault(name, dict(_keyed(getattr(node, name))))
        new[key] = fn(child, child_path)
    for name, new in kw.items():
        old = getattr(node, name)
        kw[name] = (
            new if isinstance(old, dict)
            else tuple(new.values()) if isinstance(old, tuple)
            else new[""]
        )
    return node.evolve(**kw, **fields)
