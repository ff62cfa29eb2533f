"""Spec → Spark carrier-type mapping (the engine's type lattice).

Re-targets the reference's type-mapping discipline
(/root/reference/docs/TypeMappings.md:5-17, Transpiler.scala:273-302) at
Spark's type system (SURVEY.md §1.2):

    null→StringType carrier (+ is-null check)   boolean→BooleanType
    integer→LongType ("JSON is capable of 53 bit ints")
    number→DoubleType       string→StringType
    any/empty schema→BinaryType                 array→ArrayType(items)
    object→StructType (properties) | MapType (additionalProperties)
    enum→StringType (+ isin check)              oneOf/type-union→see below

Spark has no union type. The engine uses (SURVEY.md §7 'Hard parts'):
  * 2-arm ``[null, T]``          → nullable ``T`` (matches the reference's
    optionality rewrite, Transpiler.scala:203-211);
  * arms whose carriers coincide → that scalar carrier, with an
    exactly-one-arm predicate;
  * otherwise                    → a **tagged struct of optional arms**
    (one nullable field per arm) with an exactly-one-non-null predicate.

Keyword precedence matches Transpiler.scala:245-268: ``type`` > ``enum`` >
``oneOf`` > structural keywords > fallback bytes.  Nested unions flatten one
level (AvroType.scala:20-26).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import types as T

from ..errors import SpecCompileError
from ..spec.model import ConstraintSpec, JSchema

# Avro-style primitive names used for tagged-union arm fields
_PRIMITIVE_ARM_NAME = {
    "boolean": "boolean",
    "integer": "long",
    "number": "double",
    "string": "string",
    "null": "null",
    "array": "array",
    "object": "object",
}


def is_null_arm(s: JSchema) -> bool:
    return isinstance(s, ConstraintSpec) and s.types == ("null",)


def flatten_one_of(arms: Tuple[JSchema, ...]) -> List[JSchema]:
    """Nested unions collapse one level (AvroType.scala:20-26 semantics)."""
    out: List[JSchema] = []
    for a in arms:
        if (
            isinstance(a, ConstraintSpec)
            and a.one_of
            and not a.types
            and not a.enum
            and not a.properties
        ):
            out.extend(flatten_one_of(a.one_of))
        else:
            out.append(a)
    return out


def union_arms(s: ConstraintSpec) -> Optional[List[Tuple[str, JSchema]]]:
    """Return the named value arms when the node is union-shaped, else None.

    Union shapes: multi-valued ``type``, or ``oneOf``. Null arms and ``true``
    arms are removed: they map to plain column nullability and to "any
    value", not to a carrier of their own.
    """
    named: List[Tuple[str, JSchema]] = []
    if len(s.types) > 1:
        named = [(_PRIMITIVE_ARM_NAME[t], s.evolve(types=(t,), one_of=())) for t in s.types]
    elif s.one_of and not s.types and not s.enum:
        seen: dict = {}
        for i, a in enumerate(flatten_one_of(s.one_of)):
            if isinstance(a, ConstraintSpec) and a.id:
                name = a.id.rstrip("/").split("/")[-1].split("#")[-1]
            elif isinstance(a, ConstraintSpec) and len(a.types) == 1:
                name = _PRIMITIVE_ARM_NAME[a.types[0]]
            else:
                name = f"arm{i}"
            seen[name] = seen.get(name, -1) + 1  # dedupe: name, name1, …
            named.append((f"{name}{seen[name]}" if seen[name] else name, a))
    else:
        return None
    return [(n, a) for n, a in named if not is_null_arm(a) and a is not True]


def carrier_type(s: JSchema, path: str = "$") -> T.DataType:
    """Spark carrier DataType for a (ref-free) spec node."""
    if s is True:
        return T.BinaryType()  # empty/any schema → bytes (Transpiler.scala:266-268)
    if s is False:
        raise SpecCompileError(
            f"A false value in {path} ensures there are no valid schemas"
        )
    assert isinstance(s, ConstraintSpec)

    # --- union shapes ---------------------------------------------------
    arms = union_arms(s)
    if arms is not None:
        if not arms:
            return T.BinaryType()  # only null/any arms
        if len(arms) == 1:
            return carrier_type(arms[0][1], path)
        carriers = [carrier_type(a, f"{path}^{n}") for n, a in arms]
        if all(c == carriers[0] for c in carriers[1:]):
            return carriers[0]  # scalar-collapsed union
        return T.StructType(
            [T.StructField(n, c, True) for (n, _), c in zip(arms, carriers)]
        )

    # --- single declared type -------------------------------------------
    if len(s.types) == 1:
        return _single_type(s, s.types[0], path)

    # --- no type: const/enum > oneOf(handled) > structural > bytes -------
    from ..spec.model import UNSET

    if s.const is not UNSET:
        c = s.const
        if isinstance(c, bool):
            return T.BooleanType()
        if isinstance(c, int):
            return T.LongType()
        if isinstance(c, float):
            return T.DoubleType()
        if isinstance(c, str):
            return T.StringType()
        if c is None:
            return T.StringType()  # carrier; only null passes
        if isinstance(c, list) and c:
            # homogeneous scalar list const → typed array carrier; the
            # predicate compares structurally via to_json (checks.py)
            elem_kinds = {type(x) for x in c}
            if elem_kinds == {bool}:
                return T.ArrayType(T.BooleanType(), True)
            if elem_kinds == {int}:
                return T.ArrayType(T.LongType(), True)
            if elem_kinds <= {int, float}:
                return T.ArrayType(T.DoubleType(), True)
            if elem_kinds == {str}:
                return T.ArrayType(T.StringType(), True)
    if s.enum:
        return _enum_carrier(s.enum, path)
    if s.properties or s.additional_properties not in (None, False):
        return _single_type(s, "object", path)
    return T.BinaryType()


def _single_type(s: ConstraintSpec, t: str, path: str) -> T.DataType:
    if t == "null":
        return T.StringType()  # carrier; conformance is an is-null check
    if t == "boolean":
        return T.BooleanType()
    if t == "integer":
        return T.IntegerType() if s.x_bits == 32 else T.LongType()
    if t == "number":
        return T.DoubleType()
    if t == "string":
        return T.StringType()
    if t == "array":
        if s.is_positional_items:
            return _tuple_carrier(s, path)
        elem = s.items if s.items is not None else True
        return T.ArrayType(carrier_type(elem, f"{path}[]"), True)
    if t == "object":
        if s.properties:
            return _record_type(s, path)
        if s.additional_properties is not None and s.additional_properties is not False:
            return T.MapType(
                T.StringType(),
                carrier_type(s.additional_properties, f"{path}.<v>"),
                True,
            )
        return T.MapType(T.StringType(), T.BinaryType(), True)
    raise SpecCompileError(f"Invalid type: {t}")


def _tuple_carrier(s: ConstraintSpec, path: str) -> T.DataType:
    """Positional (tuple-form) ``items`` — beyond the reference, which
    errors here (Transpiler.scala:290 'Unimplemented: index by index array
    validation'). Homogeneous item carriers keep the natural ArrayType
    carrier (per-index predicates via element_at); heterogeneous tuples
    carry as a fixed-width struct ``(i0..iN)``, one nullable field per
    position (absent position = null field, mirroring draft-6's
    shorter-arrays-allowed rule). ``additionalItems`` on the struct carrier
    is vacuous (fixed width); on the array carrier it is enforced in
    checks.py."""
    carriers = [carrier_type(it, f"{path}[{k}]") for k, it in enumerate(s.items)]
    if not carriers:
        return T.ArrayType(T.BinaryType(), True)
    if all(c == carriers[0] for c in carriers[1:]):
        ai = s.additional_items
        if ai is not None and ai not in (True, False):
            extra = carrier_type(ai, f"{path}[+]")
            if extra != carriers[0]:
                # mixed element carriers once additionalItems admits a
                # different type → fall through to the struct carrier only
                # if the tuple itself is bounded; an unbounded mixed array
                # has no Spark carrier
                raise SpecCompileError(
                    f"additionalItems carrier {extra.simpleString()} differs "
                    f"from tuple item carrier {carriers[0].simpleString()} at "
                    f"{path} — an unbounded mixed-type array has no Spark "
                    "carrier; make the types coincide or set "
                    "additionalItems: false"
                )
        return T.ArrayType(carriers[0], True)
    return T.StructType(
        [T.StructField(f"i{k}", c, True) for k, c in enumerate(carriers)]
    )


def _record_type(s: ConstraintSpec, path: str) -> T.StructType:
    fields = []
    for name, sub in s.properties.items():
        if sub is False:
            raise SpecCompileError(
                f"A false value in {name} ensures there are no valid schemas"
            )
        # physical nullability is always True; requiredness is a row check
        fields.append(
            T.StructField(name, carrier_type(sub, f"{path}.{name}"), True)
        )
    return T.StructType(fields)


def _enum_carrier(values: Tuple, path: str) -> T.DataType:
    kinds = set()
    for v in values:
        if isinstance(v, bool):
            kinds.add("boolean")
        elif isinstance(v, int):
            kinds.add("integer")
        elif isinstance(v, float):
            kinds.add("number")
        elif isinstance(v, str):
            kinds.add("string")
        else:
            kinds.add("other")
    if kinds == {"string"}:
        return T.StringType()
    # documented deviation from the reference (which errors on non-string
    # enums, Transpiler.scala:327-328): the engine compares on the literal
    # value when the value set is homogeneous; strict mode errors identically
    # (enforced in plan.compile when strict=True).
    if kinds == {"integer"}:
        return T.LongType()
    if kinds <= {"integer", "number"}:
        return T.DoubleType()
    if kinds == {"boolean"}:
        return T.BooleanType()
    raise SpecCompileError(
        f"Unimplemented: non-string enums aren't supported yet at {path}. "
        f"Value: {values!r}"
    )
