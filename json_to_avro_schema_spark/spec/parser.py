"""Spec parser: JSON tree → typed ConstraintSpec AST, with per-keyword validation.

Re-implements the recursive-descent semantics of the reference parser
(/root/reference/src/main/scala/JsonSchemaParser.scala:11-392): every keyword's
JSON type is checked, numeric range rules are enforced at parse time
(``multipleOf > 0`` :311-319; ``minLength/maxLength >= 0`` :298-306), ``items``
accepts object (uniform) or array (positional) form :112-124, ``type`` accepts
string-or-array-of-strings :164-201, ``dependencies`` accepts property-list or
schema form :126-145.  Error messages mirror the reference so golden error
tests carry over.
"""

from __future__ import annotations

from typing import Any, Dict, Tuple

from ..errors import SpecParseError
from .model import (
    PRIMITIVE_TYPES,
    UNSET,
    ConstraintSpec,
    JSchema,
    RootConstraintSpec,
)


def parse_root(doc: Any) -> RootConstraintSpec:
    """Parse a root spec document (reference JsonSchemaParser.scala:11-18)."""
    if isinstance(doc, bool):
        raise SpecParseError("root schema must be a schema, not a boolean")
    if not isinstance(doc, dict):
        raise SpecParseError("schema must be an object")
    schema_uri = doc.get("$schema")
    if schema_uri is not None and not isinstance(schema_uri, str):
        raise SpecParseError("$schema must be a string")
    spec = parse_subspec(doc)
    if isinstance(spec, bool):
        raise SpecParseError("root schema must be a schema, not a boolean")
    return RootConstraintSpec(schema_uri=schema_uri, spec=spec)


def parse_subspec(value: Any) -> JSchema:
    """Parse a schema node: boolean schema or object (JsonSchemaParser.scala:25-110)."""
    if isinstance(value, bool):
        return value
    if not isinstance(value, dict):
        raise SpecParseError(
            f"Schema must be either an object or boolean, but found {value!r}"
        )
    return _parse_object(value)


# ---------------------------------------------------------------- helpers

def _str(obj: Dict[str, Any], name: str) -> Any:
    v = obj.get(name)
    if v is None:
        return None
    if not isinstance(v, str):
        raise SpecParseError(f"{name} must be a string")
    return v


def _number(obj: Dict[str, Any], name: str) -> Any:
    v = obj.get(name)
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise SpecParseError(f"{name} must be a number")
    return v


def _non_negative_int(obj: Dict[str, Any], name: str, default: Any = None) -> Any:
    v = obj.get(name)
    if v is None:
        return default
    if isinstance(v, bool) or not isinstance(v, int):
        raise SpecParseError(f"{name} must be a number")
    if v < 0:
        raise SpecParseError(f"{name} must be >= 0")
    return v


def _bool(obj: Dict[str, Any], name: str, default: Any = None) -> Any:
    v = obj.get(name)
    if v is None:
        return default
    if not isinstance(v, bool):
        raise SpecParseError(f"{name} must be a boolean")
    return v


def _schema_map(obj: Dict[str, Any], name: str) -> Dict[str, JSchema]:
    """``definitions`` / ``properties`` / ``patternProperties``
    (JsonSchemaParser.scala:147-157)."""
    v = obj.get(name)
    if v is None:
        return {}
    if not isinstance(v, dict):
        raise SpecParseError(f"{name} must be an object")
    return {k: parse_subspec(s) for k, s in v.items()}


def _schema_array(obj: Dict[str, Any], name: str) -> Tuple[JSchema, ...]:
    """``allOf`` / ``anyOf`` / ``oneOf`` (JsonSchemaParser.scala:233-243)."""
    v = obj.get(name)
    if v is None:
        return ()
    if not isinstance(v, list):
        raise SpecParseError(f"{name} must be an array")
    return tuple(parse_subspec(s) for s in v)


def _opt_schema(obj: Dict[str, Any], name: str) -> Any:
    v = obj.get(name)
    if v is None and name not in obj:
        return None
    return parse_subspec(v)


def _parse_items(obj: Dict[str, Any]) -> Any:
    """object ⇒ uniform element schema; array ⇒ positional tuple
    (JsonSchemaParser.scala:112-124)."""
    v = obj.get("items")
    if v is None:
        return None
    if isinstance(v, (dict, bool)):
        return parse_subspec(v)
    if isinstance(v, list):
        return tuple(parse_subspec(s) for s in v)
    raise SpecParseError("items must be an object or array")


def _parse_required(obj: Dict[str, Any]) -> Tuple[str, ...]:
    """array of strings enforced (JsonSchemaParser.scala:159-162, 340-347)."""
    v = obj.get("required")
    if v is None:
        return ()
    if not isinstance(v, list):
        raise SpecParseError("required must be an array")
    out = []
    for item in v:
        if not isinstance(item, str):
            raise SpecParseError("required must be a string")
        out.append(item)
    return tuple(out)


def _parse_types(obj: Dict[str, Any]) -> Tuple[str, ...]:
    """``type``: string or array of strings, each a known primitive
    (JsonSchemaParser.scala:164-201)."""
    v = obj.get("type")
    if v is None:
        return ()
    if isinstance(v, str):
        names = [v]
    elif isinstance(v, list):
        names = []
        for item in v:
            if not isinstance(item, str):
                raise SpecParseError("type must be a string or array")
            names.append(item)
    else:
        raise SpecParseError("type must be a string or array")
    for n in names:
        if n not in PRIMITIVE_TYPES:
            raise SpecParseError(f"Invalid type: {n}")
    return tuple(names)


def _parse_enum(obj: Dict[str, Any]) -> Tuple[Any, ...]:
    v = obj.get("enum")
    if v is None:
        return ()
    if not isinstance(v, list):
        raise SpecParseError("enum must be an array")
    return tuple(v)


def _parse_dependencies(obj: Dict[str, Any]) -> Dict[str, Any]:
    """object of: string-array (property deps) | schema (schema deps)
    (JsonSchemaParser.scala:126-145)."""
    v = obj.get("dependencies")
    if v is None:
        return {}
    if not isinstance(v, dict):
        raise SpecParseError("dependencies must be an object")
    out: Dict[str, Any] = {}
    for k, dep in v.items():
        if isinstance(dep, list):
            if not all(isinstance(s, str) for s in dep):
                raise SpecParseError(
                    "dependencies values must be an object or string array"
                )
            out[k] = tuple(dep)
        elif isinstance(dep, (dict, bool)):
            out[k] = parse_subspec(dep)
        else:
            raise SpecParseError(
                "dependencies values must be an object or string array"
            )
    return out


def _parse_multiple_of(obj: Dict[str, Any]) -> Any:
    v = _number(obj, "multipleOf")
    if v is not None and v <= 0:
        raise SpecParseError("multipleOf must be > 0")
    return v


def _parse_object(obj: Dict[str, Any]) -> ConstraintSpec:
    return ConstraintSpec(
        id=_str(obj, "$id"),
        ref=_str(obj, "$ref"),
        title=_str(obj, "title"),
        desc=_str(obj, "description"),
        definitions=_schema_map(obj, "definitions"),
        default=obj.get("default", UNSET),
        multiple_of=_parse_multiple_of(obj),
        maximum=_number(obj, "maximum"),
        exclusive_maximum=_number(obj, "exclusiveMaximum"),
        minimum=_number(obj, "minimum"),
        exclusive_minimum=_number(obj, "exclusiveMinimum"),
        max_length=_non_negative_int(obj, "maxLength"),
        min_length=_non_negative_int(obj, "minLength", default=0),
        pattern=_str(obj, "pattern"),
        format=_str(obj, "format"),
        content_encoding=_str(obj, "contentEncoding"),
        content_media_type=_str(obj, "contentMediaType"),
        items=_parse_items(obj),
        additional_items=_opt_schema(obj, "additionalItems"),
        max_items=_non_negative_int(obj, "maxItems"),
        min_items=_non_negative_int(obj, "minItems", default=0),
        unique_items=_bool(obj, "uniqueItems", default=False),
        contains=_opt_schema(obj, "contains"),
        max_properties=_non_negative_int(obj, "maxProperties"),
        min_properties=_non_negative_int(obj, "minProperties", default=0),
        required=_parse_required(obj),
        properties=_schema_map(obj, "properties"),
        pattern_properties=_schema_map(obj, "patternProperties"),
        additional_properties=_opt_schema(obj, "additionalProperties"),
        dependencies=_parse_dependencies(obj),
        property_names=_opt_schema(obj, "propertyNames"),
        const=obj.get("const", UNSET),
        types=_parse_types(obj),
        enum=_parse_enum(obj),
        all_of=_schema_array(obj, "allOf"),
        any_of=_schema_array(obj, "anyOf"),
        one_of=_schema_array(obj, "oneOf"),
        not_=_opt_schema(obj, "not"),
        if_=_opt_schema(obj, "if"),
        then_=_opt_schema(obj, "then"),
        else_=_opt_schema(obj, "else"),
        x_monotonic=_parse_string_array(obj, "x-monotonicIncreasing"),
        x_bits=_parse_bits(obj),
        x_severity=_parse_severity(obj),
    )


def _parse_severity(obj: Dict[str, Any]) -> Any:
    v = obj.get("x-severity")
    if v is None:
        return None
    if v not in ("warn", "enforce"):
        raise SpecParseError("x-severity must be 'warn' or 'enforce'")
    return v


def _parse_bits(obj: Dict[str, Any]) -> Any:
    v = obj.get("x-bits")
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, int) or v not in (32, 64):
        raise SpecParseError("x-bits must be 32 or 64")
    return v


def _parse_string_array(obj: Dict[str, Any], name: str) -> Tuple[str, ...]:
    v = obj.get(name)
    if v is None:
        return ()
    if not isinstance(v, list) or not all(isinstance(s, str) for s in v):
        raise SpecParseError(f"{name} must be an array")
    return tuple(v)
