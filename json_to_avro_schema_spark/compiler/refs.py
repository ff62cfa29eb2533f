"""Passes P10 + P11 — $ref resolution with depth-bounded inlining.

The reference resolves ``$ref`` URIs through the symbol table first, then by
canonical JSON pointer (/root/reference/src/main/scala/Transpiler.scala:334-345),
and dedups shared definitions by inlining the *first* use and referring to
subsequent uses by name (Transpiler.scala:50-131, cycle-safe via a
reachability fixpoint).

Spark StructTypes cannot be recursive, so the engine replaces name-references
with **depth-bounded inlining**: every ``$ref`` is expanded in place; when the
same ref URI is already ``max_depth`` deep on the current expansion stack, the
residual node becomes the boolean schema ``True`` (anything passes) and the
path is recorded as *unchecked-depth* so verdicts can disclose it
(SURVEY.md §7 'Hard parts').

Per the JSON Schema spec (and Transpiler.scala:227-243), all sibling keywords
of ``$ref`` are ignored.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import List, Tuple

from ..errors import SpecCompileError
from ..spec.model import ConstraintSpec, JSchema, RootConstraintSpec, map_children
from ..spec.symbols import Symbols


@dataclass
class InlineResult:
    spec: ConstraintSpec
    unchecked_paths: List[str] = dc_field(default_factory=list)


def _walk_pointer(root: ConstraintSpec, pointer: str) -> JSchema:
    """Resolve a canonical ``#/...`` pointer over definitions/properties."""
    if pointer == "#":
        return root
    parts = pointer.lstrip("#").strip("/").split("/")
    node: JSchema = root
    i = 0
    while i < len(parts):
        if isinstance(node, bool):
            raise SpecCompileError(f"ref points through a boolean schema: {pointer}")
        kind = parts[i]
        if kind == "definitions" and i + 1 < len(parts):
            node = node.definitions.get(parts[i + 1], None)  # type: ignore[union-attr]
        elif kind == "properties" and i + 1 < len(parts):
            node = node.properties.get(parts[i + 1], None)  # type: ignore[union-attr]
        else:
            raise SpecCompileError(f"Unimplemented ref URI type for: {pointer}")
        if node is None:
            raise SpecCompileError(f"unresolved ref: {pointer}")
        i += 2
    return node


def resolve_ref_uri(ref: str, root: ConstraintSpec, symbols: Symbols) -> JSchema:
    """Symbol-table lookup first, then canonical-pointer walk
    (Transpiler.scala:334-345). A relative ref to a declared ``$id`` is
    resolved against the root base URI first (the normalizer only rewrote
    $id declarations, not $ref sites)."""
    if ref not in symbols and not ref.startswith("#") and root.id:
        from urllib.parse import urljoin, urlparse

        if not urlparse(ref).scheme:
            absolute = urljoin(root.id, ref)
            if absolute in symbols:
                ref = absolute
    if ref in symbols:
        target = symbols[ref]
        if target.startswith("#"):
            return _walk_pointer(root, target)
        ref = target
    if ref.startswith("#"):
        return _walk_pointer(root, ref)
    # bare name / URI whose fragment matches a definition (last-segment fallback)
    frag = ref.split("#")[-1].strip("/")
    last = frag.split("/")[-1] if frag else ref.rstrip("/").split("/")[-1]
    if last in root.definitions:
        return root.definitions[last]
    raise SpecCompileError(f"Unimplemented ref URI type for: {ref}")


def inline_refs(
    root: RootConstraintSpec, symbols: Symbols, max_depth: int = 3
) -> InlineResult:
    """Rewrite the spec tree with every ``$ref`` expanded in place."""
    unchecked: List[str] = []

    def visit(node: JSchema, path: str, stack: Tuple[str, ...]) -> JSchema:
        if isinstance(node, bool):
            return node
        if node.ref is not None:
            if stack.count(node.ref) >= max_depth:
                unchecked.append(path)
                return True  # residual depth: anything passes, disclosed in verdicts
            target = resolve_ref_uri(node.ref, root.spec, symbols)
            return visit(target, path, stack + (node.ref,))
        # definitions are resolution sources only; drop them post-inline so the
        # compiled tree is self-contained (dead-definition elimination —
        # Transpiler.scala:111-125 analog: unused defs never compiled).
        return map_children(
            node, lambda c, p: visit(c, p, stack), path, definitions={}
        )

    spec = visit(root.spec, "$", ())
    if isinstance(spec, bool):
        raise SpecCompileError("root schema cannot be a boolean schema")
    return InlineResult(spec=spec, unchecked_paths=unchecked)
