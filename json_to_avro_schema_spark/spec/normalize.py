"""Pass P4 — $id normalization.

Resolves every nested relative ``$id`` against the current base URI, RFC-3986
style; each ``$id`` introduces a new base URI for its subtree; absolute URLs
and URNs pass through unchanged.  Semantics from the reference
(/root/reference/src/main/scala/IdNormalizer.scala:8-51, combineUris :111-123;
all schema-bearing keywords visited :24-35 — here, every slot of
``model.CHILD_SLOTS``).  The root spec MUST declare
``$id`` (IdNormalizer.scala:13).
"""

from __future__ import annotations

from typing import Optional
from urllib.parse import urljoin, urlparse

from ..errors import SpecResolutionError
from .model import ConstraintSpec, RootConstraintSpec, map_children


def _combine(base: str, rel: str) -> str:
    """RFC-3986 reference resolution; URNs and absolute URIs pass through."""
    parsed = urlparse(rel)
    if parsed.scheme:  # absolute URI or URN ('urn:...' has scheme 'urn')
        return rel
    return urljoin(base, rel)


def normalize_ids(root: RootConstraintSpec) -> RootConstraintSpec:
    if root.spec.id is None:
        raise SpecResolutionError("$id must be specified in root schema")
    return RootConstraintSpec(
        schema_uri=root.schema_uri, spec=_visit(root.spec, root.spec.id)
    )


def _visit(s: ConstraintSpec, base: Optional[str]) -> ConstraintSpec:
    new_id = s.id
    if s.id is not None and base is not None and s.id != base:
        new_id = _combine(base, s.id)
    # a declared $id becomes the base for its own subtree (IdNormalizer.scala:20-22)
    sub_base = new_id if new_id is not None else base
    return map_children(s, lambda c, _: _visit(c, sub_base), id=new_id)
