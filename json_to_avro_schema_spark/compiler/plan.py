"""Spec → CompiledPlan (pass P6 orchestration).

The engine analog of the reference's ``Transpiler.transpile``
(/root/reference/src/main/scala/Transpiler.scala:20-48): runs the full
driver-side pipeline — parse (P3) → $id normalization (P4) → symbol table (P5)
→ depth-bounded ref inlining (P10/P11) → lowering (P6-P13) — and produces a
:class:`CompiledPlan`:

    { expected_schema : pyspark StructType        (type conformance)
      row_checks      : list[RowCheck]            (§2.2 keyword predicates)
      unique/ref/drift/stats checks               (§2.3 table-level config) }

Everything here is pure driver-side Python; Column objects are built lazily
(factories) so a plan can be compiled and inspected without a SparkSession.

Table-level checks are declared with engine extension keywords at the spec
root (no JSON-Schema counterpart — these are the north-rule operators):

    "x-unique": [{"name": ..., "columns": ["doc_id"]}]
    "x-ref":    [{"name": ..., "columns": [...], "refTable": ..., "refColumns": [...]}]
    "x-drift":  [{"name": ..., "column": ..., "bins": 32, "min": ..., "max": ...,
                  "categorical": false, "by": "<partition column>",
                  "includeTotal": false}]
    "x-vector": [{"name": ..., "column": "embedding", "dim": 64,
                  "normMin": 0.9, "normMax": 1.1}]
    "x-stats":  ["col", ...] | true
    "x-checks": [{"name": ..., "expr": "<spark-sql boolean expr>"}]
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import SpecCompileError, SpecParseError
from ..spec.model import ConstraintSpec, JSchema, RootConstraintSpec
from ..spec.normalize import normalize_ids
from ..spec.parser import parse_root
from ..spec.symbols import resolve_symbols
from .checks import gate, node_predicate, value_predicate
from .names import sanitize_check_name
from .refs import inline_refs
from .types import carrier_type, has_null_arm


@dataclass(frozen=True)
class RowCheck:
    """A named per-row predicate; True = row passes this check.

    ``severity`` is the expectation level (spec keyword ``x-severity``):
    "enforce" failures make the row a violation; "warn" failures are
    reported in the verdicts but leave the row valid.
    """

    name: str
    path: str
    description: str
    factory: Callable[[], Column]
    severity: str = "enforce"

    def predicate(self) -> Column:
        return self.factory()


@dataclass(frozen=True)
class UniqueCheckCfg:
    name: str
    columns: Tuple[str, ...]


@dataclass(frozen=True)
class RefCheckCfg:
    name: str
    columns: Tuple[str, ...]
    ref_table: str
    ref_columns: Tuple[str, ...]


@dataclass(frozen=True)
class DriftCheckCfg:
    name: str
    column: str
    bins: int = 32
    lo: Optional[float] = None
    hi: Optional[float] = None
    categorical: bool = False
    # Optional partition-key column: one KL/PSI verdict PER distinct value,
    # computed fully distributed (operators/drift.partitioned_drift_verdicts)
    # instead of one global driver-side verdict.
    by: Optional[str] = None
    # With by=: additionally emit the corpus-wide '<name>[ALL]' verdict,
    # fused into the same grouping-sets aggregation (zero extra scans).
    include_total: bool = False
    # "psi" (binned KL/PSI, the default), "ks" (exact binning-free
    # two-sample Kolmogorov–Smirnov via operators/drift.ks_drift), or
    # "emd" (exact Wasserstein-1 via operators/drift.emd_drift). ks/emd
    # are numeric/global only: by=, categorical, and bins/lo/hi don't
    # apply.
    method: str = "psi"


@dataclass(frozen=True)
class FdCheckCfg:
    """x-fd: functional-dependency consistency — the determinant columns
    must imply the dependent columns (source ⇒ lang, order ⇒ customer).
    ``max_violation_fraction`` admits approximate FDs: the check passes
    while at most that fraction of determinant keys map to >1 distinct
    dependent combination.  Executed as one grouped aggregate
    (table_checks.py); discovered from data by
    operators/profile.fd_candidates / suggest_fds."""

    name: str
    determinants: Tuple[str, ...]
    dependents: Tuple[str, ...]
    max_violation_fraction: float = 0.0


@dataclass(frozen=True)
class OutlierCheckCfg:
    """x-outlier: row-level outlier budget on a numeric column — at most
    ``max_fraction`` of rows may be flagged by the chosen robust detector
    (``method`` 'mad' → |modified z| > k via operators/outliers.
    mad_outliers, 'iqr' → outside the Tukey fences with factor k).
    Optional ``by`` computes the detector per group."""

    name: str
    column: str
    method: str = "mad"
    k: float = 3.5
    by: Optional[str] = None
    max_fraction: float = 0.0


@dataclass(frozen=True)
class BenfordCheckCfg:
    """x-benford: first-significant-digit conformity of a numeric amount
    column (Nigrini's forensic screen) — one 9-group hash-agg via
    operators/drift.benford_report; the verdict passes while the
    mean-absolute-deviation from the Benford distribution stays at or
    under ``mad_threshold``."""

    name: str
    column: str
    mad_threshold: float = 0.015


@dataclass(frozen=True)
class VectorCheckCfg:
    """x-vector: embedding-column conformance (dim / NaN / null / L2-norm
    bounds) — one fused aggregation via operators/similarity.vector_stats."""

    name: str
    column: str
    dim: Optional[int] = None
    norm_min: Optional[float] = None
    norm_max: Optional[float] = None


@dataclass
class CompiledPlan:
    spec_name: str
    spec_hash: str
    expected_schema: T.StructType
    row_checks: List[RowCheck] = dc_field(default_factory=list)
    unique_checks: List[UniqueCheckCfg] = dc_field(default_factory=list)
    ref_checks: List[RefCheckCfg] = dc_field(default_factory=list)
    drift_checks: List[DriftCheckCfg] = dc_field(default_factory=list)
    vector_checks: List[VectorCheckCfg] = dc_field(default_factory=list)
    fd_checks: List[FdCheckCfg] = dc_field(default_factory=list)
    benford_checks: List[BenfordCheckCfg] = dc_field(default_factory=list)
    outlier_checks: List[OutlierCheckCfg] = dc_field(default_factory=list)
    stats_columns: List[str] = dc_field(default_factory=list)
    unchecked_paths: List[str] = dc_field(default_factory=list)
    # accumulative additionalProperties (draft-6-correct; the reference's
    # own Roadmap flags its exclusive behavior as a bug): extra DATA columns
    # beyond the declared properties are validated at schema-bind time
    root_additional_properties: Optional[Any] = None
    root_pattern_properties: Dict[str, Any] = dc_field(default_factory=dict)
    root_declared_properties: Tuple[str, ...] = ()

    def check_names(self) -> List[str]:
        return [c.name for c in self.row_checks]

    def with_row_checks(self, *checks: RowCheck) -> "CompiledPlan":
        self.row_checks.extend(checks)
        return self

    def bind_schema(self, schema: T.StructType) -> "CompiledPlan":
        """Materialize checks that need the ACTUAL data schema: root-level
        accumulative ``additionalProperties`` / ``patternProperties``.

        For every data column not declared in ``properties``: a column
        matching a patternProperties regex validates against that sub-spec;
        otherwise additionalProperties applies (False ⇒ the column must be
        null, i.e. the key must be absent). Declared properties keep their
        own checks — both keyword families apply on the same object, which
        is the draft-6 semantics the reference's Roadmap concedes it lacks.
        Returns a new plan; the input plan is untouched."""
        import re as _re

        if self.root_additional_properties is None and not self.root_pattern_properties:
            return self
        declared = set(self.root_declared_properties)
        extra_checks: List[RowCheck] = []
        for f in schema.fields:
            name = f.name
            if name in declared or name.startswith("__"):
                continue
            matched = False
            for pat, sub in self.root_pattern_properties.items():
                if _re.search(pat, name):
                    matched = True
                    extra_checks.append(
                        RowCheck(
                            name=sanitize_check_name(
                                f"{name}__pattern_conforms", self.spec_name
                            ),
                            path=f"$.{name}",
                            description=(
                                f"undeclared column '{name}' matches "
                                f"patternProperties /{pat}/ and conforms"
                            ),
                            factory=(
                                lambda n=name, s=sub: node_predicate(
                                    s, F.col(n), f"$.{n}"
                                )
                            ),
                        )
                    )
            if matched:
                continue
            ap = self.root_additional_properties
            if ap is None or ap is True:
                continue
            if ap is False:
                extra_checks.append(
                    RowCheck(
                        name=sanitize_check_name(
                            f"{name}__additional_forbidden", self.spec_name
                        ),
                        path=f"$.{name}",
                        description=(
                            f"additionalProperties: false — undeclared column "
                            f"'{name}' must be absent (null)"
                        ),
                        factory=(lambda n=name: F.col(n).isNull()),
                    )
                )
            else:
                extra_checks.append(
                    RowCheck(
                        name=sanitize_check_name(
                            f"{name}__additional_conforms", self.spec_name
                        ),
                        path=f"$.{name}",
                        description=(
                            f"undeclared column '{name}' conforms to "
                            "additionalProperties"
                        ),
                        factory=(
                            lambda n=name, s=ap: node_predicate(s, F.col(n), f"$.{n}")
                        ),
                    )
                )
        if not extra_checks:
            return self
        import dataclasses as _dc

        return _dc.replace(self, row_checks=self.row_checks + extra_checks)


def spec_name_from_id(root_id: str) -> str:
    """Record name = last path segment of the root $id URI
    (Transpiler.scala:133-134)."""
    frag = root_id.split("#")[0].rstrip("/")
    return frag.split("/")[-1] or "root"


def _assert_severity_positions(spec: ConstraintSpec) -> None:
    """``x-severity`` is honored only on TOP-LEVEL property specs (the
    nodes that own ``__required``/``__conforms`` checks). Anywhere deeper
    it would be silently ignored — rows the author meant to merely warn
    on would become violations — so unsupported positions are a
    compile-time error, not a no-op."""
    from ..errors import SpecCompileError

    def children(node: ConstraintSpec, path: str) -> List[Tuple[Any, str]]:
        """Every child schema node EXCEPT ``properties`` values (handled
        by the caller, because only the ROOT's are severity-eligible)."""
        out: List[Tuple[Any, str]] = []
        items = node.items
        if isinstance(items, tuple):
            out += [(s, f"{path}.items[{i}]") for i, s in enumerate(items)]
        elif items is not None:
            out.append((items, f"{path}.items"))
        for group in ("all_of", "any_of", "one_of"):
            out += [
                (s, f"{path}.{group}[{i}]")
                for i, s in enumerate(getattr(node, group))
            ]
        for label, extra in (
            ("additionalItems", node.additional_items),
            ("contains", node.contains),
            ("propertyNames", node.property_names),
            ("additionalProperties", node.additional_properties),
            ("not", node.not_), ("if", node.if_),
            ("then", node.then_), ("else", node.else_),
        ):
            out.append((extra, f"{path}.{label}"))
        out += [
            (s, f"{path}.patternProperties")
            for s in node.pattern_properties.values()
        ]
        out += [
            (s, f"{path}.definitions.{k}")
            for k, s in node.definitions.items()
        ]
        out += [
            (d, f"{path}.dependencies.{k}")
            for k, d in node.dependencies.items()
            if not isinstance(d, tuple)
        ]
        return out

    def walk(node: Any, path: str, allowed: bool) -> None:
        if not isinstance(node, ConstraintSpec):
            return
        if node.x_severity is not None and node.ref is not None:
            # $ref siblings are discarded during inlining (draft-6
            # semantics), which would silently downgrade warn to enforce
            raise SpecCompileError(
                f"x-severity at {path} sits beside $ref and would be "
                f"ignored — author it inline on the property spec instead"
            )
        if node.x_severity is not None and not allowed:
            raise SpecCompileError(
                f"x-severity at {path} is not honored there — it applies "
                f"only to top-level property specs"
            )
        for prop, sub in node.properties.items():
            walk(sub, f"{path}.properties.{prop}", allowed=False)
        for sub, p in children(node, path):
            walk(sub, p, allowed=False)

    # allowed ONLY on the direct values of root.properties; the root
    # itself and every deeper node are errors
    if spec.x_severity is not None:
        raise SpecCompileError(
            "x-severity at $ (root) is not honored — it applies only to "
            "top-level property specs"
        )
    for prop, sub in spec.properties.items():
        walk(sub, f"$.properties.{prop}", allowed=True)
    for sub, p in children(spec, "$"):
        walk(sub, p, allowed=False)


def compile_document(
    doc: Dict[str, Any],
    *,
    strict_enums: bool = False,
    max_ref_depth: int = 3,
) -> CompiledPlan:
    """Compile a spec document (dict) into a CompiledPlan. Fails fast on the
    driver — no Spark job is touched here."""
    root = parse_root(doc)  # raises typed SpecParseError on malformed input
    normalized = normalize_ids(root)
    symbols = resolve_symbols(normalized)
    inlined = inline_refs(normalized, symbols, max_depth=max_ref_depth)
    spec = inlined.spec

    if strict_enums:
        _assert_string_enums(spec, "$")
    # validate severity positions on the PRE-inline spec: inlining both
    # drops $ref sibling keywords and empties definitions, so running the
    # guard afterwards would miss exactly the authored positions it exists
    # to reject (x-severity beside $ref, inside definitions, nested)
    _assert_severity_positions(normalized.spec)

    name = spec_name_from_id(normalized.spec.id or "root")
    spec_hash = hashlib.sha256(
        json.dumps(doc, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()[:16]

    plan = CompiledPlan(
        spec_name=name,
        spec_hash=spec_hash,
        expected_schema=_root_schema(spec),
        unchecked_paths=inlined.unchecked_paths,
        root_additional_properties=(
            spec.additional_properties if spec.properties else None
        ),
        root_pattern_properties=(
            dict(spec.pattern_properties) if spec.properties else {}
        ),
        root_declared_properties=tuple(spec.properties.keys()),
    )
    _compile_row_checks(spec, plan)
    _compile_extensions(doc, plan)
    return plan


# ----------------------------------------------------------------- schema

def _root_schema(spec: ConstraintSpec) -> T.StructType:
    if spec.one_of and not spec.properties:
        # root-level oneOf wraps into a single `value` union field
        # (Transpiler.scala:155-167, P15)
        value_spec = spec.evolve(id=None)
        return T.StructType(
            [T.StructField("value", carrier_type(value_spec, "$.value"), True)]
        )
    return _as_struct(carrier_type(spec.evolve(id=None), "$"))


def _as_struct(dt: T.DataType) -> T.StructType:
    if isinstance(dt, T.StructType):
        return dt
    # scalar/array/map root: single-field wrapper record `{value: T}` —
    # matches the reference's scalar-definition wrapping (Transpiler.scala:169-192)
    return T.StructType([T.StructField("value", dt, True)])


# ------------------------------------------------------------- row checks

def _col(name: str) -> Callable[[], Column]:
    return lambda: F.col(name)


def _compile_row_checks(spec: ConstraintSpec, plan: CompiledPlan) -> None:
    root_name = plan.spec_name

    if spec.one_of and not spec.properties:
        value_spec = spec.evolve(id=None)
        plan.row_checks.append(
            RowCheck(
                name=sanitize_check_name("value__conforms", root_name),
                path="$.value",
                description="root oneOf: exactly one alternative passes",
                factory=lambda: node_predicate(value_spec, F.col("value"), "$.value"),
            )
        )
        if not has_null_arm(spec):
            plan.row_checks.append(
                RowCheck(
                    name=sanitize_check_name("value__required", root_name),
                    path="$.value",
                    description="root oneOf value must be present",
                    factory=lambda: F.col("value").isNotNull(),
                )
            )
        return

    def _severity(prop: str) -> str:
        sub = spec.properties.get(prop)
        if isinstance(sub, ConstraintSpec) and sub.x_severity is not None:
            return sub.x_severity
        return "enforce"

    for prop in spec.required:
        if prop not in spec.properties:
            continue
        plan.row_checks.append(
            RowCheck(
                name=sanitize_check_name(f"{prop}__required", root_name),
                path=f"$.{prop}",
                description=f"required property '{prop}' must be non-null",
                factory=(lambda p=prop: F.col(p).isNotNull()),
                severity=_severity(prop),
            )
        )

    for prop, sub in spec.properties.items():
        if sub is True or (isinstance(sub, ConstraintSpec) and sub == ConstraintSpec()):
            continue  # empty schema constrains nothing — no check column
        desc = (
            sub.desc
            if isinstance(sub, ConstraintSpec) and sub.desc
            else f"'{prop}' conforms to its spec"
        )
        plan.row_checks.append(
            RowCheck(
                name=sanitize_check_name(f"{prop}__conforms", root_name),
                path=f"$.{prop}",
                description=desc,
                factory=(
                    lambda p=prop, s=sub: node_predicate(s, F.col(p), f"$.{p}")
                ),
                severity=_severity(prop),
            )
        )

    for dep_key, dep in spec.dependencies.items():
        if isinstance(dep, tuple):
            plan.row_checks.append(
                RowCheck(
                    name=sanitize_check_name(f"{dep_key}__dependencies", root_name),
                    path=f"$.{dep_key}",
                    description=f"if '{dep_key}' present then {list(dep)} present",
                    factory=(
                        lambda k=dep_key, d=dep: ~F.col(k).isNotNull()
                        | _conj_cols([F.col(x).isNotNull() for x in d])
                    ),
                )
            )
        else:
            plan.row_checks.append(
                RowCheck(
                    name=sanitize_check_name(f"{dep_key}__dependencies", root_name),
                    path=f"$.{dep_key}",
                    description=f"if '{dep_key}' present then dependent schema holds",
                    factory=(
                        lambda k=dep_key, d=dep, s=spec: ~F.col(k).isNotNull()
                        | _row_schema_predicate(d, s)
                    ),
                )
            )


def _row_schema_predicate(dep: JSchema, parent: ConstraintSpec) -> Column:
    """Apply a schema-form dependency against the whole row (as a struct)."""
    row = F.struct(*[F.col(p) for p in parent.properties])
    return gate(row, value_predicate(dep, row, "$"))


def _conj_cols(cols: List[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _assert_string_enums(s: JSchema, path: str) -> None:
    if not isinstance(s, ConstraintSpec):
        return
    for v in s.enum:
        if not isinstance(v, str):
            raise SpecCompileError(
                f"Unimplemented: non-string enums aren't supported yet at {path}. "
                f"Value: {v!r}"
            )
    children: List[Tuple[str, Any]] = []
    children += [(f"{path}.{k}", c) for k, c in s.properties.items()]
    children += [(f"{path}.def[{k}]", c) for k, c in s.definitions.items()]
    if s.items is not None and not isinstance(s.items, tuple):
        children.append((f"{path}[]", s.items))
    if isinstance(s.items, tuple):
        children += [(f"{path}[{k}]", c) for k, c in enumerate(s.items)]
    children += [(f"{path}^{i}", c) for i, c in enumerate(s.one_of)]
    children += [(f"{path}&{i}", c) for i, c in enumerate(s.all_of)]
    children += [(f"{path}|{i}", c) for i, c in enumerate(s.any_of)]
    if s.additional_properties is not None:
        children.append((f"{path}.<v>", s.additional_properties))
    for p, c in children:
        _assert_string_enums(c, p)


# ------------------------------------------------------------- extensions

def _table_check_name(entry: Dict[str, Any], keyword: str, prefix: str) -> str:
    """Check name of a single-column table-check entry (default
    ``<prefix>_<column>``); an entry without ``column`` is a
    SpecCompileError naming the check, not a raw KeyError."""
    if "column" not in entry:
        raise SpecCompileError(
            f"{keyword} '{entry.get('name', prefix)}': missing required "
            "'column'"
        )
    return entry.get("name", f"{prefix}_{entry['column']}")


def _compile_extensions(doc: Dict[str, Any], plan: CompiledPlan) -> None:
    for i, u in enumerate(doc.get("x-unique", []) or []):
        if isinstance(u, str):
            u = {"columns": [u]}
        cols = tuple(u["columns"])
        plan.unique_checks.append(
            UniqueCheckCfg(name=u.get("name", f"unique_{'_'.join(cols)}"), columns=cols)
        )
    for r in doc.get("x-ref", []) or []:
        cols = tuple(r["columns"])
        plan.ref_checks.append(
            RefCheckCfg(
                name=r.get("name", f"ref_{'_'.join(cols)}_{r['refTable']}"),
                columns=cols,
                ref_table=r["refTable"],
                ref_columns=tuple(r.get("refColumns", cols)),
            )
        )
    for d in doc.get("x-drift", []) or []:
        method = d.get("method", "psi")
        if method not in ("psi", "ks", "emd"):
            raise SpecCompileError(
                f"x-drift '{d.get('name', d['column'])}': unknown method "
                f"{method!r} (expected 'psi', 'ks' or 'emd')"
            )
        if method != "psi" and (d.get("by") or d.get("categorical")):
            raise SpecCompileError(
                f"x-drift '{d.get('name', d['column'])}': method "
                f"{method!r} is numeric/global only — by= and categorical "
                "apply to the binned PSI path"
            )
        plan.drift_checks.append(
            DriftCheckCfg(
                name=d.get("name", f"drift_{d['column']}"),
                column=d["column"],
                bins=int(d.get("bins", 32)),
                lo=d.get("min"),
                hi=d.get("max"),
                categorical=bool(d.get("categorical", False)),
                by=d.get("by"),
                include_total=bool(d.get("includeTotal", False)),
                method=method,
            )
        )
    for v in doc.get("x-vector", []) or []:
        plan.vector_checks.append(
            VectorCheckCfg(
                name=v.get("name", f"vector_{v['column']}"),
                column=v["column"],
                dim=v.get("dim"),
                norm_min=v.get("normMin"),
                norm_max=v.get("normMax"),
            )
        )
    for fd in doc.get("x-fd", []) or []:
        dets = tuple(fd.get("determinants", []) or [])
        deps = tuple(fd.get("dependents", []) or [])
        name = fd.get("name", f"fd_{'_'.join(dets)}__{'_'.join(deps)}")
        if not dets or not deps:
            raise SpecCompileError(
                f"x-fd '{name}': determinants and dependents must be "
                "non-empty"
            )
        overlap = set(dets) & set(deps)
        if overlap:
            raise SpecCompileError(
                f"x-fd '{name}': columns on both sides: {sorted(overlap)}"
            )
        frac = float(fd.get("maxViolationFraction", 0.0))
        if not 0.0 <= frac < 1.0:
            raise SpecCompileError(
                f"x-fd '{name}': maxViolationFraction must be in [0, 1), "
                f"got {frac}"
            )
        plan.fd_checks.append(
            FdCheckCfg(
                name=name, determinants=dets, dependents=deps,
                max_violation_fraction=frac,
            )
        )
    for oc in doc.get("x-outlier", []) or []:
        name = _table_check_name(oc, "x-outlier", "outlier")
        method = oc.get("method", "mad")
        if method not in ("mad", "iqr"):
            raise SpecCompileError(
                f"x-outlier '{name}': unknown method {method!r} "
                "(expected 'mad' or 'iqr')"
            )
        frac = float(oc.get("maxFraction", 0.0))
        if not 0.0 <= frac < 1.0:
            raise SpecCompileError(
                f"x-outlier '{name}': maxFraction must be in [0, 1), "
                f"got {frac}"
            )
        plan.outlier_checks.append(
            OutlierCheckCfg(
                name=name, column=oc["column"], method=method,
                k=float(oc.get("k", 3.5 if method == "mad" else 1.5)),
                by=oc.get("by"), max_fraction=frac,
            )
        )
    for bc in doc.get("x-benford", []) or []:
        name = _table_check_name(bc, "x-benford", "benford")
        thr = float(bc.get("madThreshold", 0.015))
        if not thr > 0.0:
            raise SpecCompileError(
                f"x-benford '{name}': madThreshold must be > 0, got {thr}"
            )
        plan.benford_checks.append(
            BenfordCheckCfg(name=name, column=bc["column"], mad_threshold=thr)
        )
    stats = doc.get("x-stats")
    if stats is True:
        plan.stats_columns = ["*"]
    elif isinstance(stats, list):
        plan.stats_columns = [str(c) for c in stats]
    for c in doc.get("x-checks", []) or []:
        plan.row_checks.append(
            RowCheck(
                name=sanitize_check_name(c["name"], plan.spec_name),
                path="$",
                description=c.get("description", c["expr"]),
                factory=(lambda e=c["expr"]: F.expr(e)),
            )
        )
