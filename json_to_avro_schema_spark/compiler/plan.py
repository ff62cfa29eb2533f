"""Spec → CompiledPlan (pass P6 orchestration).

The engine analog of the reference's ``Transpiler.transpile``
(/root/reference/src/main/scala/Transpiler.scala:20-48): runs the full
driver-side pipeline — parse (P3) → $id normalization (P4) → symbol table (P5)
→ depth-bounded ref inlining (P10/P11) → lowering (P6-P13) — and produces a
:class:`CompiledPlan`:

    { expected_schema : pyspark StructType        (type conformance)
      row_checks      : list[RowCheck]            (§2.2 keyword predicates)
      unique/ref/drift/stats checks               (§2.3 table-level config) }

Everything here is pure driver-side Python. Each row check is lowered to one
Spark SQL boolean expression (``RowCheck.sql``, built by ``checks.py``), so a
plan compiles and prints without a SparkSession, and the runner hands each
check to Spark as a single string.

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
import re
from dataclasses import dataclass, field as dc_field, fields as dc_fields
from dataclasses import replace as dc_replace
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import types as T

from ..errors import SpecCompileError, SpecParseError
from ..spec.model import ConstraintSpec, JSchema, children, is_empty_spec
from ..spec.normalize import normalize_ids
from ..spec.parser import parse_root
from ..spec.symbols import resolve_symbols
from .checks import accepts_null, gate, node_predicate, value_predicate
from .names import sanitize_check_name
from .sql import and_, call, ident, is_not_null, is_null, not_, or_
from .refs import inline_refs
from .types import carrier_type


@dataclass(frozen=True)
class RowCheck:
    """A named per-row predicate; True = row passes this check.

    ``sql`` is the predicate as one Spark SQL boolean expression over the
    row's columns. ``severity`` is the expectation level (spec keyword
    ``x-severity``): "enforce" failures make the row a violation; "warn"
    failures are reported in the verdicts but leave the row valid.
    """

    name: str
    path: str
    description: str
    sql: str
    severity: str = "enforce"


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

    def has_table_checks(self) -> bool:
        """Whether the spec declares any table-level check family (what
        ``table_checks.run_table_checks`` executes): every ``*_checks``
        list besides ``row_checks``, plus the ``x-stats`` columns. Derived
        from the fields, so a family added as a new ``*_checks`` list is
        gated in without editing this method."""
        return bool(self.stats_columns) or any(
            getattr(self, f.name)
            for f in dc_fields(self)
            if f.name.endswith("_checks") and f.name != "row_checks"
        )

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
        ap = self.root_additional_properties
        if ap is None and not self.root_pattern_properties:
            return self
        extra: List[RowCheck] = []

        def add(name: str, suffix: str, description: str, sql: str) -> None:
            extra.append(_row_check(self.spec_name, name, suffix, description, sql))

        for f in schema.fields:
            name, col = f.name, ident(f.name)
            if name in self.root_declared_properties or name.startswith("__"):
                continue
            matched = False
            for pat, sub in self.root_pattern_properties.items():
                if re.search(pat, name):
                    matched = True
                    add(name, "pattern_conforms",
                        f"undeclared column '{name}' matches patternProperties "
                        f"/{pat}/ and conforms",
                        node_predicate(sub, col, f.dataType, f"$.{name}"))
            if matched or ap is None or ap is True:
                continue
            if ap is False:
                add(name, "additional_forbidden",
                    f"additionalProperties: false — undeclared column '{name}' "
                    "must be absent (null)",
                    is_null(col))
            else:
                add(name, "additional_conforms",
                    f"undeclared column '{name}' conforms to additionalProperties",
                    node_predicate(ap, col, f.dataType, f"$.{name}"))
        if not extra:
            return self
        return dc_replace(self, row_checks=self.row_checks + extra)


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

    def walk(node: ConstraintSpec, path: str, allowed: bool) -> None:
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
        for field, child_path, child in children(node, path):
            walk(child, child_path, node is spec and field == "properties")

    walk(spec, "$", allowed=False)


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

def _row_check(
    spec_name: str, prop: str, suffix: str, description: str, sql: str,
    severity: str = "enforce",
) -> RowCheck:
    """The check ``<prop>__<suffix>`` on top-level property ``prop``."""
    return RowCheck(
        name=sanitize_check_name(f"{prop}__{suffix}", spec_name),
        path=f"$.{prop}", description=description, sql=sql, severity=severity,
    )


def _compile_row_checks(spec: ConstraintSpec, plan: CompiledPlan) -> None:
    root_name = plan.spec_name
    schema = plan.expected_schema

    if spec.one_of and not spec.properties:
        plan.row_checks.append(_row_check(
            root_name, "value", "conforms",
            "root oneOf: exactly one alternative passes",
            node_predicate(
                spec.evolve(id=None), ident("value"), schema["value"].dataType, "$.value"
            ),
        ))
        if not accepts_null(spec):
            plan.row_checks.append(_row_check(
                root_name, "value", "required", "root oneOf value must be present",
                is_not_null(ident("value")),
            ))
        return

    def _severity(prop: str) -> str:
        sub = spec.properties.get(prop)
        if isinstance(sub, ConstraintSpec) and sub.x_severity is not None:
            return sub.x_severity
        return "enforce"

    for prop in spec.required:
        if prop in spec.properties:
            plan.row_checks.append(_row_check(
                root_name, prop, "required",
                f"required property '{prop}' must be non-null",
                is_not_null(ident(prop)), _severity(prop),
            ))

    for prop, sub in spec.properties.items():
        if is_empty_spec(sub):
            continue  # empty schema constrains nothing — no check column
        desc = (
            sub.desc
            if isinstance(sub, ConstraintSpec) and sub.desc
            else f"'{prop}' conforms to its spec"
        )
        plan.row_checks.append(_row_check(
            root_name, prop, "conforms", desc,
            node_predicate(sub, ident(prop), schema[prop].dataType, f"$.{prop}"),
            _severity(prop),
        ))

    for dep_key, dep in spec.dependencies.items():
        if isinstance(dep, tuple):
            what = f"{list(dep)} present"
            need = and_(*[is_not_null(ident(x)) for x in dep])
        else:
            what = "dependent schema holds"
            need = _row_schema_predicate(
                dep, schema if spec.properties else T.StructType()
            )
        plan.row_checks.append(_row_check(
            root_name, dep_key, "dependencies", f"if '{dep_key}' present then {what}",
            or_(not_(is_not_null(ident(dep_key))), need),
        ))


def _row_schema_predicate(dep: JSchema, row_type: T.StructType) -> str:
    """Apply a schema-form dependency against the whole row (as a struct)."""
    row = call("struct", *[ident(p) for p in row_type.names])
    return gate(row, value_predicate(dep, row, row_type, "$"))


def _assert_string_enums(s: ConstraintSpec, path: str) -> None:
    for v in s.enum:
        if not isinstance(v, str):
            raise SpecCompileError(
                f"Unimplemented: non-string enums aren't supported yet at {path}. "
                f"Value: {v!r}"
            )
    for _, child_path, child in children(s, path):
        _assert_string_enums(child, child_path)


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
                sql=_closed_expr(c["name"], c["expr"]),
            )
        )


def _closed_expr(name: str, text: str) -> str:
    """An ``x-checks`` expression, verified to be ONE self-contained SQL
    expression: quotes and backticks closed, parentheses balanced, no
    comment, no top-level comma or semicolon. The runner splices each check
    into its own projection (``coalesce(<expr>, false) AS <column>``), so a
    text that passes cannot reach past its own check; anything else is a
    SpecCompileError naming the check."""
    depth, i, n = 0, 0, len(text)

    def reject(why: str) -> SpecCompileError:
        return SpecCompileError(f"x-checks '{name}': {why} in {text!r}")

    while i < n:
        ch = text[i]
        if ch in "'\"`":
            # r'...' (at a token start) is a raw string: no escapes inside
            raw = (ch != "`" and text[i - 1:i] in ("r", "R")
                   and not (text[i - 2:i - 1].isalnum() or text[i - 2:i - 1] == "_"))
            j = i + 1
            while j < n and text[j] != ch:
                j += 2 if text[j] == "\\" and ch != "`" and not raw else 1
            if j >= n:
                raise reject(f"unterminated {ch}")
            i = j + 1
            continue
        if text.startswith(("--", "/*"), i):
            raise reject("comment")
        if ch == ";" or (ch == "," and depth == 0):
            raise reject(f"top-level {ch!r}")
        depth += {"(": 1, ")": -1}.get(ch, 0)
        if depth < 0:
            raise reject("unbalanced ')'")
        i += 1
    if depth or not text.strip():
        raise reject("unbalanced '(' or empty expression")
    return text
