"""Distributed validation runner (the only part that touches executors).

Engine lifecycle per SURVEY.md §3:

    scan → select(original cols + check predicate cols) → split:
       violations (filter ¬row_pass)        → sink, original columns UNTOUCHED
       verdicts   (groupBy part_key, long)  → sink
       table checks (uniqueness / referential / drift / stats) → operators/

Scale notes (the parts that matter at 10^12 rows):
  * All §2.2 predicates arrive as Spark SQL text (``RowCheck.sql``), one
    string per check parsed by Spark in one call, and compile to built-in
    expressions → whole-stage codegen; one scan produces both violations
    and per-partition verdicts.
  * Violation rows keep the original ``spans`` column selected as-is so
    Tungsten carries the bytes untouched (span-sequence equality invariant —
    never round-tripped through Python).
  * Verdict aggregation is a partial+final hash agg on ``part_key``; the
    per-check fail counters are fused into ONE agg so the table is scanned
    once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .compiler.plan import CompiledPlan
from .compiler.sql import (
    and_, call, coalesce_false, ident, is_not_null, lam, lit, not_, string, when,
)
from .errors import SchemaMismatchError, ValidationFailedError
from .operators._joins import keyed_join

ROW_PASS = "__row_pass"
CHECK_PREFIX = "__chk_"


def schema_conformance(actual: T.StructType, expected: T.StructType) -> List[str]:
    """Driver-side structural comparison; returns human-readable mismatches.

    The engine's 'type' keyword check: a column physically of the wrong Spark
    type is a spec violation of the whole table (reference analog: the type
    mapping table, docs/TypeMappings.md).  Extra columns in the data (e.g.
    ``part_key``) are allowed; missing or differently-typed ones are not.
    """
    problems: List[str] = []
    actual_by_name = {f.name: f for f in actual.fields}
    for f in expected.fields:
        got = actual_by_name.get(f.name)
        if got is None:
            problems.append(f"missing column: {f.name} ({f.dataType.simpleString()})")
        elif isinstance(f.dataType, T.BinaryType):
            # BinaryType is the "any / empty schema" escape hatch
            # (TypeMappings.md: any→bytes): no constraint ⇒ any physical
            # type conforms
            continue
        elif got.dataType.simpleString() != f.dataType.simpleString():
            problems.append(
                f"type mismatch on {f.name}: expected "
                f"{f.dataType.simpleString()}, got {got.dataType.simpleString()}"
            )
    return problems


@dataclass
class ValidationResult:
    checked: DataFrame          # original columns + one boolean col per check + __row_pass
    violations: DataFrame       # failing rows, original columns byte-identical
    verdicts: DataFrame         # (part_key, check_name, n_rows, n_fail, pass)
    valid: DataFrame            # rows passing every enforce check, original
                                # columns byte-identical (the expect_or_drop
                                # sink: valid ∪ violations = input, disjoint)
    unchecked_paths: List[str] = dc_field(default_factory=list)
    plan: Optional[CompiledPlan] = None  # the schema-bound plan checked


def apply_row_checks(df: DataFrame, plan: CompiledPlan) -> DataFrame:
    """One projection: original columns + a boolean column per check.

    Check columns are fail-closed: a null predicate result (indeterminate)
    counts as a failure. Null *inputs* already pass via the compiler's
    null-gating, so nulls here only arise from genuinely undecidable values.
    """
    out = df.selectExpr("*", *[
        f"{coalesce_false(chk.sql)} AS {ident(CHECK_PREFIX + chk.name)}"
        for chk in plan.row_checks
    ])
    # only enforce-severity checks gate the row; warn-severity checks
    # (x-severity: warn) still get their column + verdict line but a
    # failing row stays valid (DLT's plain `expect` level)
    row_pass = and_(lit(True), *[
        ident(CHECK_PREFIX + c.name)
        for c in plan.row_checks
        if c.severity == "enforce"
    ])
    return out.withColumn(ROW_PASS, F.expr(row_pass))


def extract_violations(checked: DataFrame, original_columns: List[str]) -> DataFrame:
    """Rows failing ≥1 check; original columns selected untouched, plus the
    names of the failed checks for the report."""
    check_cols = [c for c in checked.columns if c.startswith(CHECK_PREFIX)]
    failed_names = call(
        "filter",
        call("array", *[
            when(not_(ident(c)), string(c[len(CHECK_PREFIX):]), "NULL")
            for c in check_cols
        ]),
        lam(is_not_null, "x"),
    )
    return checked.filter(not_(ident(ROW_PASS))).selectExpr(
        *map(ident, original_columns), f"{failed_names} AS failed_checks"
    )


def partition_verdicts(
    checked: DataFrame, plan: CompiledPlan, *, part_key_col: str = "part_key"
) -> DataFrame:
    """Per-(partition, check) verdicts in long form — ONE fused aggregation.

    groupBy(part_key_col).agg(count, sum(fail_i)…) then unpivot driver-side
    via ``stack`` so the shuffle carries one compact row per partition. The
    key column keeps the name ``part_key_col`` (the constant ``'__all__'``
    partition when ``checked`` has no such column).
    """
    key = ident(part_key_col)
    wide = checked.groupBy(
        F.expr(f"{_part_key_sql(checked, part_key_col)} AS {key}")
    ).agg(
        F.expr("count(1) AS n_rows"),
        *[
            F.expr(f"sum(CAST(NOT {ident(CHECK_PREFIX + c.name)} AS BIGINT)) AS fail_{i}")
            for i, c in enumerate(plan.row_checks)
        ],
    )
    k = len(plan.row_checks)
    if k == 0:
        return wide.selectExpr(
            key, "CAST(NULL AS STRING) AS check_name",
            "n_rows", "0 AS n_fail", "true AS pass",
        )
    stack_args = ", ".join(
        f"{string(c.name)}, fail_{i}" for i, c in enumerate(plan.row_checks)
    )
    long = wide.selectExpr(
        key,
        "n_rows",
        f"stack({k}, {stack_args}) as (check_name, n_fail)",
    )
    return long.selectExpr(
        key, "check_name", "n_rows", "n_fail", "n_fail = 0 AS pass"
    )


def _part_key_sql(df: DataFrame, part_key_col: str) -> str:
    """The partition key column, or the constant '__all__' partition."""
    return ident(part_key_col) if part_key_col in df.columns else string("__all__")


def partitions_in(
    df: DataFrame,
    keys: DataFrame,
    part_key_col: str,
    how: str = "left_semi",
    *,
    keys_col: Optional[str] = None,
) -> DataFrame:
    """The rows of ``df`` whose partition key is (``left_semi``) or is not
    (``left_anti``) among the ``keys_col`` values of the small ``keys``
    frame: a null-safe :func:`~.operators._joins.keyed_join`, so a null
    key is its own partition and matches a null in ``keys``, as in
    :func:`partition_verdicts`."""
    k = keys.selectExpr(
        f"{ident(keys_col or part_key_col)} AS {ident(part_key_col)}"
    )
    return keyed_join(df, k, [part_key_col], how)


def sample_violations(
    violations: DataFrame,
    *,
    k: int = 10,
    part_key_col: str = "part_key",
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic top-K violation sample per partition (SURVEY.md §2.3
    'Window functions'): the report-sized excerpt a 10^12-row run ships to
    a human instead of the full violation table. row_number over a
    per-partition window — no global sort, no collect."""
    from pyspark.sql import Window

    w = Window.partitionBy(part_key_col).orderBy(F.col(order_col))
    return (
        violations.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def verdicts_with_violation_count(df: DataFrame, plan: CompiledPlan):
    """ONE-scan verdict aggregation + total failing-row count.

    ``Observation`` metrics ride the same job that feeds the verdict
    aggregation, so the row-level violation total (rows failing ≥1 check —
    NOT derivable from per-check fail sums, since one row can fail several)
    costs zero extra scans. Returns ``(verdicts_df, observation)``; read
    ``observation.get`` AFTER an action on the verdicts.
    """
    from pyspark.sql import Observation

    checked = apply_row_checks(df, plan)
    obs = Observation()
    observed = checked.observe(
        obs,
        F.expr(f"sum(CAST(NOT {ident(ROW_PASS)} AS BIGINT)) AS n_violations"),
        F.expr("count(1) AS n_rows"),
    )
    return partition_verdicts(observed, plan), obs


def verdicts_from_violations(
    df: DataFrame,
    violations: DataFrame,
    plan: CompiledPlan,
    *,
    part_key_col: str = "part_key",
) -> DataFrame:
    """Per-(partition, check) verdicts WITHOUT re-scanning the checked table.

    Sink-path optimization: after ``violations`` is materialized, every
    failing (row, check) is already in it, so
    ``n_fail = count of violations carrying that check`` and only
    ``n_rows`` needs the source — a column-pruned scan of the partition-key
    column (parquet never decodes ``spans``). One full compute pass over
    the data instead of two; at 100 TB the verdict agg becomes ~free.
    Output is identical to :func:`partition_verdicts` with the same
    ``part_key_col`` (zero-filled for checks with no failures; a null key
    is its own partition).

    Requires an all-enforce plan: warn-severity failures on rows that
    pass every enforce check never enter ``violations``, so their counts
    are unrecoverable from it — this function raises rather than silently
    under-reporting them; use :func:`partition_verdicts` (one extra
    aggregation over the checked frame) when the spec carries
    ``x-severity: warn``.
    """
    warn = [c.name for c in plan.row_checks if c.severity != "enforce"]
    if warn:
        raise ValueError(
            f"verdicts_from_violations cannot count warn-severity checks "
            f"{warn} (their failures are not violations) — use "
            f"partition_verdicts for this plan"
        )
    key = ident(part_key_col)
    rows_per_part = df.groupBy(
        F.expr(f"{_part_key_sql(df, part_key_col)} AS {key}")
    ).agg(F.expr("count(1) AS n_rows"))
    fails = (
        violations.selectExpr(
            f"{_part_key_sql(violations, part_key_col)} AS {key}",
            "explode(failed_checks) AS check_name",
        )
        .groupBy(key, "check_name")
        .agg(F.expr("count(1) AS n_fail"))
    )
    names = call("array", *[string(c.name) for c in plan.row_checks])
    grid = rows_per_part.selectExpr(
        key, "n_rows", f"explode({names}) AS check_name"
    )
    # null-safe on the key: a null partition key is its own partition (as
    # in partition_verdicts), and its failures must not drop out of the join
    joined = keyed_join(grid, fails, [part_key_col, "check_name"], "left")
    return joined.selectExpr(
        key,
        "check_name",
        "n_rows",
        "coalesce(n_fail, 0) AS n_fail",
        "coalesce(n_fail, 0) = 0 AS pass",
    )


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    plan: CompiledPlan,
) -> ValidationResult:
    """Build the full lazy validation plan. No action is triggered here —
    callers write/collect the pieces they need (one scan each, or persist
    ``checked`` to share the scan).

    Raises :class:`SchemaMismatchError` when the physical schema can't carry
    the spec's checks.
    """
    problems = schema_conformance(df.schema, plan.expected_schema)
    if problems:
        raise SchemaMismatchError(problems)
    # accumulative additionalProperties / patternProperties: undeclared data
    # columns get their own checks, materialized against the actual schema
    plan = plan.bind_schema(df.schema)
    original_columns = list(df.columns)
    checked = apply_row_checks(df, plan)
    return ValidationResult(
        checked=checked,
        violations=extract_violations(checked, original_columns),
        verdicts=partition_verdicts(checked, plan),
        valid=checked.filter(ident(ROW_PASS)).selectExpr(
            *map(ident, original_columns)
        ),
        unchecked_paths=list(plan.unchecked_paths),
        plan=plan,
    )


def sink_validation(
    spark: SparkSession,
    df: DataFrame,
    plan: CompiledPlan,
    out_dir: str,
    *,
    part_key_col: str = "part_key",
    pending: Optional[DataFrame] = None,
) -> ValidationResult:
    """The sink step of both CLI modes: validate ``df`` once, then write
    its violations and its verdicts, keyed by ``part_key_col``, under
    ``out_dir``.

    Verdicts come from the WRITTEN violations plus a column-pruned row
    count when every check enforces (:func:`verdicts_from_violations`, one
    compute scan); a warn-severity check's failures never reach the
    violations, so then the checked rows are aggregated
    (:func:`partition_verdicts`, a second scan).

    ``pending=None`` writes both sinks flat. A resume run passes its
    pending partition keys (``df`` holds only those): both sinks are
    hive-partitioned with dynamic overwrite, so a retried partition
    replaces exactly its own directory, and the violation read-back is
    restricted to those partitions (:func:`partitions_in`).
    """
    res = run_validation(spark, df, plan)
    viol_path = os.path.join(out_dir, "violations")
    verd_path = os.path.join(out_dir, "verdicts")

    def write(frame: DataFrame, path: str) -> None:
        w = frame.write.mode("overwrite")
        if pending is not None:
            # per-write: a session-wide dynamic mode would leak into
            # later plain overwrites (they would keep stale partitions)
            w = w.partitionBy(part_key_col).option(
                "partitionOverwriteMode", "dynamic"
            )
        w.parquet(path)

    write(res.violations, viol_path)
    if any(c.severity != "enforce" for c in res.plan.row_checks):
        verdicts = partition_verdicts(
            res.checked, res.plan, part_key_col=part_key_col
        )
    else:
        # the explicit schema also reads zero violations (no data files)
        written = spark.read.schema(res.violations.schema).parquet(viol_path)
        if pending is not None:
            written = partitions_in(written, pending, part_key_col)
        verdicts = verdicts_from_violations(
            df, written, res.plan, part_key_col=part_key_col
        )
    write(verdicts, verd_path)
    return res


def fail_on_violations(
    result: ValidationResult, *, limit: int = 0, sample: int = 5
) -> int:
    """The fail-the-pipeline expectation level (DLT's ``expect_or_fail``,
    Deequ's error level): count the enforce-severity violation rows and
    raise :class:`ValidationFailedError` past ``limit``, carrying up to
    ``sample`` violating rows for the error report. Returns the count when
    within the limit.

    Cost: one count action; the failure path adds a second
    ``limit(sample)`` job to fetch the report rows. At large scale,
    ``result.checked.persist()`` before calling (the violations and valid
    frames both derive from it) keeps the failure path from recomputing
    the full lineage. Callers gating a write should run this BEFORE the
    write action.
    """
    n = result.violations.count()
    if n > limit:
        rows = [r.asDict() for r in result.violations.limit(sample).collect()]
        raise ValidationFailedError(n, limit, rows)
    return n
