"""Distributed per-column statistics — single-pass, fused aggregation.

North-rule surface (SURVEY.md §2.3 'Aggregations'): count / null-rate /
min / max / approx-quantile / approx-distinct per column, computed in **one**
``df.agg(...)`` so the table is scanned exactly once (partial+final hash agg;
no shuffle wider than one row per group).

``percentile_approx`` (Greenwald-Khanna) is the oracle-checkable quantile
path; true mergeable t-digest sketches live in ``operators/tdigest.py``.
``approx_count_distinct`` is HyperLogLog++.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..compiler.sql import ident, percentile

_NUMERIC = (T.LongType, T.IntegerType, T.DoubleType, T.FloatType, T.ShortType,
            T.ByteType, T.DecimalType)


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC)


def _is_atomic(dt: T.DataType) -> bool:
    return isinstance(dt, (T.StringType, T.TimestampType, T.DateType, *_NUMERIC,
                           T.BooleanType))


def column_stats(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    *,
    quantiles: Optional[Sequence[float]] = (0.25, 0.5, 0.75, 0.95),
    approx_distinct: bool = True,
    by: Optional[str] = None,
) -> DataFrame:
    """Long-form stats: one output row per column.

    Output: (column, n_rows, n_null, null_rate, min, max, mean,
    approx_distinct, q_*) — min/max/mean/quantiles as strings/doubles where
    applicable.  ``by`` groups stats per partition key (for per-Iceberg-
    partition verdict enrichment); default is whole-table.

    ``quantiles=None`` / ``approx_distinct=False`` drop the sketch
    aggregates (percentile_approx, HLL) from the fused agg — when a caller
    only needs count/null-rate/min/max/mean those sketches dominate the
    aggregation cost, so skipping them keeps the single scan cheap.
    """
    if columns is None or columns == ["*"]:
        columns = [f.name for f in df.schema.fields if _is_atomic(f.dataType)]
    types = {f.name: f.dataType for f in df.schema.fields}

    aggs: List[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__n_null"))
        if approx_distinct:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__approx_distinct"))
        else:
            aggs.append(F.lit(None).cast("long").alias(f"{c}__approx_distinct"))
        if _is_atomic(types[c]):
            aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        if _is_numeric(types[c]):
            aggs.append(F.avg(col).alias(f"{c}__mean"))
            if quantiles:
                aggs.append(
                    F.expr(percentile(ident(c), quantiles, True)).alias(f"{c}__q")
                )
            else:
                aggs.append(
                    F.lit(None).cast(T.ArrayType(T.DoubleType())).alias(f"{c}__q")
                )

    wide = df.groupBy(F.col(by)).agg(*aggs) if by else df.agg(*aggs)

    # unpivot to long form driver-side (k columns → k rows per group; cheap)
    rows = []
    for c in columns:
        entry = F.struct(
            F.lit(c).alias("column"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(f"{c}__n_null").cast("long").alias("n_null"),
            (F.col(f"{c}__n_null") / F.col("n_rows")).alias("null_rate"),
            (F.col(f"{c}__min") if _is_atomic(types[c]) else F.lit(None).cast("string")).alias("min"),
            (F.col(f"{c}__max") if _is_atomic(types[c]) else F.lit(None).cast("string")).alias("max"),
            (F.col(f"{c}__mean") if _is_numeric(types[c]) else F.lit(None).cast("double")).alias("mean"),
            F.col(f"{c}__approx_distinct").cast("long").alias("approx_distinct"),
            (
                F.col(f"{c}__q")
                if _is_numeric(types[c])
                else F.lit(None).cast(T.ArrayType(T.DoubleType()))
            ).alias("quantiles"),
        )
        rows.append(entry)

    key_cols = [by] if by else []
    exploded = wide.select(*key_cols, F.explode(F.array(*rows)).alias("s"))
    return exploded.select(*key_cols, "s.*")


def verdict_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    checks: "dict[str, Column]",
    *,
    cube: bool = False,
) -> DataFrame:
    """Hierarchical verdict roll-up (SURVEY.md §2.3 'grouping sets'):
    per-group, per-subtotal, and grand-total fail counts in ONE pass.

    ``df.rollup`` (or ``df.cube``) computes every aggregation level inside a
    single partial+final hash aggregation — no re-scan per level, which is
    the whole point at 100 TB. ``gid`` is ``grouping_id()`` (first group
    column = most significant bit; identical convention to DuckDB's
    ``GROUPING(a, b)``), disambiguating subtotal rows from genuine-null
    group values.

    Output: (*group_cols, gid, n_rows, n_fail_<check>..., pass).
    """
    grouped = df.cube(*group_cols) if cube else df.rollup(*group_cols)
    aggs: List[Column] = [F.count(F.lit(1)).alias("n_rows")]
    fail_cols = []
    for name, pred in checks.items():
        cname = f"n_fail_{name}"
        # fail-closed: null predicate counts as failure (matches runner)
        aggs.append(
            F.sum((~F.coalesce(pred, F.lit(False))).cast("long")).alias(cname)
        )
        fail_cols.append(cname)
    out = grouped.agg(F.grouping_id().alias("gid"), *aggs)
    all_pass = F.lit(True)
    for cname in fail_cols:
        all_pass = all_pass & (F.col(cname) == 0)
    return out.select(*group_cols, "gid", "n_rows", *fail_cols,
                      all_pass.alias("pass"))
