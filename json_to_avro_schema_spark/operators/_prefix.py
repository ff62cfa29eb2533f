"""Value-bounded distributed prefix sum — the one scaffold behind
:func:`~.packing.cumulative_tokens`, the exact-ECDF drift statistics
(:func:`~.drift.ks_drift` / :func:`~.drift.emd_drift`) and the global mode
of :func:`~.temporal.sequence_gaps`.

Each of them needs a running quantity in a global VALUE order. The naive
formulation is a window ``OVER (ORDER BY v)`` — a Spark plan that sorts
the ENTIRE table into ONE partition, a single-task bottleneck at any
scale. The distributed shape instead:

1. derive P-1 approximate-quantile bounds of the (numeric) order column
   (one narrow aggregate; at 100 TB this scan is column-pruned to one
   column), making ``pid(row) = #bounds <= v`` a deterministic,
   retry-safe function of the row VALUE. The bounds are computed once and
   embedded as plan literals, so every later branch of the query assigns
   identical pids — no sampling-based range partitioner (whose bounds are
   re-sampled by every query that evaluates it), no checkpoint pinning.
   Sketch error can only move bucket edges, never change results.
2. per-pid (and optionally per-group) totals — tiny, O(P × #groups
   present) rows — collected to the driver in pid order, never O(rows).
   Bounds are monotonic in the order column, so ascending pid ==
   ascending value, and equal values always share a pid.
3. the caller's own driver fold over those rows (an exclusive prefix, a
   boundary stitch), broadcast back as a join on the pid, plus a
   *within-pid* window whose own shuffle is the ONLY wide exchange —
   every pid bucket computes in parallel.

Global result = pid offset + within-pid result; bit-identical to the
single-partition window at any bucket count, which is exactly what the
DuckDB oracles check.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Upper bound on pid buckets, independent of cluster parallelism. The P-1
# quantile bounds are embedded in the plan as literals (a multi-MB plan at
# uncapped 10^5-core defaults); correctness only needs enough buckets to
# parallelize the within-pid window. Per-row assignment cost is kept flat
# by the two-level scan in _pid_from_bounds (O(2*sqrt(P)) comparisons).
_MAX_PID_BUCKETS = 4096

# bound count above which _pid_from_bounds switches to the sqrt-blocked
# two-level scan (below it the flat literal-array filter is cheaper)
_TWO_LEVEL_MIN = 128


def bucket_count(spark: SparkSession, num_partitions: Optional[int]) -> int:
    """Requested pid-bucket count, defaulting to 2x parallelism: pids are
    hash-assigned to window tasks, so extra logical buckets smooth the
    assignment. Capped so the bound-literal count never tracks cluster
    size (see ``_MAX_PID_BUCKETS``)."""
    n_parts = num_partitions or spark.sparkContext.defaultParallelism * 2
    return min(n_parts, _MAX_PID_BUCKETS)


def _order_bounds(
    df: DataFrame, order_col: str, n_parts: int
) -> Optional[list]:
    """P-1 approximate-quantile bounds of a NUMERIC order column (None
    for non-numeric types). One narrow aggregate job; the result is
    embedded as literals so every later branch assigns identical pids,
    retry- and AQE-proof."""
    from pyspark.sql.types import NumericType

    if not isinstance(df.schema[order_col].dataType, NumericType):
        return None
    if n_parts <= 1:
        return []
    probs = [i / n_parts for i in range(1, n_parts)]
    row = df.agg(
        F.percentile_approx(order_col, probs, 10_000).alias("b")
    ).collect()[0]
    return list(row["b"] or [])


def _pid_from_bounds(order_col: str, bounds: list) -> Column:
    """pid(x) = #{b in bounds : b <= x} over the SORTED bound list.

    Small bound counts use one literal-array filter scan. Past
    ``_TWO_LEVEL_MIN`` the scan goes two-level (sqrt-blocked): count the
    blocks whose max <= x via a coarse array, then scan only the one
    straddling block — O(2*sqrt(P)) comparisons per row instead of O(P).
    Measured at 10M rows x 4096 bounds: the flat scan costs ~12x the
    64-bound plan; two-level brings it back to ~1x (BENCH/BASELINE.md).
    Correct with duplicate bounds: the list is sorted, so every element
    of a later block >= every element of an earlier one — elements <= x
    can only live in fully-counted blocks or the single straddling block.
    """
    if not bounds:
        return F.lit(0)
    x = F.col(order_col)
    if len(bounds) <= _TWO_LEVEL_MIN:
        barr = F.array(*[F.lit(b) for b in bounds])
        return F.size(F.filter(barr, lambda b: b <= x))
    bs = int(math.isqrt(len(bounds) - 1)) + 1
    blocks = [bounds[i:i + bs] for i in range(0, len(bounds), bs)]
    coarse = F.array(*[F.lit(b[-1]) for b in blocks])
    # element counts of blocks 0..i-1, so count_full = psize[full]
    psizes, acc = [0], 0
    for b in blocks:
        acc += len(b)
        psizes.append(acc)
    psize_arr = F.array(*[F.lit(p) for p in psizes])
    blocks_arr = F.array(*[F.array(*[F.lit(v) for v in b]) for b in blocks])
    full = F.size(F.filter(coarse, lambda b: b <= x))
    count_full = F.element_at(psize_arr, full + 1)
    straddle = F.element_at(
        blocks_arr, F.least(full, F.lit(len(blocks) - 1)) + 1
    )
    partial = F.when(
        full < len(blocks),
        F.size(F.filter(straddle, lambda b: b <= x)),
    ).otherwise(F.lit(0))
    return count_full + partial


def with_pid(
    df: DataFrame, order_col: str, pid_col: str, n_parts: int
) -> Optional[DataFrame]:
    """``df`` plus an int ``pid_col`` over ``n_parts`` value buckets of
    ``order_col`` (one bounds job), or None when ``order_col`` is not
    numeric and has no quantile bounds."""
    bounds = _order_bounds(df, order_col, n_parts)
    if bounds is None:
        return None
    # The `+ 0 * monotonically_increasing_id()` is a value-neutral
    # NONDETERMINISM BARRIER, not dead code: the pid expression holds a
    # HOF lambda with an outer reference, and Catalyst's
    # InferFiltersFromConstraints mis-computes that lambda's reference set
    # — it derives `pid_expr <=> pid` from the offset join and pushes it
    # to the offset side, where the order column does not exist,
    # producing an unresolvable `!Filter` that fails task binding
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND; reproduced with an int order
    # column, pinned in test_packing.py). Constraints are only inferred
    # from deterministic expressions, so the no-op nondeterministic term
    # suppresses exactly this inference; the value is unchanged (x*0)
    # under any retry.
    pid = (
        _pid_from_bounds(order_col, bounds).cast("long")
        + F.lit(0) * F.monotonically_increasing_id()
    ).cast("int")
    return df.withColumn(pid_col, pid)


def pid_totals(
    part: DataFrame, pid_col: str, *aggs: Column, by: Optional[str] = None
) -> list:
    """The per-pid (per-(pid, ``by``)) aggregate ``aggs`` collected in pid
    order — O(P × #groups) rows, the input of the caller's driver fold."""
    keys = [pid_col] + ([by] if by else [])
    return part.groupBy(*keys).agg(*aggs).orderBy(*keys).collect()
