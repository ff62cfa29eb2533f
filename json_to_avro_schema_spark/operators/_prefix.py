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
   boundary stitch), returned to the plan as a literal indexed by pid
   (:func:`pid_lookup`: ``element_at(array(v_0 … v_maxpid), pid + 1)``),
   plus a *within-pid* window whose own shuffle is the ONLY wide exchange
   — every pid bucket computes in parallel. The array is dense by pid, so
   the lookup is O(1) per row; a map literal would not do: ``element_at``
   on a map scans its keys, O(P) per row at 4,096 buckets. A literal
   needs no driver job, where a ``createDataFrame`` of the rows ships a
   pickled Python RDD and broadcasts it through a join. Only
   ``cumulative_tokens(by=…)`` still joins its offsets back: they are
   O(P × groups) rows, and its documented contract drops rows whose
   ``by`` key is null, which the equi-join does.

Global result = pid offset + within-pid result; bit-identical to the
single-partition window at any bucket count, which is exactly what the
DuckDB oracles check.
"""

from __future__ import annotations

import math
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compiler.sql import Sql, call, cast, ident, lam, lit, percentile, when

# Upper bound on pid buckets, independent of cluster parallelism. The P-1
# quantile bounds are embedded in the plan as literals (a multi-MB plan at
# uncapped 10^5-core defaults); correctness only needs enough buckets to
# parallelize the within-pid window. Per-row assignment cost is kept flat
# by the two-level scan in _pid_sql (O(2*sqrt(P)) comparisons).
_MAX_PID_BUCKETS = 4096

# bound count above which _pid_sql switches to the sqrt-blocked
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
        F.expr(percentile(ident(order_col), probs, True)).alias("b")
    ).collect()[0]
    return list(row["b"] or [])


def _pid_sql(order_col: str, bounds: list) -> Sql:
    """pid(x) = #{b in bounds : b <= x} over the SORTED bound list, as SQL
    text.

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
        return lit(0)
    x = ident(order_col)

    def count_le(arr: str) -> Sql:
        le_x = lam(lambda b: f"{b} <= {x}", "b")
        return call("size", call("filter", arr, le_x))

    def array(items) -> Sql:
        return call("array", *items)

    if len(bounds) <= _TWO_LEVEL_MIN:
        return count_le(array(lit(b) for b in bounds))
    bs = int(math.isqrt(len(bounds) - 1)) + 1
    blocks = [bounds[i:i + bs] for i in range(0, len(bounds), bs)]
    # element counts of blocks 0..i-1, so count_full = psize[full]
    psizes, acc = [0], 0
    for b in blocks:
        acc += len(b)
        psizes.append(acc)
    full = count_le(array(lit(b[-1]) for b in blocks))
    count_full = call("element_at", array(lit(p) for p in psizes), f"{full} + 1")
    straddle = call(
        "element_at",
        array(array(lit(v) for v in b) for b in blocks),
        f"least({full}, {len(blocks) - 1}) + 1",
    )
    partial = when(f"{full} < {len(blocks)}", count_le(straddle), "0")
    return Sql(f"{count_full} + {partial}")


def with_pid(
    df: DataFrame, order_col: str, pid_col: str, n_parts: int
) -> Optional[DataFrame]:
    """``df`` plus an int ``pid_col`` over ``n_parts`` value buckets of
    ``order_col`` (one bounds job), or None when ``order_col`` is not
    numeric and has no quantile bounds."""
    bounds = _order_bounds(df, order_col, n_parts)
    if bounds is None:
        return None
    pid = cast(_pid_sql(order_col, bounds), "INT")
    return df.withColumn(pid_col, F.expr(pid))


def pid_totals(
    part: DataFrame, pid_col: str, *aggs: str, by: Optional[str] = None
) -> list:
    """The per-pid (per-(pid, ``by``)) aggregates ``aggs`` (SQL text)
    collected in pid order — O(P × #groups) rows, the input of the
    caller's driver fold. The rows are sorted on the driver: a Spark
    ``orderBy`` would add a range-partition sampling job and an exchange
    for a few thousand rows."""
    keys = [pid_col] + ([by] if by else [])
    rows = part.groupBy(*keys).agg(*[F.expr(a) for a in aggs]).collect()
    return sorted(rows, key=lambda r: r[pid_col])


def pid_lookup(pid_col: str, values: Dict[int, Any], sql_type: str) -> Sql:
    """The driver fold's per-pid ``values`` as a plan literal indexed by
    pid: ``element_at(array(v_0 … v_maxpid), pid + 1)`` of ``sql_type``.
    The array is dense by pid; a pid with no rows (duplicate bounds leave
    some empty) holds a typed NULL that no row reads."""
    if not values:
        return cast("NULL", sql_type)
    arr = call("array", *(lit(values.get(p)) for p in range(max(values) + 1)))
    return call(
        "element_at", cast(arr, f"ARRAY<{sql_type}>"), f"{ident(pid_col)} + 1"
    )
