"""Join shapes shared by the operators and the runner. Three rules decide
every broadcast:

1. The planner by default: ``JoinSelection`` broadcasts a side whose
   Catalyst estimate fits ``spark.sql.autoBroadcastJoinThreshold`` and AQE
   re-plans from runtime sizes, so a join against a file scan, an
   aggregate (such as :func:`small_buckets`) or a persisted frame carries
   no hint and the deployment's threshold decides.
2. :func:`broadcast_if_fits` for unsized frames: a ``createDataFrame``
   list estimates at ``spark.sql.defaultSizeInBytes``, effectively
   unbounded; a row count against one cap decides its hint.
3. :func:`keyed_join` for frames small by construction (one row per
   group, per partition or per partition × check), which Catalyst sizes
   from the input they were derived from.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler.sql import ident

# Rows below which a frame the planner cannot size is broadcast. At a few
# dozen bytes per row this is ~64 MB, the session's broadcast threshold.
BROADCAST_MAX_ROWS = 2_000_000


def broadcast_if_fits(df: DataFrame, n_rows: Optional[int] = None) -> DataFrame:
    """``df`` with a broadcast hint when it holds at most
    ``BROADCAST_MAX_ROWS`` rows, else ``df`` unhinted (the planner and
    AQE pick the join). ``n_rows`` is the caller's known row count; without
    it a bounded ``limit(cap + 1).count()`` runs, an eager job at
    plan-construction time."""
    if n_rows is None:
        n_rows = df.limit(BROADCAST_MAX_ROWS + 1).count()
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ROWS else df


def keyed_join(
    df: DataFrame, small: DataFrame, keys: Sequence[str], how: str = "inner"
) -> DataFrame:
    """``df`` joined (``inner``, ``left``, ``left_semi`` or ``left_anti``)
    with the broadcast ``small``, which carries the ``keys`` under
    ``df``'s names, null-safely (``<=>``: a null key matches a null, as a
    groupBy puts every null key in one group). ``small``'s keys get names
    no column of either side has (compared case-insensitively, as Spark
    resolves them) and are dropped. With no ``keys`` it is a cross join
    against ``small``'s single row."""
    if not keys:
        return df.join(F.broadcast(small), how="cross")
    taken = {c.lower() for c in (*df.columns, *small.columns)}
    prefix = "__key"
    while any(f"{prefix}{i}" in taken for i in range(len(keys))):
        prefix = "_" + prefix
    fresh = [f"{prefix}{i}" for i in range(len(keys))]
    renamed = small.withColumnsRenamed(dict(zip(keys, fresh)))
    on = " AND ".join(f"{ident(k)} <=> {f}" for k, f in zip(keys, fresh))
    return df.join(F.broadcast(renamed), F.expr(on), how).drop(*fresh)


def attach_group_stats(
    df: DataFrame, stats: DataFrame, by: Optional[Sequence[str]]
) -> DataFrame:
    """``df``'s columns plus its group's columns from ``stats`` (one row
    per ``by`` group, built by a groupBy over ``df``; a single row when
    ``by`` is None or empty): the group-stats join-back, a null-safe
    :func:`keyed_join` (a null key gets its group's stats instead of
    dropping out of an equi-join)."""
    return keyed_join(df, stats, by or ())


def small_buckets(df: DataFrame, keys: Sequence[str], cap: int) -> DataFrame:
    """The degenerate-bucket cap: the distinct ``keys`` of ``df`` whose
    bucket holds at most ``cap`` rows. Callers semi-join against it to
    drop oversized buckets (an exact-duplicate mega-group, a degenerate
    block key) before a bucket self-join; it is an aggregate the planner
    sizes, so it carries no hint."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= cap)
        .drop("__n")
    )
