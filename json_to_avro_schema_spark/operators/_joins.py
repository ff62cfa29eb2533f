"""Join helpers shared by the operators: the one broadcast hint and the
null-safe group-stats join-back.

Join strategy belongs to Spark's planner. ``JoinSelection`` broadcasts a
side whose Catalyst size estimate fits
``spark.sql.autoBroadcastJoinThreshold``, and AQE re-plans from runtime
sizes, so an operator joining against a file scan, an aggregate or a
persisted frame adds no hint of its own and the deployment's threshold
decides. Catalyst cannot size every frame: a ``createDataFrame`` list
(a blocklist) or a frame under an unsized source estimates at
``spark.sql.defaultSizeInBytes``, effectively unbounded, and plans a
shuffle join. :func:`broadcast_if_fits` covers those frames with a row
count against one cap.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def attach_group_stats(
    df: DataFrame, stats: DataFrame, by: Optional[Sequence[str]]
) -> DataFrame:
    """``df``'s columns plus its group's columns from ``stats`` (one row
    per ``by`` group, built by a groupBy over ``df``; a single row when
    ``by`` is empty) — a broadcast join-back, group-scale by construction.

    Keys match null-safely (``<=>``): the groupBy that built ``stats``
    puts every null key in one group, and its rows get that group's
    stats instead of dropping out of an inner equi-join. With ``by``
    None or empty it is a cross join against the single global row."""
    if not by:
        return df.join(F.broadcast(stats), how="cross")
    keys = [f"__by{i}" for i in range(len(by))]
    renamed = stats.withColumnsRenamed(dict(zip(by, keys)))
    cond = [F.col(c).eqNullSafe(F.col(k)) for c, k in zip(by, keys)]
    return df.join(F.broadcast(renamed), on=cond).drop(*keys)
