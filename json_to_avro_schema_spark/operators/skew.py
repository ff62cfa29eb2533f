"""Key-skew diagnostics: measure the hot-key problem before salting it.

The north rule mandates explicit skew handling on hot ``doc_id`` prefixes
(BASELINE.json: "explicit repartitioning, AQE skew-join handling, and
salting on hot doc_id prefixes").  The engine already *applies* salting
(operators/uniqueness.py two-phase agg, AQE skew-join in session conf);
this module is the *diagnostic* side a pipeline operator runs first: per-key
count distribution, skew factor, the hot keys themselves, and the salt
fan-out the salted aggregate should use.

Distributed shape: ONE two-phase hash aggregate on the key (partial counts
map-side, so the shuffle carries one row per distinct key per task), then
scalar aggregates + a rank-limited window over the per-key counts — at
10^12 rows the per-key table is |keys| rows, and the top-K window is
rank-limit-pushed (Catalyst InferWindowGroupLimit, same plan family as
operators/topk.py).  Driver state is O(1): the report is a DataFrame.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..compiler.sql import percentile
from ._joins import attach_group_stats


def key_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key row counts — the input to every diagnostic below."""
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    *,
    top_k: int = 10,
    target_rows_per_task: int = 5_000_000,
    approx: bool = False,
) -> DataFrame:
    """Top-``top_k`` hottest keys, each row annotated with the global
    distribution stats (n_keys, n_rows, max/avg counts, p50/p99 of the
    per-key count, skew factor max/avg, and the recommended salt
    fan-out ``ceil(max_cnt / target_rows_per_task)``).

    Hot-key order is deterministic: count desc, key asc.  The global
    stats ride on every row (a 1-row broadcast cross join,
    ``_joins.attach_group_stats``) so the report is one DataFrame, one
    scan, and oracle-hashable without float-ordering tricks.
    ``approx=False`` uses Spark's exact ``percentile`` (same
    interpolating convention as DuckDB ``quantile_cont`` — the oracle
    path), whose partial buffers hold every per-key count per task:
    right at gate scale, wrong at 10^9 distinct keys.  Pass
    ``approx=True`` there for the bounded-memory GK sketch
    (``percentile_approx``)."""
    per_key = key_counts(df, key_col)

    def pctl(p: float):
        return F.expr(percentile("cnt", p, approx)).cast("double")

    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 4).alias("avg_cnt"),
        F.round(pctl(0.5), 4).alias("p50_cnt"),
        F.round(pctl(0.99), 4).alias("p99_cnt"),
    ).select(
        "*",
        F.round(F.col("max_cnt") / (F.col("n_rows") / F.col("n_keys")), 4).alias(
            "skew_factor"
        ),
        F.ceil(F.col("max_cnt") / F.lit(target_rows_per_task))
        .cast("long")
        .alias("recommended_salt"),
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    hot = (
        per_key.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "key", "cnt")
    )
    return attach_group_stats(hot, stats, None).orderBy("rank")


def recommended_salt(
    df: DataFrame,
    key_col: str,
    *,
    target_rows_per_task: int = 5_000_000,
    cap: int = 1024,
) -> int:
    """Salt fan-out for a salted two-phase aggregate on ``key_col``:
    enough buckets that the hottest key's partial groups fit a task,
    capped (fan-out multiplies the phase-1 group count).  Collects ONE
    scalar (the max per-key count)."""
    mx = key_counts(df, key_col).agg(F.max("cnt")).collect()[0][0] or 0
    return max(1, min(cap, math.ceil(mx / target_rows_per_task)))
