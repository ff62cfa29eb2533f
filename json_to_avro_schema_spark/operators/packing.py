"""Token-budget shard packing + data-mixture selection.

Both operators need a *global running sum* of token counts in a
deterministic document order (optionally per group).
:func:`cumulative_tokens` is the value-bounded distributed prefix sum of
:mod:`._prefix` (see that module for the plan shape and why it is exact)
with an exclusive per-group prefix as its driver fold. Non-numeric order
columns have no quantile bounds and fall back to ``repartitionByRange`` +
``spark_partition_id`` with a ``localCheckpoint`` to freeze the sampled
partitioning between the totals and window branches.

On top of it:

* :func:`packed_shards` — ``shard_id = cum_tokens_before div budget``,
  the "pack docs into fixed-token-budget training shards" step.
* :func:`select_mixture` — per-group token targets (e.g. from mixture
  weights × total budget): keep every doc that STARTS before its
  group's target, the deterministic "data mixture" curation step. The
  last kept doc may overshoot its target by less than its own length.
"""

from __future__ import annotations

import logging
from typing import Dict, Mapping, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _prefix

_LOG = logging.getLogger(__name__)

_PID = "__pack_pid"
_BEFORE = "__pack_before"


def cumulative_tokens(
    df: DataFrame,
    token_col: str,
    order_col: str,
    *,
    by: Optional[str] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Add ``cum_tokens_before``: the sum of ``token_col`` over all rows
    earlier in ``order_col`` order (within ``by`` when given, else
    globally). ``order_col`` must be a non-null total order (unique
    values) — ties across a pid boundary would make the prefix ambiguous.
    Rows with a NULL ``by`` value are dropped (the offset join is an
    equi-join); filter or fill nulls first.

    ``num_partitions`` requests pid-bucket count; both it and the derived
    default are capped at ``_prefix._MAX_PID_BUCKETS`` (4096) — results are
    identical at any bucket count, only window parallelism changes. A
    non-numeric ``order_col`` takes a documented slow path (full-input
    localCheckpoint; a warning is logged)."""
    for c in (_PID, _BEFORE):
        if c in df.columns:
            raise ValueError(f"input already has working column {c!r}")

    spark = df.sparkSession
    n_parts = _prefix.bucket_count(spark, num_partitions)
    part = _prefix.with_pid(df, order_col, _PID, n_parts)
    if part is None:
        # the expensive path: a full wide-row localCheckpoint
        # materialization just to freeze the sampled range partitioning —
        # make hitting it with a non-numeric order column a VISIBLE choice
        _LOG.warning(
            "cumulative_tokens: order column %r is non-numeric; falling "
            "back to repartitionByRange + localCheckpoint, which "
            "materializes the full input once. Prefer a numeric total "
            "order (e.g. a monotonic doc sequence number) at scale.",
            order_col,
        )
        range_keys = ([F.col(by)] if by else []) + [F.col(order_col)]
        sort_keys = ([by] if by else []) + [order_col]
        part = (
            df.repartitionByRange(n_parts, *range_keys)
            .sortWithinPartitions(*sort_keys)
            .withColumn(_PID, F.spark_partition_id())
        )
        # freeze the sampled partitioning so the totals aggregate and the
        # final window see identical pids
        part = part.localCheckpoint(eager=False)

    group_cols = [_PID] + ([by] if by else [])
    totals = _prefix.pid_totals(part, _PID, F.sum(token_col).alias("t"), by=by)
    acc: Dict[object, int] = {}
    rows = []
    for row in totals:  # ordered by (pid) within each group's pid sequence
        g = row[by] if by else None
        rows.append((row[_PID], g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + (row["t"] or 0)
    if by:
        by_type = dict(df.dtypes)[by]
        offset_df = spark.createDataFrame(
            rows, f"{_PID} int, {by} {by_type}, {_BEFORE} long"
        )
        join_on = [_PID, by]
    else:
        offset_df = spark.createDataFrame(
            [(pid, off) for pid, _, off in rows], f"{_PID} int, {_BEFORE} long"
        )
        join_on = [_PID]

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return (
        part.join(F.broadcast(offset_df), join_on)
        .withColumn("cum_tokens_before", F.col(_BEFORE) + within)
        .drop(_PID, _BEFORE)
    )


def packed_shards(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    *,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Add ``cum_tokens_before`` and ``shard_id = cum_tokens_before div
    budget`` (integral ``div``, not float floor — exact at any magnitude)."""
    if budget <= 0:
        raise ValueError("budget must be > 0")
    cum = cumulative_tokens(
        df, token_col, order_col, num_partitions=num_partitions
    )
    return cum.withColumn(
        "shard_id", F.expr(f"cum_tokens_before div {int(budget)}")
    )


def shard_manifest(
    df: DataFrame, token_col: str, order_col: str, budget: int
) -> DataFrame:
    """Per-shard manifest: doc count, token total, and the [min, max]
    order-key span — what a downstream writer consumes to emit one
    training file per shard."""
    packed = packed_shards(df, token_col, order_col, budget)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_col).alias("sum_tokens"),
            F.min(order_col).alias("first_key"),
            F.max(order_col).alias("last_key"),
        )
        .orderBy("shard_id")
    )


def select_mixture(
    df: DataFrame,
    token_col: str,
    order_col: str,
    by: str,
    targets: Mapping[object, int],
    *,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Deterministic data-mixture selection: keep every row whose group
    prefix (``cum_tokens_before`` within ``by``, ordered by ``order_col``)
    is below that group's token target. Groups absent from ``targets``
    contribute nothing. The kept set is take-while-shaped: the last kept
    doc of a group may overshoot its target by < its own token count."""
    if any(t < 0 for t in targets.values()):
        raise ValueError("targets must be >= 0")
    cum = cumulative_tokens(
        df, token_col, order_col, by=by, num_partitions=num_partitions
    )
    spark = df.sparkSession
    by_type = dict(df.dtypes)[by]
    target_df = F.broadcast(
        spark.createDataFrame(
            list(targets.items()), f"{by} {by_type}, __target long"
        )
    )
    return (
        cum.join(target_df, by)
        .filter(F.col("cum_tokens_before") < F.col("__target"))
        .drop("__target")
    )


def temperature_targets(
    df: DataFrame,
    token_col: str,
    by: str,
    *,
    total_tokens: int,
    temperature: float = 1.0,
) -> dict:
    """Per-group token targets for temperature-scaled mixture sampling
    (the multilingual/multi-source rebalancing rule of mT5/XLM-R:
    ``p_i ∝ n_i^(1/T)``).  T=1 keeps natural proportions; T→∞ approaches
    uniform; T<1 sharpens toward the biggest sources.  Feed the result to
    :func:`select_mixture`.

    One aggregation (per-group token totals — O(groups) driver state,
    same bound as select_mixture's own target map); targets are floored
    and never exceed a group's available tokens."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    if total_tokens < 0:
        raise ValueError("total_tokens must be >= 0")
    totals = {
        r["g"]: int(r["n"])
        for r in df.groupBy(F.col(by).alias("g"))
        .agg(F.sum(token_col).alias("n"))
        .collect()
    }
    if not totals:
        return {}
    weights = {g: n ** (1.0 / temperature) for g, n in totals.items() if n > 0}
    z = sum(weights.values()) or 1.0
    return {
        g: min(int(total_tokens * w / z), totals[g])
        for g, w in weights.items()
    }


def write_packed_shards(
    df: DataFrame,
    out_path: str,
    token_col: str,
    order_col: str,
    budget: int,
    *,
    num_partitions: Optional[int] = None,
    mode: str = "error",
) -> int:
    """Materialize :func:`packed_shards` as the physical training layout:
    one ``shard_id=N`` parquet directory per shard, each holding exactly
    its shard's rows — the shape data loaders consume (read one shard
    directory = one token-budget-bounded unit of work).

    Shape: the prefix-sum assignment runs as usual, then ONE shuffle on
    ``shard_id`` colocates each shard into a single task before the
    partitioned write — so every shard directory is one writer's output
    (no tiny-file spray), and a shard's size is bounded by ``budget``
    tokens regardless of corpus size. Returns the number of shards
    written (counted from the written directory — valid because append
    mode is rejected: shard numbering restarts at 0 every call, so
    appending would interleave two runs' rows inside the same
    ``shard_id=N`` directories; write each snapshot to its own path).
    """
    if mode == "append":
        raise ValueError(
            "write_packed_shards does not support mode='append': shard ids "
            "restart at 0 per call and would collide with prior output — "
            "write each snapshot to its own path"
        )
    shards = packed_shards(
        df, token_col, order_col, budget, num_partitions=num_partitions
    )
    spark = df.sparkSession
    # partitionOverwriteMode=dynamic left set session-wide (e.g. by a
    # checkpointed validation run) would make mode='overwrite' replace
    # only the shard_id dirs THIS run produces, leaving a previous larger
    # run's extra shards interleaved in the output — the same corruption
    # the append rejection above guards against, and it breaks the
    # read-back shard count. Pin static for this write, restore after.
    _MODE_KEY = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(_MODE_KEY, None)
    spark.conf.set(_MODE_KEY, "static")
    try:
        (
            shards.repartition(F.col("shard_id"))
            .write.mode(mode)
            .partitionBy("shard_id")
            .parquet(out_path)
        )
    finally:
        if prev_mode is None:
            spark.conf.unset(_MODE_KEY)
        else:
            spark.conf.set(_MODE_KEY, prev_mode)
    return (
        spark.read.parquet(out_path)
        .select("shard_id").distinct().count()
    )
