"""Stateful Structured-Streaming operators.

Three surfaces the batch engine cannot express:

* **Watermarked windowed metrics** — event-time tumbling-window aggregates
  with bounded late-data state (``withWatermark`` + ``window()``), the
  streaming analog of the per-partition verdict table: one row per
  (window, group) once the watermark closes the window. Pure built-in
  operators — Catalyst manages the window state store.

* **Watermarked gap sessions** — per-user ``F.session_window`` rollups,
  the streaming form of ``operators.temporal.session_stats`` whose state
  is bounded by OPEN sessions, not per-user history length.

* **Running per-partition verdict totals** — a custom stateful operator via
  ``applyInPandasWithState`` (Arrow-batched, no per-row Python): per
  ``part_key`` the state is ``(n_rows, fail_0, …, fail_k)``; every
  micro-batch folds its rows into the state and emits the updated running
  totals. This is the streaming form of ``runner.partition_verdicts`` —
  cumulative across ALL micro-batches, which a stateless foreachBatch
  aggregation cannot provide without re-reading its own sink.

Scale notes: state is one tiny tuple per (part_key) — bounded by partition
count, not row count; the windowed path's state is bounded by
(windows in watermark horizon × groups). Both shuffle only on their group
keys, identically to the batch verdict agg.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..compiler.plan import CompiledPlan
from ..runner import CHECK_PREFIX, apply_row_checks


def windowed_metrics(
    stream_df: DataFrame,
    *,
    ts_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    group_col: Optional[str] = None,
    value_col: Optional[str] = None,
) -> DataFrame:
    """Event-time tumbling-window counts (plus value stats when given) with
    a watermark bounding late data. Append-mode compatible: a row is final
    — and emitted exactly once — when the watermark passes its window end.
    """
    keys = [F.window(F.col(ts_col), window_duration).alias("win")]
    if group_col:
        keys.append(F.col(group_col))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col:
        aggs += [
            F.sum(F.col(value_col).isNull().cast("long")).alias("n_null"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
            F.avg(value_col).alias("mean_v"),
        ]
    out = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(*keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *([F.col(group_col)] if group_col else []),
        *[F.col(c) for c in out.columns if c not in ("win",) and c != group_col],
    )


def session_metrics(
    stream_df: DataFrame,
    *,
    ts_col: str,
    gap_duration: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    user_col: str = "user_id",
) -> DataFrame:
    """Event-time GAP sessions per user (``F.session_window``) — the
    streaming counterpart of :func:`..operators.temporal.session_stats`
    for unbounded per-user histories, where the batch window-over-ts
    approach would hold a user's whole history in one sort.

    Emits one row per closed session: (user, session start/end epoch-µs
    over the MEMBER events, n_events).  Append-mode semantics: a session
    is final once the watermark passes its window end (last event +
    gap), so Catalyst's session state store holds only open sessions
    inside the watermark horizon — state is bounded by active users, not
    history length.

    Boundary contract (pinned by test, not assumed): ``session_window``
    merges an event whose start equals the session's current end
    (last event + gap) — a gap EXACTLY equal to ``gap_duration`` stays in
    the session, identical to the batch ``sessionize`` rule (new session
    only when gap > threshold), so batch and stream agree row-for-row on
    closed sessions.
    """
    win = F.session_window(F.col(ts_col), gap_duration)
    out = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(win, F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min(ts_col)).alias("start_us"),
            F.unix_micros(F.max(ts_col)).alias("end_us"),
        )
    )
    return out.select(
        F.col(user_col),
        "start_us",
        "end_us",
        (F.col("end_us") - F.col("start_us")).alias("duration_us"),
        "n_events",
    )


def _verdict_output_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("part_key", T.StringType()),
            T.StructField("check_name", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_fail", T.LongType()),
            T.StructField("pass", T.BooleanType()),
        ]
    )


def _state_schema(n_checks: int) -> T.StructType:
    fields = [T.StructField("n_rows", T.LongType())]
    fields += [T.StructField(f"fail_{i}", T.LongType()) for i in range(n_checks)]
    return T.StructType(fields)


def running_partition_verdicts(
    stream_df: DataFrame,
    plan: CompiledPlan,
) -> DataFrame:
    """Cumulative per-(part_key, check) verdicts over the whole stream via
    ``applyInPandasWithState``.

    Each micro-batch updates the per-partition state
    ``(n_rows, fail_0, …, fail_{k-1})`` from the Arrow-batched check
    columns (vectorized pandas sums — no per-row Python) and emits the
    running totals in the same long form as ``runner.partition_verdicts``.
    Output mode must be ``update``.
    """
    plan = plan.bind_schema(stream_df.schema)
    checked = apply_row_checks(stream_df, plan)
    check_cols: List[str] = [CHECK_PREFIX + c.name for c in plan.row_checks]
    check_names: List[str] = [c.name for c in plan.row_checks]
    k = len(check_cols)

    def fold(key, pdfs, state: GroupState):
        part_key = key[0]
        if state.exists:
            prior = state.get
            n_rows = prior[0]
            fails = list(prior[1:])
        else:
            n_rows = 0
            fails = [0] * k
        for pdf in pdfs:
            n_rows += len(pdf)
            for i, c in enumerate(check_cols):
                # check columns are fail-closed booleans (never null)
                fails[i] += int((~pdf[c].astype(bool)).sum())
        state.update((n_rows, *fails))
        yield pd.DataFrame(
            {
                "part_key": [part_key] * k,
                "check_name": check_names,
                "n_rows": [n_rows] * k,
                "n_fail": fails,
                "pass": [f == 0 for f in fails],
            }
        )

    return (
        checked.select("part_key", *check_cols)
        .groupBy("part_key")
        .applyInPandasWithState(
            fold,
            outputStructType=_verdict_output_schema(),
            stateStructType=_state_schema(k),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
