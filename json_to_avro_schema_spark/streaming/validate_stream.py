"""Structured-Streaming validation (incremental path).

The engine is batch-first (checkpoint/resume gives incremental semantics —
SURVEY.md §2.3 'Streaming-only'), but the same CompiledPlan applies directly
to a streaming DataFrame: check columns are stateless projections, so
``readStream → apply_row_checks → sink`` needs no watermark; the
per-partition verdict aggregation runs inside ``foreachBatch`` where each
micro-batch behaves like a bounded batch run (and can reuse the checkpoint
store for exactly-once partition commits).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler.plan import CompiledPlan
from ..runner import apply_row_checks, extract_violations, partition_verdicts
from . import start_available_now


def validate_stream(
    stream_df: DataFrame,
    plan: CompiledPlan,
) -> DataFrame:
    """Stateless streaming projection: original columns + check columns +
    __row_pass. Works in append mode on any streaming source."""
    return apply_row_checks(stream_df, plan.bind_schema(stream_df.schema))


def stream_to_sinks(
    stream_df: DataFrame,
    plan: CompiledPlan,
    *,
    checkpoint_location: str,
    violations_path: Optional[str] = None,
    verdicts_path: Optional[str] = None,
):
    """``availableNow`` stream whose ``foreachBatch`` splits violations and
    verdicts per micro-batch exactly as the batch runner does. Returns the
    StreamingQuery (callers ``drain`` it)."""
    original_columns = stream_df.columns
    plan = plan.bind_schema(stream_df.schema)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        checked = apply_row_checks(batch_df, plan)
        checked = checked.persist()
        try:
            if violations_path:
                extract_violations(checked, original_columns).write.mode(
                    "append"
                ).parquet(violations_path)
            if verdicts_path:
                partition_verdicts(checked, plan).withColumn(
                    "epoch", F.lit(epoch_id)
                ).write.mode("append").parquet(verdicts_path)
        finally:
            checked.unpersist()

    return start_available_now(stream_df, checkpoint_location, handle)
