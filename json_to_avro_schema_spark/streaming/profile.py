"""Streaming profile history + drift — data observability on a stream.

Per micro-batch, run the SAME one-scan profiler the batch engine uses
(``operators/profile.py:profile_table``) inside ``foreachBatch``, stamp
the rows with the epoch, and append them to a parquet history. The
history is one row per (epoch, column) — vocab-scale, a few hundred
bytes per micro-batch regardless of batch size — so every downstream
run-over-run check is tiny:

- :func:`profile_history_drift` runs ``profile_drift`` between the two
  most recent epochs (did the incoming data change shape since the last
  micro-batch?);
- the history doubles as a metrics repository for
  ``operators/anomaly.py`` rules over any numeric profile field (null
  rate creeping up across epochs, distinct-count spikes).

Scale shape: the expensive part is the per-batch profile scan, which is
the profiler's own bounded-aggregate design (fused agg + capped enum /
uniqueness follow-ups); the history append and the drift join never see
data-proportional rows. ``foreachBatch`` gives exactly-once appends via
the stream checkpoint, same as ``validate_stream.stream_to_sinks``.

Reference analog: none (the reference converts schemas, single-process;
no streaming, no profiler) — this extends SURVEY.md §2.3's streaming
family the way ``streaming/dedup.py`` extends the dedup family.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.profile import profile_drift, profile_frame, profile_table
from . import start_available_now


def profile_stream_to_history(
    stream_df: DataFrame,
    history_path: str,
    checkpoint_location: str,
    columns: Optional[Sequence[str]] = None,
    *,
    exact_distinct: bool = False,
    enum_max: int = 16,
):
    """``availableNow`` stream whose ``foreachBatch`` profiles every
    micro-batch and appends one (epoch, column)-row block to
    ``history_path``. Returns the StreamingQuery (callers ``drain`` it).

    ``exact_distinct`` defaults to False here (unlike the gate queries):
    a stream profile runs forever, so the approx/HLL path is the right
    per-batch cost; flip it on only for bounded replay audits."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        profs = profile_table(
            batch_df, columns, enum_max=enum_max,
            exact_distinct=exact_distinct,
        )
        pf = profile_frame(batch_df, profs).withColumn(
            "epoch", F.lit(int(epoch_id)).cast("long")
        )
        pf.write.mode("append").parquet(history_path)

    return start_available_now(stream_df, checkpoint_location, handle)


def profile_history_drift(
    spark: SparkSession,
    history_path: str,
    *,
    epochs: Optional[tuple] = None,
    **drift_kwargs,
) -> DataFrame:
    """``profile_drift`` between two epochs of a streamed profile history
    (default: the two most recent). The history is one row per
    (epoch, column), so this never touches corpus-scale data."""
    hist = spark.read.parquet(history_path)
    if epochs is None:
        seen = sorted(
            r["epoch"] for r in hist.select("epoch").distinct().collect()
        )
        if len(seen) < 2:
            raise ValueError(
                f"profile history at {history_path} has {len(seen)} "
                f"epoch(s); drift needs two"
            )
        epochs = (seen[-2], seen[-1])
    old = hist.filter(F.col("epoch") == epochs[0]).drop("epoch")
    new = hist.filter(F.col("epoch") == epochs[1]).drop("epoch")
    return profile_drift(old, new, **drift_kwargs)
