"""Structured Streaming operators (validation, dedup, stateful verdicts)."""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import DataFrame


def start_available_now(
    stream_df: DataFrame,
    checkpoint_location: str,
    sink: Union[str, Callable[[DataFrame, int], None]],
    output_mode: str = "append",
):
    """Start ``stream_df``'s ``availableNow`` writer: process everything
    the source holds now, then stop. Returns the StreamingQuery; callers
    ``drain`` it.

    ``sink`` is a parquet output path or a ``foreachBatch`` function
    ``(batch_df, epoch_id)``. ``checkpoint_location`` has no default: a
    checkpoint resumes whatever run last used it, so a location shared by
    unrelated runs would share their offsets and state.
    """
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
    )
    if callable(sink):
        return writer.foreachBatch(sink).start()
    return writer.format("parquet").start(sink)


def drain(query, timeout_sec: int) -> None:
    """``awaitTermination`` with the timeout treated as an ERROR.

    ``awaitTermination(t)`` returns False on timeout; ignoring that reads a
    half-written sink as the final answer and leaks the still-running query
    (plus its tmp dirs) into the shared session. ``stop()`` runs in a
    ``finally`` so even a hung query is torn down; stopping an
    already-terminated query is a no-op.
    """
    try:
        finished = query.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"streaming query {query.name or query.id} did not drain "
                f"within {timeout_sec}s"
            )
    finally:
        query.stop()
