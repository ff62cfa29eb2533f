"""Partition-granular checkpoint / resume (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

State model — one row per (run_id, part_key) written **after** that
partition's sinks commit:

    run_id, part_key, spec_name, spec_hash, n_rows, n_fail, completed_at,
    state_json

Resume = enumerate the input's partitions, **anti-join** the completed set,
validate only the remainder (SURVEY.md §3 lifecycle).

``state_json`` carries the partition's serialized t-digest sketch when the
caller names a ``sketch_col`` (north rule: "validation state (sketches,
partition lineage, metrics) is checkpointed"): per-partition digests are
built deterministically (operators/tdigest.keyed_digests) and persisted
with the lineage row, so corpus-wide quantiles after any number of
crash/resume cycles come from :func:`merged_state_digest` — merging the
stored partials, never rescanning completed partitions' data.

Sinks and verdict rule are the plain CLI run's (``runner.sink_validation``;
verdicts from the written violations unless a check is ``x-severity:
warn``), in the hive-partitioned layout instead of the flat one.

Atomicity & idempotence:
  * violation/verdict sinks are written with *dynamic partition overwrite*
    (a per-write ``partitionOverwriteMode`` option; the session conf is
    untouched), so a retried partition replaces exactly its own output
    directory — re-running a half-finished partition cannot duplicate rows;
  * the state row is appended only after both sinks return, giving
    write-then-commit ordering (an Iceberg snapshot commit would make this a
    single atomic operation; Iceberg jars aren't in this image, so the store
    is parquet-backed behind the same interface — see ``sources/iceberg.py``).

The completed-set read is tiny (one row per partition × run) and is
broadcast into the anti-join.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compiler.plan import CompiledPlan
from .runner import ValidationResult, partitions_in, sink_validation

STATE_SCHEMA = (
    "run_id string, part_key string, spec_name string, spec_hash string, "
    "n_rows long, n_fail long, completed_at timestamp, state_json string"
)


@dataclass
class CheckpointStore:
    """Parquet-backed state table (same interface an Iceberg metadata table
    would implement)."""

    path: str

    def _state_path(self) -> str:
        return os.path.join(self.path, "state")

    def read_state(self, spark: SparkSession) -> DataFrame:
        p = self._state_path()
        try:
            # mergeSchema: a pre-sketch state dir (7-column files) appended
            # with 8-column rows must not lose state_json to a single-footer
            # schema inference — old and new files coexist losslessly.
            df = spark.read.option("mergeSchema", "true").parquet(p)
        except Exception:
            return spark.createDataFrame([], STATE_SCHEMA)
        if "state_json" not in df.columns:  # pre-sketch state tables
            df = df.withColumn("state_json", F.lit(None).cast("string"))
        return df

    def completed_partitions(
        self, spark: SparkSession, run_id: str, spec_hash: str
    ) -> DataFrame:
        """part_key values already finished for this run under this exact
        spec version (lineage: a spec change invalidates completion)."""
        return (
            self.read_state(spark)
            .filter((F.col("run_id") == run_id) & (F.col("spec_hash") == spec_hash))
            .select("part_key")
            .distinct()
        )

    def mark_completed(self, spark: SparkSession, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self._state_path())


@dataclass
class CheckpointedRun:
    run_id: str
    n_partitions_total: int
    n_partitions_resumed: int   # skipped because already completed
    n_partitions_processed: int
    result: Optional[ValidationResult]


def run_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    plan: CompiledPlan,
    store: CheckpointStore,
    run_id: str,
    out_dir: str,
    *,
    part_key_col: str = "part_key",
    sketch_col: Optional[str] = None,
    sketch_delta: float = 100.0,
) -> CheckpointedRun:
    """Validate only the partitions not yet completed for (run_id, spec_hash);
    sink violations + verdicts partitioned by part_key_col; then commit state.

    ``sketch_col``: numeric column to sketch per partition (t-digest). The
    serialized digest rides the state row (``state_json``), so resumed runs
    keep completed partitions' sketches without rescanning them — merge
    them all with :func:`merged_state_digest`. One extra pass over the
    PENDING rows only (grouped by the partition key)."""
    all_parts = df.select(part_key_col).distinct()
    # the state table's key column is always named part_key
    done = store.completed_partitions(spark, run_id, plan.spec_hash)
    # pending stays a DataFrame end-to-end: at 10^5-10^6 partitions a
    # collect + isin(literal list) would embed one literal per partition in
    # every downstream plan. localCheckpoint materializes the (tiny) key
    # set once so the three reuses below don't re-scan the input.
    pending = partitions_in(
        all_parts, done, part_key_col, "left_anti", keys_col="part_key"
    ).localCheckpoint(eager=True)

    n_total = all_parts.count()
    n_pending = pending.count()
    if n_pending == 0:
        return CheckpointedRun(run_id, n_total, n_total, 0, None)

    # broadcast semi-join on the partition column, null-safe so rows with
    # a null key are validated as their own partition; no driver-side
    # literal plan
    sub = partitions_in(df, pending, part_key_col)
    res = sink_validation(
        spark, sub, plan, out_dir, part_key_col=part_key_col, pending=pending
    )
    verd_path = os.path.join(out_dir, "verdicts")

    # state rows AFTER both sinks committed (per-partition metrics = lineage)
    base = (
        partitions_in(spark.read.parquet(verd_path), pending, part_key_col)
        .groupBy(part_key_col)
        .agg(F.max("n_rows").alias("n_rows"), F.sum("n_fail").alias("n_fail"))
    )
    if sketch_col is not None:
        from .operators.tdigest import keyed_digests

        sketches = keyed_digests(sub, sketch_col, part_key_col, delta=sketch_delta)
        base = base.join(sketches, part_key_col, "left")
    else:
        base = base.withColumn("state_json", F.lit(None).cast("string"))
    metrics = base.select(
        F.lit(run_id).alias("run_id"),
        F.col(part_key_col).alias("part_key"),
        F.lit(plan.spec_name).alias("spec_name"),
        F.lit(plan.spec_hash).alias("spec_hash"),
        "n_rows",
        "n_fail",
        F.current_timestamp().alias("completed_at"),
        "state_json",
    )
    store.mark_completed(spark, metrics)
    return CheckpointedRun(run_id, n_total, n_total - n_pending, n_pending, res)


def merged_state_digest(
    spark: SparkSession, store: CheckpointStore, run_id: str, spec_hash: str
):
    """Corpus-wide quantile sketch from the PERSISTED per-partition digests —
    zero data rescan, however many crash/resume cycles produced the rows.

    Partials are deduplicated per part_key and merged in sorted part_key
    order, so the result is identical whether the state rows came from one
    run or a run interrupted at any partition boundary (pinned in
    tests/test_checkpoint.py::test_sketch_state_resume_merge).
    """
    from .operators.tdigest import TDigest

    rows = (
        store.read_state(spark)
        .filter((F.col("run_id") == run_id) & (F.col("spec_hash") == spec_hash))
        .filter(F.col("state_json").isNotNull())
        .select("part_key", "state_json")
        .collect()
    )
    out = TDigest.empty()
    seen = set()
    for r in sorted(rows, key=lambda r: r["part_key"]):
        if r["part_key"] in seen:  # retried state append — first row wins
            continue
        seen.add(r["part_key"])
        out = out.merge(TDigest.from_json(r["state_json"]))
    return out
