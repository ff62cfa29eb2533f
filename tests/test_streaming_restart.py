"""Streaming restart/recovery (north rule: interrupted runs resume).

Two guarantees pinned here, both via Structured Streaming's own
checkpointLocation (offset log + state store):

* **No reprocessing after restart** — a foreachBatch validation stream
  stopped after batch 1 and restarted on the same checkpoint processes ONLY
  the files that arrived in between: every input row lands in exactly one
  epoch's verdicts, and the violation sink holds each violating doc once.

* **Stateful operator state survives restart** — the
  ``applyInPandasWithState`` running-verdict totals emitted after a restart
  include the rows folded in BEFORE the stop (state recovered from the
  checkpointed state store, not recomputed from the source).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.streaming import drain, start_available_now
from json_to_avro_schema_spark.compiler.plan import compile_document  # noqa: E402
from json_to_avro_schema_spark.runner import run_validation  # noqa: E402
from json_to_avro_schema_spark.sources.synthetic import (  # noqa: E402
    documents_iv_spec,
    generate_documents_iv,
)
from json_to_avro_schema_spark.streaming.stateful import (  # noqa: E402
    running_partition_verdicts,
)
from json_to_avro_schema_spark.streaming.validate_stream import (  # noqa: E402
    stream_to_sinks,
)


def _two_arrivals(spark, tmp_path):
    """Batch A written before the first run, batch B between runs."""
    src = str(tmp_path / "src")
    a = generate_documents_iv(spark, 2_000, violation_pct=5, seed=42)
    b = generate_documents_iv(spark, 2_000, violation_pct=5, seed=977)
    a.coalesce(2).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    return src, schema, a, b


def test_foreachbatch_restart_processes_only_new_files(spark, tmp_path):
    plan = compile_document(documents_iv_spec())
    src, schema, a, b = _two_arrivals(spark, tmp_path)
    viol_path = str(tmp_path / "violations")
    verd_path = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = stream_to_sinks(
            spark.readStream.schema(schema).parquet(src),
            plan,
            violations_path=viol_path,
            verdicts_path=verd_path,
            checkpoint_location=ckpt,
        )
        drain(q, 180)

    run_once()                                   # sees only batch A
    epochs_run1 = {
        r["epoch"]
        for r in spark.read.parquet(verd_path).select("epoch").distinct().collect()
    }
    b.coalesce(2).write.mode("append").parquet(src)
    run_once()                                   # restart: must see only B

    verd = spark.read.parquet(verd_path)
    # every input row lands in exactly one epoch: per-check n_rows sums to
    # the full corpus, with no double counting of batch A after the restart
    per_check = {
        r["check_name"]: r["n"]
        for r in verd.groupBy("check_name").agg(F.sum("n_rows").alias("n")).collect()
    }
    assert set(per_check.values()) == {4_000}

    # run 2 wrote new epochs and they account for exactly batch B's rows
    run2 = verd.filter(~F.col("epoch").isin(list(epochs_run1)))
    run2_rows = {
        r["check_name"]: r["n"]
        for r in run2.groupBy("check_name").agg(F.sum("n_rows").alias("n")).collect()
    }
    assert set(run2_rows.values()) == {2_000}

    # violation sink: each violating doc exactly once, matching batch runs
    n_viol_batch = (
        run_validation(spark, a, plan).violations.count()
        + run_validation(spark, b, plan).violations.count()
    )
    assert spark.read.parquet(viol_path).count() == n_viol_batch


def test_stateful_running_verdicts_recover_state_on_restart(spark, tmp_path):
    plan = compile_document(documents_iv_spec())
    src, schema, a, b = _two_arrivals(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt_state")

    out_path = str(tmp_path / "running")

    def run_once(run_id):
        stream = spark.readStream.schema(schema).parquet(src)
        out = running_partition_verdicts(stream, plan)

        def sink(batch_df, epoch_id):
            batch_df.withColumn("run", F.lit(run_id)).write.mode(
                "append"
            ).parquet(out_path)

        drain(start_available_now(out, ckpt, sink, "update"), 180)

    run_once(1)                                  # folds batch A into state
    b.coalesce(2).write.mode("append").parquet(src)
    run_once(2)                                  # reads only B; state has A

    # the totals emitted by run 2 must equal the BATCH totals over A ∪ B for
    # every part_key run 2 touched — possible only if batch A's counts were
    # recovered from the checkpointed state store
    run2 = spark.read.parquet(out_path).filter(F.col("run") == 2)
    assert run2.count() > 0
    batch_all = run_validation(spark, a.unionAll(b), plan)
    expect = {
        (r["part_key"], r["check_name"]): (r["n_rows"], r["n_fail"])
        for r in batch_all.verdicts.collect()
    }
    for r in run2.collect():
        key = (r["part_key"], r["check_name"])
        assert expect[key] == (r["n_rows"], r["n_fail"]), key
