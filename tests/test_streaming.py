"""Structured-Streaming validation: the same CompiledPlan over a streaming
source must produce exactly the batch runner's violations and verdicts
(micro-batch == bounded batch inside foreachBatch)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.streaming import drain, start_available_now
from json_to_avro_schema_spark.compiler.plan import compile_document  # noqa: E402
from json_to_avro_schema_spark.runner import ROW_PASS, run_validation  # noqa: E402
from json_to_avro_schema_spark.sources.synthetic import (  # noqa: E402
    documents_iv_spec,
    generate_documents_iv,
)
from json_to_avro_schema_spark.streaming.validate_stream import (  # noqa: E402
    stream_to_sinks,
    validate_stream,
)


@pytest.fixture(scope="module")
def stream_setup(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "src")
    df = generate_documents_iv(spark, 4_000, violation_pct=5)
    df.write.parquet(src)
    schema = spark.read.parquet(src).schema
    return base, src, schema


def test_stream_matches_batch(spark, stream_setup):
    base, src, schema = stream_setup
    plan = compile_document(documents_iv_spec())
    viol_path = str(base / "violations")
    verd_path = str(base / "verdicts")

    stream_df = spark.readStream.schema(schema).parquet(src)
    q = stream_to_sinks(
        stream_df,
        plan,
        violations_path=viol_path,
        verdicts_path=verd_path,
        checkpoint_location=str(base / "ckpt"),
    )
    drain(q, 120)

    batch = run_validation(spark, spark.read.parquet(src), plan)
    b_viol = {r["doc_id"] for r in batch.violations.select("doc_id").collect()}
    s_viol = {
        r["doc_id"]
        for r in spark.read.parquet(viol_path).select("doc_id").collect()
    }
    assert s_viol == b_viol and len(b_viol) > 0

    # verdict fail totals agree per check (streamed epochs sum to batch)
    b_verd = {
        (r["check_name"]): r["f"]
        for r in batch.verdicts.groupBy("check_name")
        .agg(F.sum("n_fail").alias("f"))
        .collect()
    }
    s_verd = {
        (r["check_name"]): r["f"]
        for r in spark.read.parquet(verd_path)
        .groupBy("check_name")
        .agg(F.sum("n_fail").alias("f"))
        .collect()
    }
    assert s_verd == b_verd


def test_validate_stream_is_streaming_projection(spark, stream_setup):
    _, src, schema = stream_setup
    plan = compile_document(documents_iv_spec())
    stream_df = spark.readStream.schema(schema).parquet(src)
    checked = validate_stream(stream_df, plan)
    assert checked.isStreaming
    assert ROW_PASS in checked.columns


def test_streaming_dedup_cross_batch_state(spark, tmp_path):
    """Duplicates arriving in a LATER micro-batch must be dropped by the
    state store, not just within-batch dropDuplicates."""
    from json_to_avro_schema_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(4, "ALPHA  beta gamma"), (5, "epsilon zeta")],  # 4 ≡ 1 normalized
        "doc_id long, text string",
    )
    # two appends into ONE source dir: the file source orders by mtime,
    # so batch1's part-file is micro-batch 1, batch2's is micro-batch 2
    batch1.coalesce(1).write.mode("append").parquet(src)
    first_files = {
        f for f in os.listdir(src) if f.endswith(".parquet")
    }
    batch2.coalesce(1).write.mode("append").parquet(src)
    # the source orders files by mtime; same-second writes could tie, so
    # stagger explicitly to make batch1 strictly first
    import time
    now = time.time()
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            offset = -60 if f in first_files else 0
            os.utime(os.path.join(src, f), (now + offset, now + offset))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_available_now(
        dedup_stream(stream), str(tmp_path / "ckpt"), str(tmp_path / "kept")
    )
    drain(q, 120)
    kept = spark.read.parquet(str(tmp_path / "kept"))
    rows = kept.collect()
    # 3 distinct normalized texts survive; doc 4 (cross-batch dup of 1/2)
    # and one of 1/2 (within-batch dup) are dropped
    assert len(rows) == 3
    assert len({r["fingerprint"] for r in rows}) == 3
    assert 5 in {r["doc_id"] for r in rows}
    assert {r["doc_id"] for r in rows} & {1, 2}  # one alpha survivor
    assert 4 not in {r["doc_id"] for r in rows}


def test_streaming_dedup_within_watermark_expires_state(spark, tmp_path):
    """Bounded-retention dedup (dropDuplicatesWithinWatermark, 1h delay):
    a duplicate arriving while the first copy's state is live is dropped
    (guaranteed for events within the delay of each other); once the
    watermark passes first-seen + delay the state is evicted and a later
    duplicate is KEPT — the documented trade for state that stops growing.

    Exactly WHICH post-eviction batch re-admits the key is end-of-batch
    eviction timing with the one-batch-lagged watermark (measured on this
    Spark: lookup is key-existence, drops don't refresh state, eviction at
    the end of the first batch whose operating watermark >= expiry) — the
    test pins the invariants, not the batch index: the in-delay duplicate
    never survives, and exactly one late copy does.
    """
    import time

    from json_to_avro_schema_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, "alpha beta gamma", "2024-01-01 00:00:00")],
        [(2, "alpha beta gamma", "2024-01-01 00:30:00")],  # in-delay dup
        [(3, "watermark advancer", "2024-01-01 05:00:00")],
        [(4, "alpha beta gamma", "2024-01-01 05:30:00")],  # post-eviction
        [(5, "alpha beta gamma", "2024-01-01 05:40:00")],  # post-eviction
    ]
    file_batch = {}
    for i, rows in enumerate(batches):
        before = set(os.listdir(src))
        spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                file_batch[f] = i
    now = time.time()
    for f, i in file_batch.items():
        os.utime(os.path.join(src, f), (now + 60 * i, now + 60 * i))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    q = start_available_now(
        dedup_stream(stream, within_watermark_col="ts"),
        str(tmp_path / "ckpt"), str(tmp_path / "kept"),
    )
    drain(q, 180)
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    }
    assert 1 in kept and 3 in kept
    assert 2 not in kept                      # in-delay dup: guaranteed drop
    assert len(kept & {4, 5}) == 1            # state expired: one late copy
    assert len(kept) == 3


def test_streaming_profile_history_drift(spark, tmp_path):
    """Per-micro-batch profiling appends a vocab-scale history; drift
    between the two most recent epochs flags the planted shape change."""
    import os
    import time

    from json_to_avro_schema_spark.streaming.profile import (
        profile_history_drift,
        profile_stream_to_history,
    )

    src = str(tmp_path / "src")
    # batch 1: tight range, enum {a, b}, null-free
    spark.createDataFrame(
        [(i, float(i % 50), ["a", "b"][i % 2]) for i in range(200)],
        "id long, v double, cat string",
    ).coalesce(1).write.mode("append").parquet(src)
    first = {f for f in os.listdir(src) if f.endswith(".parquet")}
    # batch 2: range expanded, new enum value, nulls appear in v
    spark.createDataFrame(
        [
            (i, None if i % 4 == 0 else float(i % 200),
             ["a", "b", "c"][i % 3])
            for i in range(200)
        ],
        "id long, v double, cat string",
    ).coalesce(1).write.mode("append").parquet(src)
    # pin micro-batch ORDER (FileStreamSource sorts by mtime)
    now = time.time()
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            bump = 0 if f in first else 600
            os.utime(os.path.join(src, f), (now + bump, now + bump))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = profile_stream_to_history(
        stream, str(tmp_path / "hist"), str(tmp_path / "ckpt"),
        exact_distinct=True,
    )
    drain(q, 180)

    hist = spark.read.parquet(str(tmp_path / "hist"))
    assert hist.select("epoch").distinct().count() == 2
    # one row per (epoch, column) — vocab-scale by construction
    assert hist.count() == 2 * 3

    d = {
        r["column"]: r
        for r in profile_history_drift(
            spark, str(tmp_path / "hist")
        ).collect()
    }
    assert d["v"]["null_jump"] and d["v"]["range_expanded"]
    assert d["cat"]["enum_widened"]
    assert d["id"]["status"] == "kept" and not d["id"]["drifted"]

    # fewer than two epochs is an explicit error, not a silent empty frame
    import pytest as _pytest

    solo = str(tmp_path / "solo")
    hist.filter(F.col("epoch") == 0).write.parquet(solo)
    with _pytest.raises(ValueError, match="needs two"):
        profile_history_drift(spark, solo)


def test_streaming_url_dedup_cross_batch_state(spark, tmp_path):
    """A refetch arriving in a LATER micro-batch under a different surface
    form (www/case/port/param-order) must be dropped by the state store
    keyed on the canonical-URL hash."""
    from json_to_avro_schema_spark.streaming.dedup import url_dedup_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch1 = spark.createDataFrame(
        [(1, "https://a.com/x?b=2&a=1"), (2, "https://a.com/y")],
        "doc_id long, url string",
    )
    batch2 = spark.createDataFrame(
        [(3, "HTTPS://WWW.A.com:443/x/?a=1&b=2&utm_source=f"),  # ≡ 1
         (4, "https://b.org/z")],
        "doc_id long, url string",
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    first_files = {f for f in os.listdir(src) if f.endswith(".parquet")}
    batch2.coalesce(1).write.mode("append").parquet(src)
    import time as _t
    now = _t.time()
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            offset = -60 if f in first_files else 0
            os.utime(os.path.join(src, f), (now + offset, now + offset))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_available_now(
        url_dedup_stream(stream), str(tmp_path / "ckpt"), str(tmp_path / "kept")
    )
    drain(q, 120)
    kept = spark.read.parquet(str(tmp_path / "kept"))
    rows = kept.collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 4}
    assert {"canonical_url", "url_hash"} <= set(kept.columns)
    assert len({r["url_hash"] for r in rows}) == 3
