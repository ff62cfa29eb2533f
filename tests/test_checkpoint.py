"""Checkpoint/resume: partition-granular skip, lineage on spec hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_to_avro_schema_spark.checkpoint import CheckpointStore, run_with_checkpoint
from json_to_avro_schema_spark.compiler.plan import compile_document
from json_to_avro_schema_spark.sources.synthetic import (
    documents_iv_spec,
    generate_documents_iv,
)


def test_checkpoint_resume_skips_completed(spark, tmp_path):
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 2000, violation_pct=5)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")

    r1 = run_with_checkpoint(spark, df, plan, store, "run1", out)
    assert r1.n_partitions_resumed == 0
    assert r1.n_partitions_processed == r1.n_partitions_total > 0

    # second invocation: everything already done → no work scheduled
    r2 = run_with_checkpoint(spark, df, plan, store, "run1", out)
    assert r2.n_partitions_processed == 0
    assert r2.n_partitions_resumed == r2.n_partitions_total
    assert r2.result is None

    # different run_id → full re-run
    r3 = run_with_checkpoint(spark, df, plan, store, "run2", out)
    assert r3.n_partitions_processed == r3.n_partitions_total


def test_checkpoint_partial_resume(spark, tmp_path):
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 2000, violation_pct=5)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")

    # simulate an interrupted run: only half the partitions were completed
    keys = sorted(r["part_key"] for r in df.select("part_key").distinct().collect())
    half = keys[: len(keys) // 2]
    run_with_checkpoint(
        spark, df.filter(F.col("part_key").isin(half)), plan, store, "runX", out
    )

    r = run_with_checkpoint(spark, df, plan, store, "runX", out)
    assert r.n_partitions_resumed == len(half)
    assert r.n_partitions_processed == len(keys) - len(half)

    # verdict sink covers ALL partitions exactly once after resume
    verd = spark.read.parquet(f"{out}/verdicts")
    got = sorted(
        r["part_key"] for r in verd.select("part_key").distinct().collect()
    )
    assert got == keys
    per_part = verd.groupBy("part_key", "check_name").count()
    assert per_part.filter(F.col("count") > 1).count() == 0


def test_sketch_state_resume_merge(spark, tmp_path):
    """North rule: sketches are checkpointed state. A crash+resume run's
    persisted per-partition t-digests, merged, must EQUAL a single-shot
    build — completed partitions are never re-sketched, none are lost."""
    from json_to_avro_schema_spark.checkpoint import merged_state_digest
    from json_to_avro_schema_spark.operators.tdigest import (
        TDigest,
        keyed_digests,
    )

    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 2000, violation_pct=5).withColumn(
        "n_spans", F.coalesce(F.size("spans"), F.lit(0)).cast("double")
    )
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")

    keys = sorted(r["part_key"] for r in df.select("part_key").distinct().collect())
    half = keys[: len(keys) // 2]
    run_with_checkpoint(
        spark, df.filter(F.col("part_key").isin(half)), plan, store,
        "runS", out, sketch_col="n_spans",
    )
    run_with_checkpoint(
        spark, df, plan, store, "runS", out, sketch_col="n_spans"
    )

    state = store.read_state(spark).filter(F.col("run_id") == "runS")
    rows = state.collect()
    assert len(rows) == len(keys)
    assert all(r["state_json"] is not None for r in rows)

    resumed = merged_state_digest(spark, store, "runS", plan.spec_hash)
    direct = TDigest.empty()
    for r in sorted(
        keyed_digests(df, "n_spans", "part_key").collect(),
        key=lambda r: r["part_key"],
    ):
        direct = direct.merge(TDigest.from_json(r["state_json"]))
    assert resumed.n == direct.n == df.count()
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert resumed.quantile(q) == direct.quantile(q)


def test_sketchless_runs_keep_null_state(spark, tmp_path):
    """Default (no sketch_col) writes a null state_json — and old state
    tables without the column read back padded, not crashing."""
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 500, violation_pct=0)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    run_with_checkpoint(spark, df, plan, store, "runN", str(tmp_path / "out"))
    state = store.read_state(spark)
    assert "state_json" in state.columns
    assert state.filter(F.col("state_json").isNotNull()).count() == 0


def test_mixed_schema_state_dir_keeps_sketches(spark, tmp_path):
    """A pre-sketch state dir (7-column files) appended with 8-column
    sketch rows must read back losslessly: without mergeSchema Spark can
    infer from an old footer and silently null out state_json."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    p = str(tmp_path / "ckpt" / "state")
    old = spark.createDataFrame(
        [("r1", "p0", "s", "h", 10, 0, None)],
        "run_id string, part_key string, spec_name string, spec_hash string,"
        " n_rows long, n_fail long, completed_at timestamp",
    )
    old.write.mode("append").parquet(p)
    new = spark.createDataFrame(
        [("r1", "p1", "s", "h", 10, 0, None, '{"digest":1}')],
        "run_id string, part_key string, spec_name string, spec_hash string,"
        " n_rows long, n_fail long, completed_at timestamp, state_json string",
    )
    new.write.mode("append").parquet(p)
    got = {
        r["part_key"]: r["state_json"]
        for r in store.read_state(spark).collect()
    }
    assert got == {"p0": None, "p1": '{"digest":1}'}


def test_keyed_digests_non_string_key(spark):
    """An int partition key must come back with its own type (the state
    join would silently mismatch on a hardcoded string schema)."""
    from json_to_avro_schema_spark.operators.tdigest import keyed_digests

    df = spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (2, 5.0)], "part_key int, v double"
    )
    out = keyed_digests(df, "v", "part_key")
    assert dict(out.dtypes)["part_key"] == "int"
    rows = {r["part_key"]: r["state_json"] for r in out.collect()}
    assert set(rows) == {1, 2} and all(rows.values())


def test_spec_change_invalidates_completion(spark, tmp_path):
    df = generate_documents_iv(spark, 1000, violation_pct=0)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")

    plan_a = compile_document(documents_iv_spec())
    run_with_checkpoint(spark, df, plan_a, store, "run1", out)

    doc_b = documents_iv_spec()
    doc_b["properties"]["doc_id"]["maxLength"] = 20
    plan_b = compile_document(doc_b)
    assert plan_b.spec_hash != plan_a.spec_hash

    r = run_with_checkpoint(spark, df, plan_b, store, "run1", out)
    # new spec version ⇒ lineage mismatch ⇒ everything re-validated
    assert r.n_partitions_processed == r.n_partitions_total


def test_checkpoint_warn_severity_verdicts_truthful(spark, tmp_path):
    """A warn-bearing plan must take the partition_verdicts fallback in
    the checkpoint sink: warn failures never reach the violations sink,
    so the fused derivation would report n_fail=0 for them."""
    spec = documents_iv_spec()
    spec["properties"]["doc_id"]["x-severity"] = "warn"
    # tighten the doc_id pattern so a slice of VALID docs fails ONLY the
    # warn check ('00'-prefixed part keys fail the new prefix rule)
    spec["properties"]["doc_id"]["pattern"] = "^[1-9a-f]"
    plan = compile_document(spec)
    df = generate_documents_iv(spark, 2000, violation_pct=0)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    run_with_checkpoint(spark, df, plan, store, "warn1", out)

    verd = spark.read.parquet(f"{out}/verdicts")
    warn_fail = (
        verd.filter(F.col("check_name").contains("doc_id"))
        .agg(F.sum("n_fail").alias("s"))
        .collect()[0]["s"]
    )
    n_warn_docs = df.filter(~F.col("doc_id").rlike("^[1-9a-f]")).count()
    assert n_warn_docs > 0 and warn_fail == n_warn_docs
    # and none of those rows were treated as violations
    import os
    viol = (
        spark.read.parquet(f"{out}/violations")
        if os.listdir(f"{out}/violations")
        else None
    )
    if viol is not None and len(viol.columns):
        assert viol.filter(~F.col("doc_id").rlike("^[1-9a-f]")).count() == 0


def test_checkpoint_custom_part_key_col(spark, tmp_path):
    """A non-default part_key_col must work end-to-end: the state table's
    fixed 'part_key' column is matched at the anti-join, and both verdict
    branches key their output by the caller's column."""
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 1000, violation_pct=5).withColumnRenamed(
        "part_key", "shard"
    )
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    r1 = run_with_checkpoint(
        spark, df, plan, store, "rk1", out, part_key_col="shard"
    )
    assert r1.n_partitions_processed == r1.n_partitions_total > 0
    verd = spark.read.parquet(f"{out}/verdicts")
    assert "shard" in verd.columns
    # resume sees the completed state through the renamed key
    r2 = run_with_checkpoint(
        spark, df, plan, store, "rk1", out, part_key_col="shard"
    )
    assert r2.n_partitions_processed == 0
    assert r2.n_partitions_resumed == r1.n_partitions_total


def test_checkpoint_restores_overwrite_mode_conf(spark, tmp_path):
    """run_with_checkpoint needs dynamic partition overwrite for its own
    sinks but must not leak it into the session — a later plain
    mode('overwrite') write elsewhere would silently keep stale partition
    dirs (ADVICE r4, medium)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        plan = compile_document(documents_iv_spec())
        df = generate_documents_iv(spark, 500, violation_pct=5)
        store = CheckpointStore(str(tmp_path / "ckpt"))
        run_with_checkpoint(
            spark, df, plan, store, "conf1", str(tmp_path / "out")
        )
        assert spark.conf.get(key) == "static"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_checkpoint_custom_key_with_literal_part_key_column(spark, tmp_path):
    """The warn-severity fallback keys its verdicts by the caller's
    part_key_col; an unrelated pre-existing literal 'part_key' DATA column
    must not produce an ambiguous duplicate (ADVICE r4, low)."""
    spec = documents_iv_spec()
    spec["properties"]["doc_id"]["x-severity"] = "warn"
    spec["properties"]["doc_id"]["pattern"] = "^[1-9a-f]"
    plan = compile_document(spec)
    df = (
        generate_documents_iv(spark, 500, violation_pct=0)
        .withColumnRenamed("part_key", "shard")
        .withColumn("part_key", F.lit("unrelated"))
    )
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    r = run_with_checkpoint(
        spark, df, plan, store, "clash1", out, part_key_col="shard"
    )
    assert r.n_partitions_processed == r.n_partitions_total > 0
    verd = spark.read.parquet(f"{out}/verdicts")
    assert "shard" in verd.columns
    # the warn check's failures are still counted truthfully
    warn_fail = (
        verd.filter(F.col("check_name").contains("doc_id"))
        .agg(F.sum("n_fail").alias("s"))
        .collect()[0]["s"]
    )
    n_warn_docs = df.filter(~F.col("doc_id").rlike("^[1-9a-f]")).count()
    assert n_warn_docs > 0 and warn_fail == n_warn_docs


def test_checkpoint_resume_validates_null_partition_key(spark, tmp_path):
    """Rows whose partition key is null form their own partition: a resume
    validates it (its verdicts equal the plain run's), records a state row
    for it, and a second resume finds nothing pending."""
    from json_to_avro_schema_spark.runner import sink_validation

    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 400, violation_pct=20).withColumn(
        "part_key",
        F.when(F.crc32("doc_id") % 8 != 0, F.col("part_key")),
    )
    assert df.filter(F.col("part_key").isNull()).count() > 0

    def null_verdicts(path):
        return sorted(
            (r["check_name"], r["n_rows"], r["n_fail"], r["pass"])
            for r in spark.read.parquet(f"{path}/verdicts")
            .filter(F.col("part_key").isNull())
            .collect()
        )

    sink_validation(spark, df, plan, str(tmp_path / "plain"))
    want = null_verdicts(tmp_path / "plain")
    assert want and any(n_fail for _, _, n_fail, _ in want)

    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    keys = sorted(
        r["part_key"] for r in df.select("part_key").distinct().collect()
        if r["part_key"] is not None
    )
    run_with_checkpoint(
        spark, df.filter(F.col("part_key").isin(keys[: len(keys) // 2])),
        plan, store, "nullkey", out,
    )
    r = run_with_checkpoint(spark, df, plan, store, "nullkey", out)
    assert r.n_partitions_processed == len(keys) - len(keys) // 2 + 1
    assert null_verdicts(out) == want

    again = run_with_checkpoint(spark, df, plan, store, "nullkey", out)
    assert again.n_partitions_processed == 0


def test_checkpoint_input_with_key_working_column_name(spark, tmp_path):
    """The partition-key selections join the input against a one-column
    key frame; an input column named like that frame's column (here
    ``__key``, in two cases) must not make the join ambiguous."""
    plan = compile_document(documents_iv_spec())
    df = (
        generate_documents_iv(spark, 300, violation_pct=10)
        .withColumn("__key", F.lit("data"))
        .withColumn("___KEY", F.lit(1))
    )
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    r1 = run_with_checkpoint(spark, df, plan, store, "keycol", out)
    assert r1.n_partitions_processed == r1.n_partitions_total > 0
    r2 = run_with_checkpoint(spark, df, plan, store, "keycol", out)
    assert r2.n_partitions_processed == 0
