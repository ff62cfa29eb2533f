"""Token-budget shard packing: the distributed prefix sum must be
bit-identical to the naive single-partition window at any parallelism."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from json_to_avro_schema_spark.operators.packing import (
    packed_shards,
    shard_manifest,
)


def _input(spark, n=5_000, seed_mod=97):
    # deterministic pseudo-random token counts, ids deliberately shuffled
    # across input partitions so partition order != global order
    return (
        spark.range(n)
        .repartition(16)
        .selectExpr("id AS doc_id", f"(id * 37) % {seed_mod} + 1 AS n_tokens")
    )


def _naive(df, budget):
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return df.select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias(
            "cum_tokens_before"
        ),
    ).withColumn("shard_id", F.expr("cum_tokens_before div 1000"))


def test_packed_shards_matches_naive_window(spark):
    df = _input(spark)
    got = {
        r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
        for r in packed_shards(df, "n_tokens", "doc_id", 1000).collect()
    }
    want = {
        r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
        for r in _naive(df, 1000).collect()
    }
    assert got == want


def test_packed_shards_partition_independent(spark):
    df = _input(spark, n=2_000)
    a = {
        r["doc_id"]: r["shard_id"]
        for r in packed_shards(
            df, "n_tokens", "doc_id", 500, num_partitions=3
        ).collect()
    }
    b = {
        r["doc_id"]: r["shard_id"]
        for r in packed_shards(
            df, "n_tokens", "doc_id", 500, num_partitions=29
        ).collect()
    }
    assert a == b


def test_shard_manifest_budget_and_continuity(spark):
    df = _input(spark, n=3_000)
    rows = shard_manifest(df, "n_tokens", "doc_id", 2_000).collect()
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    assert sum(r["n_docs"] for r in rows) == 3_000
    # each shard's token total stays within budget + one max-size doc
    # (a doc straddling the boundary lands in the shard where it starts)
    for r in rows:
        assert r["sum_tokens"] <= 2_000 + 97
    # order-key spans are disjoint and increasing
    for prev, cur in zip(rows, rows[1:]):
        assert prev["last_key"] < cur["first_key"]


def test_packed_shards_rejects_bad_args(spark):
    df = _input(spark, n=10)
    with pytest.raises(ValueError):
        packed_shards(df, "n_tokens", "doc_id", 0)
    with pytest.raises(ValueError):
        packed_shards(
            df.withColumn("__pack_pid", F.lit(1)), "n_tokens", "doc_id", 10
        )


def test_cumulative_tokens_grouped_matches_window(spark):
    from json_to_avro_schema_spark.operators.packing import cumulative_tokens

    df = _input(spark, n=3_000).withColumn(
        "grp", F.expr("concat('g', doc_id % 7)")
    )
    got = {
        r["doc_id"]: r["cum_tokens_before"]
        for r in cumulative_tokens(
            df, "n_tokens", "doc_id", by="grp", num_partitions=11
        ).collect()
    }
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r["doc_id"]: r["cb"]
        for r in df.select(
            "doc_id",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cb"),
        ).collect()
    }
    assert got == want


def test_select_mixture_take_while_semantics(spark):
    from json_to_avro_schema_spark.operators.packing import select_mixture

    rows = [
        # grp a: tokens 10, 20, 30 → target 30 keeps docs 1,2 (cb 0,10;
        # doc 3 starts at cb=30, not < 30)
        (1, "a", 10), (2, "a", 20), (3, "a", 30),
        # grp b: target 1 keeps only the first doc
        (4, "b", 100), (5, "b", 100),
        # grp c: absent from targets → dropped entirely
        (6, "c", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, n_tokens long")
    picked = select_mixture(
        df, "n_tokens", "doc_id", "grp", {"a": 30, "b": 1}
    )
    assert sorted(r["doc_id"] for r in picked.collect()) == [1, 2, 4]
    with pytest.raises(ValueError):
        select_mixture(df, "n_tokens", "doc_id", "grp", {"a": -1})


def test_packing_hypothesis_differential(spark):
    """Random token counts, budgets, and partition counts vs the naive
    global window — property-based differential."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        counts=st.lists(st.integers(min_value=0, max_value=500),
                        min_size=1, max_size=60),
        budget=st.integers(min_value=1, max_value=300),
        n_parts=st.integers(min_value=1, max_value=9),
    )
    def check(counts, budget, n_parts):
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(counts)],
            "doc_id long, n_tokens long",
        ).repartition(4)
        got = {
            r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
            for r in packed_shards(
                df, "n_tokens", "doc_id", budget, num_partitions=n_parts
            ).collect()
        }
        cum, want = 0, {}
        for i, c in enumerate(counts):
            want[i] = (cum, cum // budget)
            cum += c
        assert got == want

    check()


def test_pid_bucket_count_capped(spark, monkeypatch):
    """A huge num_partitions request (10^5-core-cluster default) must be
    capped at _MAX_PID_BUCKETS: the P-1 quantile bounds are plan literals
    scanned per row, so P must not track cluster size. Results unchanged."""
    from json_to_avro_schema_spark.operators import _prefix

    seen = []
    orig = _prefix._order_bounds

    def spy(df, order_col, n_parts):
        seen.append(n_parts)
        return orig(df, order_col, n_parts)

    monkeypatch.setattr(_prefix, "_order_bounds", spy)
    df = _input(spark, n=2_000)
    got = {
        r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
        for r in packed_shards(
            df, "n_tokens", "doc_id", 500, num_partitions=100_000
        ).collect()
    }
    want = {
        r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
        for r in _naive(df, 500).selectExpr(
            "doc_id", "n_tokens", "cum_tokens_before",
            "cum_tokens_before div 500 AS shard_id",
        ).collect()
    }
    assert got == want
    assert seen == [_prefix._MAX_PID_BUCKETS]


def test_two_level_pid_scan_matches_flat(spark):
    """Past _TWO_LEVEL_MIN bounds the pid expression switches to the
    sqrt-blocked two-level scan — it must agree with the flat definition
    pid(x) = #{b <= x} everywhere, including duplicate bounds, values
    below/above every bound, and exact bound hits."""
    from json_to_avro_schema_spark.operators import _prefix

    import random

    rnd = random.Random(7)
    bounds = sorted(rnd.randrange(0, 500) for _ in range(300))  # dupes likely
    assert len(bounds) > _prefix._TWO_LEVEL_MIN
    vals = list(range(-3, 503))
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r["x"]: r["pid"]
        for r in df.select(
            "x", F.expr(_prefix._pid_sql("x", bounds)).alias("pid")
        ).collect()
    }
    for v in vals:
        want = sum(1 for b in bounds if b <= v)
        assert got[v] == want, (v, got[v], want)


def test_packed_shards_two_level_path_matches_naive(spark):
    """End-to-end through the two-level expression: force >128 buckets on
    real data and compare with the naive global window."""
    df = _input(spark, n=4_000)
    got = {
        r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
        for r in packed_shards(
            df, "n_tokens", "doc_id", 1000, num_partitions=700
        ).collect()
    }
    want = {
        r["doc_id"]: (r["cum_tokens_before"], r["shard_id"])
        for r in _naive(df, 1000).collect()
    }
    assert got == want


def test_non_numeric_order_fallback_warns(spark, caplog):
    """String order column hits the localCheckpoint fallback — loudly; the
    numeric path stays silent."""
    import logging

    from json_to_avro_schema_spark.operators.packing import cumulative_tokens

    df = spark.createDataFrame(
        [(f"k{i:03d}", 10) for i in range(20)], "okey string, n_tokens long"
    )
    with caplog.at_level(logging.WARNING,
                         logger="json_to_avro_schema_spark.operators.packing"):
        out = cumulative_tokens(df, "n_tokens", "okey", num_partitions=3)
        rows = {r["okey"]: r["cum_tokens_before"] for r in out.collect()}
    assert rows["k000"] == 0 and rows["k019"] == 190
    assert any("non-numeric" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="json_to_avro_schema_spark.operators.packing"):
        cumulative_tokens(
            _input(spark, n=50), "n_tokens", "doc_id", num_partitions=3
        ).collect()
    assert not any("non-numeric" in r.message for r in caplog.records)


def test_packing_plan_shapes(spark):
    """Global offsets are a plan literal (no join at all); the grouped
    offset and target joins must broadcast (O(P × groups)/O(groups) rows)
    — a SortMergeJoin there would sort the full data side."""
    from json_to_avro_schema_spark.operators.packing import select_mixture

    df = _input(spark, n=10_000)
    plan = packed_shards(df, "n_tokens", "doc_id", 1000)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Join" not in plan
    grouped = df.withColumn("grp", F.expr("concat('g', doc_id % 3)"))
    plan2 = select_mixture(
        grouped, "n_tokens", "doc_id", "grp", {"g0": 100, "g1": 100}
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan2
    assert plan2.count("BroadcastHashJoin") >= 2  # offsets + targets


def test_temperature_targets(spark):
    from json_to_avro_schema_spark.operators.packing import (
        select_mixture,
        temperature_targets,
    )

    rows = [("a", i, 10) for i in range(9)] + [("b", i, 10) for i in range(1)]
    df = spark.createDataFrame(rows, "src string, ord int, toks int")
    # T=1: natural proportions 90/10
    t1 = temperature_targets(df, "toks", "src", total_tokens=50, temperature=1.0)
    assert t1 == {"a": 45, "b": 5}
    # T->inf flattens toward uniform, capped by availability
    t_flat = temperature_targets(df, "toks", "src", total_tokens=50, temperature=100.0)
    assert t_flat["b"] == 10  # capped at the group's available tokens
    assert abs(t_flat["a"] - 25) <= 1
    # targets feed select_mixture directly
    kept = select_mixture(df, "toks", "ord", "src", t1)
    got = {r["src"]: r["n"] for r in kept.groupBy("src").count().withColumnRenamed("count", "n").collect()}
    assert got == {"a": 5, "b": 1}  # 45//10 rounds up to 5 kept docs (take-while)
    import pytest

    with pytest.raises(ValueError):
        temperature_targets(df, "toks", "src", total_tokens=10, temperature=0)


def test_int_order_constraint_inference_regression(spark):
    """An IntegerType order column used to make Catalyst's
    InferFiltersFromConstraints push the pid HOF-lambda expression onto
    the offset-join side (where the order column doesn't exist),
    producing an unresolvable !Filter and
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at task binding. The
    nondeterminism barrier in cumulative_tokens suppresses the inference;
    this pins both the execution and the plan."""
    from json_to_avro_schema_spark.operators.packing import cumulative_tokens

    rows = [("a", i, 10) for i in range(9)] + [("b", 9, 10)]
    df = spark.createDataFrame(rows, "src string, ord int, toks int")
    out = cumulative_tokens(df, "toks", "ord", by="src")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "!Filter" not in plan, plan
    got = {(r["src"], r["ord"]): r["cum_tokens_before"] for r in out.collect()}
    assert got[("a", 0)] == 0 and got[("a", 8)] == 80 and got[("b", 9)] == 0


def test_write_packed_shards_layout(spark, tmp_path):
    """The physical layout: one shard directory per shard, every shard's
    token sum within budget, round-trip preserves the full corpus, and
    each shard directory is a single writer's output (no file spray)."""
    import glob
    import os

    from json_to_avro_schema_spark.operators.packing import (
        write_packed_shards,
    )

    df = spark.range(500).selectExpr(
        "id AS doc_id", "(id % 97) + 1 AS n_tokens"
    )
    out = str(tmp_path / "shards")
    n = write_packed_shards(df, out, "n_tokens", "doc_id", budget=2_000)
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert back.select("shard_id").distinct().count() == n > 1
    sums = {
        r["shard_id"]: r["s"]
        for r in back.groupBy("shard_id")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    # shard sums are budget-aligned: a doc straddling a boundary stays in
    # the shard its prefix starts in, so the bound is budget + max doc
    assert all(s <= 2_000 + 97 for s in sums.values())
    assert sum(sums.values()) == sum((i % 97) + 1 for i in range(500))
    # one writer per shard directory: exactly one part-file each
    for d in glob.glob(os.path.join(out, "shard_id=*")):
        parts = [f for f in os.listdir(d) if f.startswith("part-")]
        assert len(parts) == 1, (d, parts)


def test_write_packed_shards_rejects_append(spark, tmp_path):
    from json_to_avro_schema_spark.operators.packing import (
        write_packed_shards,
    )

    df = spark.range(10).selectExpr("id AS doc_id", "5 AS n_tokens")
    with pytest.raises(ValueError):
        write_packed_shards(
            df, str(tmp_path / "x"), "n_tokens", "doc_id", 10, mode="append"
        )


def test_write_packed_shards_overwrite_pins_static_mode(spark, tmp_path):
    """partitionOverwriteMode=dynamic left session-wide (e.g. by a
    checkpointed validation run) must not let mode='overwrite' keep a
    previous larger run's shard dirs interleaved in the output — the
    writer pins static for its own write and restores the caller's value
    (ADVICE r4, medium)."""
    from json_to_avro_schema_spark.operators.packing import (
        write_packed_shards,
    )

    out = str(tmp_path / "shards")
    big = spark.range(100).selectExpr("id AS doc_id", "10 AS n_tokens")
    n1 = write_packed_shards(
        big, out, "n_tokens", "doc_id", budget=100, mode="overwrite"
    )
    assert n1 > 1

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        small = spark.range(5).selectExpr("id AS doc_id", "10 AS n_tokens")
        n2 = write_packed_shards(
            small, out, "n_tokens", "doc_id", budget=1_000, mode="overwrite"
        )
        assert n2 == 1
        back = spark.read.parquet(out)
        assert back.count() == 5
        assert back.select("shard_id").distinct().count() == 1
        # the caller's session value is restored, not clobbered
        assert spark.conf.get(key) == "dynamic"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
