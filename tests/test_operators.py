"""Table-level operators: stats, uniqueness, referential, drift, t-digest."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from json_to_avro_schema_spark.operators.drift import (
    drift_report,
    drift_verdict,
    emd_drift,
    emd_drift_report,
    histogram,
    ks_drift,
    ks_drift_report,
)
from json_to_avro_schema_spark.operators.referential import (
    exploded_span_refs,
    ri_verdict,
    ri_violations,
)
from json_to_avro_schema_spark.operators.stats import column_stats
from json_to_avro_schema_spark.operators.tdigest import (
    TDigest,
    merged_digest,
    tdigest_quantiles,
)
from json_to_avro_schema_spark.operators.uniqueness import (
    approx_uniqueness,
    duplicate_keys,
    duplicate_rows,
    uniqueness_verdict,
)
from json_to_avro_schema_spark.sources.synthetic import (
    generate_documents_iv,
    generate_media_assets,
)


def test_column_stats_lineitem(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    stats = {r["column"]: r for r in column_stats(df, ["l_quantity", "l_returnflag"]).collect()}
    n = df.count()
    q = stats["l_quantity"]
    assert q["n_rows"] == n and q["n_null"] == 0
    assert float(q["min"]) >= 1.0 and float(q["max"]) <= 50.0
    assert q["quantiles"] is not None and len(q["quantiles"]) == 4
    r = stats["l_returnflag"]
    assert r["min"] in ("A",) and r["max"] in ("R",)
    assert r["mean"] is None


def test_uniqueness_exact_and_approx(spark):
    df = generate_documents_iv(spark, 3000, violation_pct=10)
    dups = duplicate_keys(df, ["doc_id"])
    n_dup_keys = dups.count()
    assert n_dup_keys > 0
    assert dups.agg(F.min("dup_count")).collect()[0][0] >= 2
    # duplicate_rows total == sum of dup_counts
    assert duplicate_rows(df, ["doc_id"]).count() == (
        dups.agg(F.sum("dup_count")).collect()[0][0]
    )
    v = uniqueness_verdict(df, ["doc_id"]).collect()[0]
    assert not v["pass"] and v["n_dup_rows"] >= 2 * n_dup_keys
    a = approx_uniqueness(df, ["doc_id"]).collect()[0]
    # HLL error ~2%: approx duplicates should be in the ballpark
    exact_dups = v["n_rows"] - v["n_distinct"]
    assert abs(a["approx_duplicates"] - exact_dups) <= max(40, 0.1 * v["n_rows"])


def test_duplicate_keys_repartition_invariant(spark):
    """The salt is content-derived (key cols + partition id), never RNG or
    monotonically_increasing_id: results are identical under any physical
    partitioning (pattern: tests/test_sampling.py partition-independence)."""
    df = spark.range(1000).selectExpr("id % 100 AS k")
    a = duplicate_keys(df, ["k"]).orderBy("k").collect()
    b = duplicate_keys(df.repartition(7), ["k"]).orderBy("k").collect()
    c = duplicate_keys(df.coalesce(1), ["k"]).orderBy("k").collect()
    assert a == b == c
    assert len(a) == 100 and all(r["dup_count"] == 10 for r in a)


def test_referential_integrity_spans(spark):
    docs = generate_documents_iv(spark, 3000, violation_pct=10)
    assets = generate_media_assets(spark)
    refs = exploded_span_refs(docs)
    viol = ri_violations(refs, assets, ["media_ref"])
    n_viol = viol.count()
    assert n_viol > 0
    assert viol.filter(~F.col("media_ref").startswith("m-missing-")).count() == 0
    verdict = ri_verdict(refs, assets, ["media_ref"]).collect()[0]
    assert verdict["n_dangling"] == n_viol and not verdict["pass"]


def test_referential_integrity_tpch(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    v = ri_verdict(li, orders, ["l_orderkey"], ["o_orderkey"]).collect()[0]
    assert v["pass"] and v["n_dangling"] == 0


def test_ri_auto_broadcast_plan_shapes(spark, auto_broadcast_off):
    """Spark's planner picks the RI join: a small parent's deduped key set
    plans a BroadcastHashJoin from its size estimate; with the session
    threshold at -1 the same calls plan a shuffle join (the operators add
    no hint — a 10^12-row parent is never force-broadcast); results are
    identical either way."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

    def run():
        v = ri_violations(li, orders, ["l_orderkey"], ["o_orderkey"])
        d = ri_verdict(li, orders, ["l_orderkey"], ["o_orderkey"])
        plans = [x._jdf.queryExecution().executedPlan().toString() for x in (v, d)]
        return plans, v.count(), d.collect()

    plans, n_small, verdict_small = run()
    assert all("BroadcastHashJoin" in p for p in plans), plans
    with auto_broadcast_off():
        plans, n_big, verdict_big = run()
    assert not any("BroadcastHashJoin" in p for p in plans), plans
    assert all("SortMergeJoin" in p for p in plans), plans
    assert n_small == n_big == 0 and verdict_small == verdict_big


def test_ri_join_strategy_follows_session_threshold(
    spark, auto_broadcast_off, monkeypatch
):
    """With the deployment's broadcast threshold at -1, ``ri_violations``,
    ``ri_verdict`` and ``profile.ref_containment`` plan no
    BroadcastHashJoin: no operator hints the parent's key set past the
    session's own setting."""
    from json_to_avro_schema_spark.operators.profile import ref_containment

    refs = exploded_span_refs(generate_documents_iv(spark, 3000, violation_pct=10))
    assets = generate_media_assets(spark)
    plans = []
    frame_cls = type(refs)
    collect = frame_cls.collect

    def recording_collect(self):
        out = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    with auto_broadcast_off():
        n_viol = len(ri_violations(refs, assets, ["media_ref"]).collect())
        verdict = ri_verdict(refs, assets, ["media_ref"]).collect()[0]
        cands = ref_containment(refs, assets, [("media_ref", "media_ref")])
    monkeypatch.undo()
    assert n_viol > 0 and verdict["n_dangling"] == n_viol
    assert cands[0].n_dangling_keys > 0
    # the two RI frames, ref_containment's parent aggregate and its pair join
    assert sum("SortMergeJoin" in p for p in plans) == 3, plans
    assert not any("BroadcastHashJoin" in p for p in plans), plans


def test_histogram_conserves_mass(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    h = histogram(df, "l_extendedprice", bins=16)
    assert h.agg(F.sum("n")).collect()[0][0] == df.count()
    assert h.filter((F.col("bucket") < 0) | (F.col("bucket") > 15)).count() == 0


def test_drift_detects_shift(spark):
    base = spark.range(0, 20000).select((F.rand(seed=1) * 100).alias("v"))
    same = spark.range(0, 20000).select((F.rand(seed=2) * 100).alias("v"))
    shifted = spark.range(0, 20000).select((F.rand(seed=3) * 100 + 50).alias("v"))
    kl0, psi0, ok0 = drift_verdict(same, base, "v", lo=0.0, hi=150.0)
    kl1, psi1, ok1 = drift_verdict(shifted, base, "v", lo=0.0, hi=150.0)
    assert ok0 and psi0 < 0.05
    assert not ok1 and psi1 > 0.5 and kl1 > kl0


def test_drift_all_null_column_passes_empty(spark):
    """No non-null value on either side: a finite range, empty histograms,
    zero counts, psi 0 and a pass — not a TypeError from ``float(None)``."""
    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert histogram(df, "v").count() == 0
    rep = drift_report(df, df, "v")
    assert (rep.n_current, rep.n_baseline, rep.psi, rep.ok) == (0, 0, 0.0, True)
    assert drift_verdict(df, df, "v")[1:] == (0.0, True)


def test_ks_drift_matches_numpy_ecdf(spark):
    """KS statistic equals the hand-computed sup |ΔECDF| (ties and values
    present on one side only included), independent of pid bucket count."""
    c = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 9.0]
    b = [1.0, 1.0, 2.0, 4.0, 6.0, 7.0]
    cur = spark.createDataFrame([(v,) for v in c], "v double")
    base = spark.createDataFrame([(v,) for v in b], "v double")
    vals = sorted(set(c) | set(b))
    expect = max(
        abs(
            sum(x <= v for x in c) / len(c)
            - sum(x <= v for x in b) / len(b)
        )
        for v in vals
    )
    for n_parts in (1, 4):  # flat pid and multi-pid prefix paths
        r = ks_drift(
            cur, base, "v", ks_threshold=0.3, num_partitions=n_parts
        ).collect()[0]
        assert r["ks"] == pytest.approx(expect)
        assert r["n_current"] == 7 and r["n_baseline"] == 6
        assert r["pass"]  # expect = 2/7 ≈ 0.286 < 0.3


def test_ks_drift_detects_sub_bin_shift(spark):
    """A mean shift that stays inside one coarse bin is invisible to
    binned PSI but caught by KS — the reason the operator exists."""
    base = spark.range(0, 20000).select((F.randn(seed=1) * 5 + 25).alias("v"))
    shifted = spark.range(0, 20000).select(
        (F.randn(seed=2) * 5 + 30).alias("v")
    )
    # 2 bins over [0, 100): both N(25,5) and N(30,5) live entirely in
    # bin 0, so the binned masses are identical
    _, psi_coarse, ok_coarse = drift_verdict(
        shifted, base, "v", bins=2, lo=0.0, hi=100.0
    )
    rep = ks_drift_report(shifted, base, "v", ks_threshold=0.05)
    assert ok_coarse and psi_coarse < 0.01  # binned check sleeps through it
    assert not rep.ok and rep.ks > 0.3  # KS ≈ Φ(0.5)-Φ(-0.5) ≈ 0.383
    # identical distributions pass KS
    same = spark.range(0, 20000).select((F.randn(seed=3) * 5 + 25).alias("v"))
    assert ks_drift_report(same, base, "v", ks_threshold=0.05).ok


def test_ks_drift_edges_and_types(spark):
    cur = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    emp = spark.createDataFrame([], "v double")
    one = ks_drift(cur, emp, "v").collect()[0]
    assert one["ks"] == 1.0 and not one["pass"] and one["n_baseline"] == 0
    both = ks_drift(emp, emp, "v").collect()[0]
    assert both["ks"] == 0.0 and both["pass"]
    # nulls dropped, not counted
    withnull = spark.createDataFrame([(1.0,), (None,)], "v double")
    r = ks_drift(withnull, cur, "v").collect()[0]
    assert r["n_current"] == 1
    with pytest.raises(TypeError, match="numeric"):
        ks_drift(spark.createDataFrame([("a",)], "v string"), cur, "v")


def test_emd_drift_matches_hand_integral(spark):
    """W1 equals the hand-computed Σ gap·|ΔECDF| over the sorted union
    (ties, one-side-only values, pid-boundary gaps), independent of pid
    bucket count; w1_norm = w1 / (vmax - vmin)."""
    c = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 9.0]
    b = [1.0, 1.0, 2.0, 4.0, 6.0, 7.0]
    cur = spark.createDataFrame([(v,) for v in c], "v double")
    base = spark.createDataFrame([(v,) for v in b], "v double")
    vals = sorted(set(c) | set(b))
    diffs = [
        abs(
            sum(x <= v for x in c) / len(c)
            - sum(x <= v for x in b) / len(b)
        )
        for v in vals
    ]
    expect = sum(
        (vals[i + 1] - vals[i]) * diffs[i] for i in range(len(vals) - 1)
    )
    for n_parts in (1, 4):  # flat pid and multi-pid (boundary-gap) paths
        r = emd_drift(
            cur, base, "v", emd_threshold=0.2, num_partitions=n_parts
        ).collect()[0]
        assert r["w1"] == pytest.approx(expect)
        assert r["w1_norm"] == pytest.approx(expect / (9.0 - 1.0))
        assert r["n_current"] == 7 and r["n_baseline"] == 6
        assert r["pass"]  # 0.128 < 0.2


def test_emd_drift_weighs_distance_not_just_overlap(spark):
    """W1 distinguishes HOW FAR mass moved: a whole-distribution shift of
    2σ dwarfs the same KS-visible shift of 0.2σ, while KS saturates."""
    base = spark.range(0, 20000).select((F.randn(seed=1) * 5 + 25).alias("v"))
    near = spark.range(0, 20000).select((F.randn(seed=2) * 5 + 26).alias("v"))
    far = spark.range(0, 20000).select((F.randn(seed=3) * 5 + 35).alias("v"))
    r_near = emd_drift_report(near, base, "v")
    r_far = emd_drift_report(far, base, "v")
    # W1 of two equal-σ Gaussians ≈ |Δμ|: 1 vs 10
    assert r_near.w1 == pytest.approx(1.0, abs=0.3)
    assert r_far.w1 == pytest.approx(10.0, abs=0.5)
    assert r_far.w1 > 5 * r_near.w1
    # identical distributions pass
    same = spark.range(0, 20000).select((F.randn(seed=4) * 5 + 25).alias("v"))
    assert emd_drift_report(same, base, "v", emd_threshold=0.01).ok


def test_emd_drift_edges_and_types(spark):
    cur = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    emp = spark.createDataFrame([], "v double")
    one = emd_drift(cur, emp, "v").collect()[0]
    assert one["w1"] is None and one["w1_norm"] == 1.0 and not one["pass"]
    both = emd_drift(emp, emp, "v").collect()[0]
    assert both["w1"] == 0.0 and both["pass"]
    # all mass on one point: w1 and w1_norm both 0 (no 0/0)
    pt = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    r = emd_drift(pt, pt, "v").collect()[0]
    assert r["w1"] == 0.0 and r["w1_norm"] == 0.0 and r["pass"]
    with pytest.raises(TypeError, match="numeric"):
        emd_drift(spark.createDataFrame([("a",)], "v string"), cur, "v")


def test_ecdf_drift_reports_release_their_cache(spark):
    """ks_drift/emd_drift persist the merged distinct-value frame (it
    feeds three jobs); the DataFrame carries a release handle and the
    scalar report wrappers unpersist after collect, so repeated calls in
    a long-running service don't accumulate cache entries."""
    cur = spark.range(0, 2000).select((F.rand(seed=1) * 10).alias("v"))
    base = spark.range(0, 2000).select((F.rand(seed=2) * 10).alias("v"))
    out = ks_drift(cur, base, "v")
    assert out._drift_cached_input.storageLevel.useMemory  # persisted
    out._drift_cached_input.unpersist()

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    ks_drift_report(cur, base, "v")
    emd_drift_report(cur, base, "v")
    assert n_cached() == before  # wrappers released what they persisted


def test_ks_drift_plan_has_no_global_window(spark):
    """The cumulative sums (and emd's lead) must run as within-pid
    windows (partitioned by the prefix-sum pid), never a
    single-partition global ORDER BY window."""
    import re

    cur = spark.range(0, 5000).select((F.rand(seed=1) * 100).alias("v"))
    base = spark.range(0, 5000).select((F.rand(seed=2) * 100).alias("v"))
    for op in (ks_drift, emd_drift):
        out = op(cur, base, "v", num_partitions=8)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "__ks_pid" in plan
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs  # the cumsum is in the plan
        for spec in specs:
            assert "__ks_pid" in spec  # every window spec is pid-partitioned


def _ecdf_gaps(c, b):
    """Sorted distinct values of both samples and |ΔECDF| at each."""
    vals = sorted(set(c) | set(b))
    return vals, [
        abs(sum(x <= v for x in c) / len(c) - sum(x <= v for x in b) / len(b))
        for v in vals
    ]


def test_prefix_sum_operators_bucket_count_invariant_with_empty_pids(spark):
    """ks_drift, emd_drift, global cumulative_tokens and global
    sequence_gaps return the same result at every pid-bucket count, equal
    to the hand computation, on inputs whose duplicate quantile bounds
    leave most pids empty (their slots in the offset literal are NULL)."""
    from json_to_avro_schema_spark.operators.packing import cumulative_tokens
    from json_to_avro_schema_spark.operators.temporal import sequence_gaps

    c = [float(i % 7) for i in range(300) if i % 5]  # 7 distinct values
    b = [float((i * i) % 7) for i in range(250)]
    cur = spark.createDataFrame([(v,) for v in c], "v double")
    base = spark.createDataFrame([(v,) for v in b], "v double")
    vals, diffs = _ecdf_gaps(c, b)
    ks_want = max(diffs)
    w1_want = sum((vals[i + 1] - vals[i]) * diffs[i] for i in range(len(vals) - 1))

    docs = spark.createDataFrame(
        [(i * 1000 + (i % 3), (i * 37) % 11 + 1) for i in range(60)],
        "doc_id long, n_tokens long",
    ).repartition(3)
    cum, cum_want = 0, {}
    for i in range(60):
        cum_want[i * 1000 + (i % 3)] = cum
        cum += (i * 37) % 11 + 1

    seq = [0, 0, 0, 1, 1, 5, 5, 5, 6, 9, 9, 30, 30, 31]
    seq_df = spark.createDataFrame([(v,) for v in seq], "seq long")
    gaps_want = [(2, 4, 3), (7, 8, 2), (10, 29, 20)]

    results = set()
    for n in (1, 4, 16, 200):
        ks = ks_drift(cur, base, "v", num_partitions=n).collect()[0]
        emd = emd_drift(cur, base, "v", num_partitions=n).collect()[0]
        assert ks["ks"] == pytest.approx(ks_want)
        assert emd["w1"] == pytest.approx(w1_want)
        got_cum = {
            r["doc_id"]: r["cum_tokens_before"]
            for r in cumulative_tokens(
                docs, "n_tokens", "doc_id", num_partitions=n
            ).collect()
        }
        assert got_cum == cum_want
        got_gaps = sorted(
            tuple(r) for r in sequence_gaps(seq_df, "seq", num_partitions=n).collect()
        )
        assert got_gaps == gaps_want
        results.add((ks["ks"], emd["w1"], emd["w1_norm"]))
    assert len(results) == 1  # bit-identical at every bucket count
    # a DECIMAL column's quantile bounds are Decimal plan literals
    dec = "CAST(v AS DECIMAL(6, 2)) AS v"
    ks_dec = ks_drift(
        cur.selectExpr(dec), base.selectExpr(dec), "v", num_partitions=16
    ).collect()[0]
    assert ks_dec["ks"] == results.pop()[0]


def _plan_nodes(node):
    """Every node of a Catalyst plan, over py4j."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_prefix_sum_offsets_are_plan_literals(spark):
    """The driver fold's offsets reach the plan as a pid-indexed literal:
    no join and no driver-built (LogicalRDD) frame in the optimized plans
    of ks_drift, emd_drift and global cumulative_tokens."""
    from json_to_avro_schema_spark.operators.packing import cumulative_tokens

    cur = spark.range(0, 3000).select((F.rand(seed=1) * 100).alias("v"))
    base = spark.range(0, 3000).select((F.rand(seed=2) * 100).alias("v"))
    docs = spark.range(2000).selectExpr("id AS doc_id", "id % 13 + 1 AS n_tokens")
    frames = {
        "ks_drift": ks_drift(cur, base, "v", num_partitions=8),
        "emd_drift": emd_drift(cur, base, "v", num_partitions=8),
        "cumulative_tokens": cumulative_tokens(
            docs, "n_tokens", "doc_id", num_partitions=8
        ),
    }
    for name, df in frames.items():
        nodes = {
            n.nodeName()
            for n in _plan_nodes(df._jdf.queryExecution().optimizedPlan())
        }
        assert "Join" not in nodes and "LogicalRDD" not in nodes, (name, nodes)
        cached = getattr(df, "_drift_cached_input", None)
        if cached is not None:
            cached.unpersist()


def test_tdigest_pure_python_accuracy():
    rng = np.random.default_rng(42)
    vals = rng.normal(100.0, 15.0, 50_000)
    d = TDigest.of(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        exact = float(np.quantile(vals, q))
        est = d.quantile(q)
        assert abs(est - exact) < 1.0, (q, est, exact)
    # mergeability: split-merge ≈ whole
    d2 = TDigest.of(vals[:25_000]).merge(TDigest.of(vals[25_000:]))
    assert abs(d2.quantile(0.5) - d.quantile(0.5)) < 0.5
    # serialization round-trip
    d3 = TDigest.from_json(d2.to_json())
    assert d3.quantile(0.9) == d2.quantile(0.9)


def test_tdigest_distributed_matches_exact(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    exact = [
        r[0]
        for r in df.selectExpr("percentile(l_extendedprice, array(0.1,0.5,0.9))").collect()
    ][0]
    est = tdigest_quantiles(df, "l_extendedprice", [0.1, 0.5, 0.9])
    for e, a in zip(exact, est):
        assert abs(e - a) / e < 0.01, (e, a)
    d = merged_digest(df, "l_extendedprice")
    assert d.n == df.count()


def test_run_table_checks_unified_verdicts(spark):
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.table_checks import run_table_checks

    doc = {
        "$id": "x://t/TC", "type": "object",
        "properties": {"k": {"type": "integer"}, "v": {"type": "number"}},
        "x-unique": [{"name": "uk", "columns": ["k"]}],
        "x-drift": [{"name": "dv", "column": "v", "bins": 8,
                     "min": 0.0, "max": 1.0}],
        "x-stats": ["v"],
    }
    plan = compile_document(doc)
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.2), (2, 0.3), (3, None)], "k long, v double"
    )
    out = {
        r["check_name"]: r
        for r in run_table_checks(spark, df, plan).collect()
    }
    assert out["uk"]["kind"] == "unique" and not out["uk"]["pass"]
    assert out["uk"]["n_bad"] == 2  # both rows of the duplicated key
    assert out["dv"]["kind"] == "drift_skipped" and out["dv"]["pass"]
    assert out["stats_v"]["n_rows"] == 4 and out["stats_v"]["n_bad"] == 1

    # drift with a baseline: identical distribution passes
    out2 = {
        r["check_name"]: r
        for r in run_table_checks(
            spark, df, plan, drift_baselines={"dv": df}
        ).collect()
    }
    assert out2["dv"]["kind"] == "drift" and out2["dv"]["pass"]
    assert out2["dv"]["n_rows"] == 3  # non-null v rows

    # missing ref table is an error, not a silent skip
    doc["x-ref"] = [{"name": "fk", "columns": ["k"], "refTable": "parent"}]
    plan2 = compile_document(doc)
    with pytest.raises(KeyError, match="parent"):
        run_table_checks(spark, df, plan2)


def test_table_checks_partitioned_drift_by(spark):
    """x-drift with `by` compiles to the distributed per-partition path:
    one verdict row per partition key, agreeing with the scalar verdict."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.operators.drift import drift_report
    from json_to_avro_schema_spark.table_checks import run_table_checks

    doc = {
        "$id": "x://t/TCP", "type": "object",
        "properties": {"id": {"type": "integer"}, "v": {"type": "number"},
                       "g": {"type": "string"}},
        "x-drift": [{"name": "dv", "column": "v", "bins": 10,
                     "min": 0.0, "max": 50.0, "by": "g"}],
    }
    plan = compile_document(doc)
    assert plan.drift_checks[0].by == "g"

    rows = [(i, float(i % 50), "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    cur = df.filter(F.col("id") % 4 != 0)
    base = df.filter(F.col("id") % 4 == 0)

    out = {
        r["check_name"]: r
        for r in run_table_checks(
            spark, cur, plan, drift_baselines={"dv": base}
        ).collect()
    }
    assert set(out) == {"dv[a]", "dv[b]"}
    for g in ("a", "b"):
        rep = drift_report(
            cur.filter(F.col("g") == g), base.filter(F.col("g") == g),
            "v", bins=10, lo=0.0, hi=50.0,
        )
        assert out[f"dv[{g}]"]["pass"] == rep.ok
        assert out[f"dv[{g}]"]["n_rows"] == rep.n_current


def test_table_checks_drift_method_ks(spark):
    """x-drift method:'ks' dispatches to the exact KS path; the verdict
    row agrees with the standalone operator, and the parser rejects
    ks+by / ks+categorical / unknown methods with typed errors."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.errors import SpecCompileError
    from json_to_avro_schema_spark.table_checks import run_table_checks

    doc = {
        "$id": "x://t/TCKS", "type": "object",
        "properties": {"id": {"type": "integer"}, "v": {"type": "number"}},
        "x-drift": [{"name": "dks", "column": "v", "method": "ks"}],
    }
    plan = compile_document(doc)
    assert plan.drift_checks[0].method == "ks"

    df = spark.range(0, 4000).select(
        F.col("id"), (F.rand(seed=7) * 100).alias("v")
    )
    cur = df.filter(F.col("id") % 2 == 0)
    base = df.filter(F.col("id") % 2 == 1)
    out = {
        r["check_name"]: r
        for r in run_table_checks(
            spark, cur, plan, drift_baselines={"dks": base}, ks_threshold=0.05
        ).collect()
    }
    rep = ks_drift_report(cur, base, "v", ks_threshold=0.05)
    assert out["dks"]["kind"] == "drift"
    assert out["dks"]["pass"] == rep.ok and rep.ok
    assert out["dks"]["n_rows"] == rep.n_current

    # method:'emd' dispatches to the Wasserstein-1 path
    doc_emd = {
        "$id": "x://t/TCEMD", "type": "object",
        "properties": {"id": {"type": "integer"}, "v": {"type": "number"}},
        "x-drift": [{"name": "demd", "column": "v", "method": "emd"}],
    }
    out_emd = {
        r["check_name"]: r
        for r in run_table_checks(
            spark, cur, compile_document(doc_emd),
            drift_baselines={"demd": base}, emd_threshold=0.05,
        ).collect()
    }
    rep_emd = emd_drift_report(cur, base, "v", emd_threshold=0.05)
    assert out_emd["demd"]["kind"] == "drift"
    assert out_emd["demd"]["pass"] == rep_emd.ok and rep_emd.ok

    with pytest.raises(SpecCompileError, match="numeric/global"):
        compile_document({
            "$id": "x://t/TCKS2", "type": "object",
            "properties": {"v": {"type": "number"}},
            "x-drift": [{"column": "v", "method": "ks", "by": "g"}],
        })
    with pytest.raises(SpecCompileError, match="unknown method"):
        compile_document({
            "$id": "x://t/TCKS3", "type": "object",
            "properties": {"v": {"type": "number"}},
            "x-drift": [{"column": "v", "method": "wasserstein"}],
        })


def test_table_checks_drift_include_total(spark):
    """x-drift includeTotal: the spec knob adds the fused corpus-wide
    'dv[ALL]' verdict row alongside the per-partition rows."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.operators.drift import drift_report
    from json_to_avro_schema_spark.table_checks import run_table_checks

    doc = {
        "$id": "x://t/TCT", "type": "object",
        "properties": {"id": {"type": "integer"}, "v": {"type": "number"},
                       "g": {"type": "string"}},
        "x-drift": [{"name": "dv", "column": "v", "bins": 10,
                     "min": 0.0, "max": 50.0, "by": "g",
                     "includeTotal": True}],
    }
    plan = compile_document(doc)
    assert plan.drift_checks[0].include_total is True

    rows = [(i, float(i % 50), "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    cur = df.filter(F.col("id") % 4 != 0)
    base = df.filter(F.col("id") % 4 == 0)
    out = {
        r["check_name"]: r
        for r in run_table_checks(
            spark, cur, plan, drift_baselines={"dv": base}
        ).collect()
    }
    assert set(out) == {"dv[a]", "dv[b]", "dv[ALL]"}
    rep = drift_report(cur, base, "v", bins=10, lo=0.0, hi=50.0)
    assert out["dv[ALL]"]["pass"] == rep.ok
    assert out["dv[ALL]"]["n_rows"] == rep.n_current


def test_verdict_rollup_levels_and_totals(spark):
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.operators.stats import verdict_rollup

    df = spark.createDataFrame(
        [("A", "F", 1.0), ("A", "O", 2.0), ("N", "F", -1.0), ("N", "F", 3.0)],
        "flag string, status string, v double",
    )
    checks = {"v_nonneg": F.col("v") >= 0}
    roll = verdict_rollup(df, ["flag", "status"], checks).collect()
    # rollup: leaf rows (gid 0) + per-flag subtotals (gid 1) + grand (gid 3)
    assert {r["gid"] for r in roll} == {0, 1, 3}
    grand = [r for r in roll if r["gid"] == 3][0]
    assert grand["n_rows"] == 4 and grand["n_fail_v_nonneg"] == 1 and not grand["pass"]

    cube = verdict_rollup(df, ["flag", "status"], checks, cube=True).collect()
    # cube adds the per-status level (gid 2)
    assert {r["gid"] for r in cube} == {0, 1, 2, 3}
    per_status_f = [r for r in cube if r["gid"] == 2 and r["status"] == "F"][0]
    assert per_status_f["n_rows"] == 3 and per_status_f["n_fail_v_nonneg"] == 1


def test_categorical_drift_identical_and_shifted(spark):
    from json_to_avro_schema_spark.operators.drift import categorical_drift_report

    a = spark.createDataFrame(
        [("x",)] * 50 + [("y",)] * 30 + [("z",)] * 20, "v string"
    )
    same = categorical_drift_report(a, a, "v")
    assert same.ok and abs(same.psi) < 1e-9 and same.n_current == 100

    # shifted: z vanishes, w appears — PSI must blow past the 0.2 cutoff
    b = spark.createDataFrame(
        [("x",)] * 50 + [("y",)] * 30 + [("w",)] * 20, "v string"
    )
    moved = categorical_drift_report(a, b, "v")
    assert not moved.ok and moved.psi > 0.2
    # hand-check: categories {w,x,y,z}; x,y identical (no contribution);
    # p_z=0.2 vs q_z≈eps and p_w≈eps vs q_w=0.2 → psi ≈ 2*0.2*ln(0.2/1e-6)
    import math
    expect = 2 * 0.2 * math.log(0.2 / 1e-6)
    assert abs(moved.psi - expect) < 0.05


def test_x_vector_and_categorical_drift_table_checks(spark):
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.table_checks import run_table_checks

    rows = [(i, [1.0, 0.0], "a" if i % 2 else "b") for i in range(40)]
    rows += [(100, None, "a"), (101, [1.0], "b"),          # null vec, bad dim
             (102, [float("nan"), 0.0], "a"),               # NaN
             (103, [9.0, 9.0], "b")]                        # norm out of bounds
    df = spark.createDataFrame(rows, "id long, embedding array<float>, cat string")
    base = df.filter(F.col("id") < 40)  # same categorical mix → no drift

    spec = {
        "$id": "https://example.com/vec",
        "type": "object",
        "properties": {"id": {"type": "integer"}},
        "x-vector": [{"name": "emb_ok", "column": "embedding", "dim": 2,
                      "normMin": 0.5, "normMax": 2.0}],
        "x-drift": [{"name": "cat_drift", "column": "cat", "categorical": True}],
    }
    plan = compile_document(spec)
    assert len(plan.vector_checks) == 1 and plan.drift_checks[0].categorical

    out = {
        r["check_name"]: r
        for r in run_table_checks(
            spark, df, plan, drift_baselines={"cat_drift": base}
        ).collect()
    }
    emb = out["emb_ok"]
    # 1 null + 1 dim-mismatch + 1 NaN + 1 norm-oob
    assert emb["kind"] == "vector" and emb["n_bad"] == 4 and not emb["pass"]
    cat = out["cat_drift"]
    assert cat["kind"] == "drift" and cat["pass"]


def test_iceberg_gate_and_partition_enumeration(spark):
    """sources/iceberg.py: the parquet fallback path — read_table by path,
    partition enumeration via distinct, and the clean gate error for table
    identifiers when no Iceberg runtime is present."""
    import pytest as _pytest

    from json_to_avro_schema_spark.sources.iceberg import (
        iceberg_available,
        partition_keys,
        read_table,
    )

    df = read_table(spark, "/root/testdata/sf0.001/nation.parquet")
    assert df.count() == 25

    keyed = df.withColumnRenamed("n_regionkey", "part_key")
    keys = partition_keys(spark, keyed)
    assert sorted(keys) == [0, 1, 2, 3, 4]

    if not iceberg_available(spark):  # true in this container
        with _pytest.raises(RuntimeError, match="Iceberg runtime"):
            read_table(spark, "db.documents")


def test_lsh_topk_stored_bucket_column(spark):
    """lsh_topk(bucket_col=...): a materialized bucket column (same
    bits/seed) must return exactly the computed-bucket results, with the
    probe filter landing on the stored column (scan-prunable)."""
    import numpy as np

    from json_to_avro_schema_spark.operators.similarity import (
        lsh_bucket,
        lsh_topk,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16)).astype("float32")
    vecs[1] = vecs[0] + rng.normal(scale=0.01, size=16).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[0].tolist()

    computed = lsh_topk(df, q, k=5, bits=6, probe_hamming=2)
    stored = df.withColumn(
        "bucket", lsh_bucket(F.col("embedding"), 16, bits=6, seed=42)
    )
    via_stored = lsh_topk(
        stored, q, k=5, bits=6, probe_hamming=2, bucket_col="bucket"
    )
    assert [tuple(r) for r in computed.collect()] == [
        tuple(r) for r in via_stored.collect()
    ]
    # sanity: the stored column materialized a bucket for every row (the
    # equality above already proves the probe filter used it correctly)
    assert stored.filter(F.col("bucket").isNotNull()).count() == 300


def test_partitioned_drift_matches_scalar_path(spark):
    """partitioned_drift_verdicts (fully distributed, array-HOF math) must
    agree with the driver-math drift_report per partition."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.operators.drift import (
        drift_report,
        partitioned_drift_verdicts,
    )

    rows = [(i, float(i % 50), "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    cur = df.filter(F.col("id") % 4 != 0)   # shifted mix per group
    base = df.filter(F.col("id") % 4 == 0)

    dist = {
        r["part_key"]: r
        for r in partitioned_drift_verdicts(
            cur, base, "v", by="g", bins=10, lo=0.0, hi=50.0
        ).collect()
    }
    assert set(dist) == {"a", "b"}
    for g in ("a", "b"):
        rep = drift_report(
            cur.filter(F.col("g") == g), base.filter(F.col("g") == g),
            "v", bins=10, lo=0.0, hi=50.0,
        )
        got = dist[g]
        assert abs(got["kl"] - rep.kl) < 1e-9
        assert abs(got["psi"] - rep.psi) < 1e-9
        assert got["pass"] == rep.ok
        assert got["n_current"] == rep.n_current
        assert got["n_baseline"] == rep.n_baseline


def test_partitioned_drift_include_total(spark):
    """include_total=True adds the corpus-wide 'ALL' row from the SAME
    grouping-sets aggregation: it must equal (a) the driver-math global
    drift_report and (b) the per-group rows must be unchanged vs
    include_total=False. NULL group values stay their own partition
    (grouping(), not a NULL check, marks the total level)."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.operators.drift import (
        drift_report,
        partitioned_drift_verdicts,
    )

    rows = [
        (i, float(i % 50), None if i % 7 == 0 else ("a" if i % 2 else "b"))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    cur = df.filter(F.col("id") % 4 != 0)
    base = df.filter(F.col("id") % 4 == 0)

    with_total = {
        r["part_key"]: r
        for r in partitioned_drift_verdicts(
            cur, base, "v", by="g", bins=10, lo=0.0, hi=50.0,
            include_total=True,
        ).collect()
    }
    without = {
        r["part_key"]: r
        for r in partitioned_drift_verdicts(
            cur, base, "v", by="g", bins=10, lo=0.0, hi=50.0
        ).collect()
    }
    assert set(with_total) == {"a", "b", None, "ALL"}
    for g in ("a", "b", None):
        for f in ("n_current", "n_baseline", "pass"):
            assert with_total[g][f] == without[g][f]
        assert abs(with_total[g]["kl"] - without[g]["kl"]) < 1e-9
        assert abs(with_total[g]["psi"] - without[g]["psi"]) < 1e-9
    rep = drift_report(cur, base, "v", bins=10, lo=0.0, hi=50.0)
    tot = with_total["ALL"]
    assert abs(tot["kl"] - rep.kl) < 1e-9
    assert abs(tot["psi"] - rep.psi) < 1e-9
    assert tot["n_current"] == rep.n_current
    assert tot["n_baseline"] == rep.n_baseline


def test_fail_on_failed_checks_gate(spark):
    """Abort-level gate over the unified verdict table: within-limit
    returns the count, past-limit raises with a bounded verdict sample."""
    from json_to_avro_schema_spark.errors import ValidationFailedError
    from json_to_avro_schema_spark.table_checks import fail_on_failed_checks

    verdicts = spark.createDataFrame(
        [("u", "unique", 10, 0, True), ("r", "ref", 10, 2, False),
         ("d", "drift", 10, 1, False)],
        "check_name string, kind string, n_rows long, n_bad long, pass boolean",
    )
    assert fail_on_failed_checks(verdicts, limit=2) == 2
    with pytest.raises(ValidationFailedError) as ei:
        fail_on_failed_checks(verdicts, sample=1)
    assert ei.value.n_violations == 2 and len(ei.value.sample) == 1
    assert ei.value.sample[0]["pass"] is False
