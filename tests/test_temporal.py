"""Temporal operators (sessionize / session_stats / asof_join) and the
Bloom-filter RI pre-filter: value semantics + the plan shapes the 100 TB
story depends on (one exchange for sessions, zero child-side exchange for
the bloom probe)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from json_to_avro_schema_spark.operators import referential as ri
from json_to_avro_schema_spark.operators import temporal as T


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: two sessions split by a >30min gap; a tie on ts
        (1, 1, _ts("2024-01-01T10:00:00")),
        (2, 1, _ts("2024-01-01T10:10:00")),
        (3, 1, _ts("2024-01-01T10:10:00")),  # tie with event 2
        (4, 1, _ts("2024-01-01T11:00:00.000001")),  # 49m59.000001s gap
        # user 2: single event
        (5, 2, _ts("2024-01-01T00:00:00")),
        # user 3: exact-gap boundary — 1800s is NOT a new session (strict >)
        (6, 3, _ts("2024-01-01T09:00:00")),
        (7, 3, _ts("2024-01-01T09:30:00")),
        (8, 3, _ts("2024-01-01T10:00:00.000001")),  # 1800.000001s => new
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )


def test_sessionize_gap_and_boundary(events):
    out = T.sessionize(
        events, gap_seconds=1800, tiebreak_cols=["event_id"]
    ).select("event_id", "session_seq")
    got = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1, 6: 1, 7: 1, 8: 2}


def test_session_stats_rollup(events):
    out = T.session_stats(
        events, gap_seconds=1800, tiebreak_cols=["event_id"]
    )
    rows = {
        (r["user_id"], r["session_seq"]): r for r in out.collect()
    }
    assert rows[(1, 1)]["n_events"] == 3
    assert rows[(1, 1)]["duration_us"] == 10 * 60 * 1_000_000
    assert rows[(1, 2)]["n_events"] == 1
    assert rows[(2, 1)]["duration_us"] == 0
    # exact integer micros, timezone-independent for NTZ
    assert rows[(2, 1)]["start_us"] == int(
        _ts("2024-01-01T00:00:00").replace(tzinfo=dt.timezone.utc).timestamp()
        * 1_000_000
    )


def test_session_stats_single_corpus_exchange(events):
    out = T.session_stats(events, tiebreak_cols=["event_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the rollup reuses the window's (user) partitioning — one exchange
    assert plan.count("Exchange hashpartitioning") == 1


def _asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, "a", _ts("2024-01-01T10:00:00")),
            (2, "a", _ts("2024-01-01T10:05:00")),
            (3, "a", _ts("2024-01-01T09:00:00")),  # before any right row
            (4, "b", _ts("2024-01-01T10:00:00")),  # equal-ts right row
            (5, "c", _ts("2024-01-01T10:00:00")),  # key with no right rows
        ],
        "id long, k string, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01T09:30:00"), 1.0),
            ("a", _ts("2024-01-01T10:02:00"), 2.0),
            ("b", _ts("2024-01-01T10:00:00"), 7.0),
        ],
        "k string, ts timestamp_ntz, v double",
    )
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _asof_frames(spark)
    out = T.asof_join(
        left, right, ["k"], matched_ts_col="m_us"
    )
    got = {r["id"]: (r["asof_v"], r["m_us"] is not None) for r in out.collect()}
    assert got[1] == (1.0, True)   # most recent at-or-before 10:00
    assert got[2] == (2.0, True)   # picks the 10:02 row
    assert got[3] == (None, False)  # nothing before 09:00 -> left-join nulls
    assert got[4] == (7.0, True)   # equal timestamps match (inclusive)
    assert got[5] == (None, False)  # key absent from right
    assert out.count() == left.count()  # every left row survives


def test_asof_forward_and_tolerance(spark):
    left, right = _asof_frames(spark)
    fwd = T.asof_join(left, right, ["k"], direction="forward")
    got = {r["id"]: r["asof_v"] for r in fwd.collect()}
    assert got[1] == 2.0   # earliest at-or-after 10:00
    assert got[2] is None  # nothing after 10:05
    assert got[3] == 1.0
    assert got[4] == 7.0   # inclusive in forward direction too
    tol = T.asof_join(
        left, right, ["k"], tolerance_us=5 * 60 * 1_000_000,
        matched_ts_col="m_us",
    )
    gt = {r["id"]: r["asof_v"] for r in tol.collect()}
    assert gt[1] is None  # 30min-old match nulled by 5min tolerance
    assert gt[2] == 2.0   # 3min-old match survives
    assert gt[4] == 7.0   # 0-distance match survives


def test_asof_validations(spark):
    left, right = _asof_frames(spark)
    with pytest.raises(ValueError, match="direction"):
        T.asof_join(left, right, ["k"], direction="nearest")
    with pytest.raises(ValueError, match="no value columns"):
        T.asof_join(left, right.select("k", "ts"), ["k"])
    with pytest.raises(ValueError, match="collide"):
        T.asof_join(
            left.withColumn("asof_v", F.lit(1)), right, ["k"]
        )
    with pytest.raises(ValueError, match="working columns"):
        T.asof_join(
            left.withColumn("__asof_ts", F.lit(1)), right, ["k"]
        )


def test_bloom_ri_matches_exact_and_skips_nulls(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, None), (5, 20)],
        "id long, fk long",
    ).repartition(3)
    parent = spark.createDataFrame([(10,), (40,)], "pk long")
    bloom = ri.bloom_ri_violations(child, parent, ["fk"], ["pk"])
    exact = ri.ri_violations(child, parent, ["fk"], ["pk"])
    assert sorted(r["id"] for r in bloom.collect()) == [2, 3, 5]
    assert sorted(r["id"] for r in bloom.collect()) == sorted(
        r["id"] for r in exact.collect()
    )


def test_bloom_ri_probe_side_has_no_exchange(spark):
    child = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "id long, fk long"
    )
    parent = spark.createDataFrame([(i,) for i in range(5)], "pk long")
    out = ri.bloom_ri_violations(child, parent, ["fk"], ["pk"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probe is scan -> JVM position projection -> Arrow bit test ->
    # filter; the bitmap build already ran (collect) and is not in this
    # plan, and the operator introduces NO shuffle of any kind
    assert "Exchange" not in plan
    # the null-key filter is pushed below the Arrow eval (probe only
    # non-null keys)
    assert plan.index("isnotnull") > plan.index("ArrowEvalPython")
    assert sorted({r["fk"] for r in out.collect()}) == [5, 6]


def test_bloom_ri_multi_column_key_and_empty_parent(spark):
    child = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 2), (3, "x", 2)], "id long, a string, b long"
    )
    parent = spark.createDataFrame([("x", 1)], "ra string, rb long")
    out = ri.bloom_ri_violations(
        child, parent, ["a", "b"], ["ra", "rb"]
    )
    assert sorted(r["id"] for r in out.collect()) == [2, 3]
    empty = parent.filter(F.lit(False))
    assert ri.bloom_ri_violations(
        child, empty, ["a", "b"], ["ra", "rb"]
    ).count() == 3


def test_bloom_build_validations(spark):
    parent = spark.createDataFrame([(1,)], "pk long")
    with pytest.raises(ValueError, match="n_bits"):
        ri.bloom_build(parent, ["pk"], n_bits=100)
    with pytest.raises(ValueError, match="n_hashes"):
        ri.bloom_build(parent, ["pk"], n_hashes=0)


# ---------------------------------------------------------------------------
# range_join (bucketized point-in-interval)
# ---------------------------------------------------------------------------

M = 60_000_000  # one minute in µs


@pytest.fixture(scope="module")
def iv_frames(spark):
    pts = spark.createDataFrame(
        [
            (1, 1, 5 * M),     # inside A only
            (2, 1, 90 * M),    # inside A and B (overlap region)
            (3, 1, 100 * M),   # == A.hi (inclusive) and inside B
            (4, 1, 500 * M),   # no interval
            (5, 2, 5 * M),     # right key range, wrong key
            (6, 1, None),      # null ts matches nothing
        ],
        "pid long, k long, ts_us long",
    )
    ivs = spark.createDataFrame(
        [
            ("A", 1, 0 * M, 100 * M),
            ("B", 1, 80 * M, 200 * M),
            ("C", 2, 300 * M, 400 * M),
            ("N", 1, None, 50 * M),      # null bound drops
            ("X", 1, 60 * M, 40 * M),    # inverted drops
        ],
        "name string, k long, lo_us long, hi_us long",
    )
    return pts, ivs


def _pairs(df):
    return sorted(
        (r["pid"], r["iv_name"]) for r in df.collect() if r["iv_name"]
    )


def test_range_join_matches_brute_between(spark, iv_frames):
    pts, ivs = iv_frames
    # bucket width much smaller than interval length: replication path
    got = T.range_join(pts, ivs, ["k"], bucket_width_us=7 * M)
    assert _pairs(got) == [(1, "A"), (2, "A"), (2, "B"), (3, "A"), (3, "B")]
    # bucket width much larger: single-bucket path — same answer
    got2 = T.range_join(pts, ivs, ["k"], bucket_width_us=10_000 * M)
    assert _pairs(got2) == _pairs(got)
    # brute-force oracle
    brute = pts.alias("p").join(
        ivs.alias("i"),
        (F.col("p.k") == F.col("i.k"))
        & F.col("p.ts_us").between(F.col("i.lo_us"), F.col("i.hi_us")),
    )
    assert sorted(
        (r["pid"], r["name"]) for r in brute.collect()
    ) == _pairs(got)


def test_range_join_left_keeps_unmatched_and_null_ts(spark, iv_frames):
    pts, ivs = iv_frames
    out = T.range_join(pts, ivs, ["k"], bucket_width_us=7 * M, how="left")
    rows = {r["pid"]: r for r in out.collect() if r["iv_name"] is None}
    # unmatched (4: out of range, 5: wrong key, 6: null ts) survive
    assert sorted(rows) == [4, 5, 6]
    assert all(r["lo_us"] is None for r in rows.values())
    assert out.count() == 5 + 3  # 5 matches + 3 null-extended points


def test_range_join_is_equi_join_not_nested_loop(spark, iv_frames):
    pts, ivs = iv_frames
    plan = T.range_join(
        pts, ivs, ["k"], bucket_width_us=7 * M
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_validations(spark, iv_frames):
    pts, ivs = iv_frames
    with pytest.raises(ValueError, match="how"):
        T.range_join(pts, ivs, ["k"], how="full")
    with pytest.raises(ValueError, match="bucket_width_us"):
        T.range_join(pts, ivs, ["k"], bucket_width_us=0)
    with pytest.raises(ValueError, match="collide"):
        T.range_join(
            pts.withColumn("iv_name", F.lit("x")), ivs, ["k"]
        )
    with pytest.raises(ValueError, match="collide"):
        T.range_join(
            pts.withColumn("__bucket", F.lit(0)), ivs, ["k"]
        )


def test_asof_join_single_key_exchange(spark):
    """The union-trick plan: both sides union BEFORE the one (key)
    exchange, so the whole as-of costs exactly one hashpartitioning
    shuffle — the property that lets it survive a 100x scale-up wherever
    a plain key join would."""
    l = spark.createDataFrame(
        [(1, 1, 100)], "eid long, k long, us long"
    ).withColumn("ts", F.timestamp_micros("us")).drop("us")
    r = spark.createDataFrame(
        [(1, 50, 5.0)], "k long, us long, v double"
    ).withColumn("ts", F.timestamp_micros("us")).drop("us")
    plan = (
        T.asof_join(l, r, ["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# interval_overlaps
# ---------------------------------------------------------------------------


def test_interval_overlaps_matches_self_join_oracle(spark):
    rows = [
        # k=1: A-B overlap (touching endpoint counts), C disjoint,
        # D-E identical duplicates, F contains G (nesting)
        ("A", 1, 0, 10), ("B", 1, 10, 20), ("C", 1, 30, 40),
        ("D", 1, 50, 60), ("E", 1, 50, 60),
        ("F", 1, 100, 200), ("G", 1, 120, 130),
        # k=2: same bounds as an overlapping k=1 pair but alone per key
        ("H", 2, 0, 10),
        # invalid rows: must flag false AND not flag neighbors
        ("I", 2, None, 10), ("J", 2, 60, 40), ("K", 2, 5, None),
    ]
    df = spark.createDataFrame(
        rows, "name string, k long, lo_us long, hi_us long"
    )
    got = {
        r["name"]: r["overlaps"]
        for r in T.interval_overlaps(df, ["k"], tiebreak_cols=["name"]).collect()
    }
    oracle = df.alias("a").join(
        df.alias("b"),
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.name") != F.col("b.name"))
        & (F.col("a.lo_us") <= F.col("b.hi_us"))
        & (F.col("b.lo_us") <= F.col("a.hi_us"))
        & (F.col("a.lo_us") <= F.col("a.hi_us"))
        & (F.col("b.lo_us") <= F.col("b.hi_us")),
        "left_semi",
    )
    flagged = {r["name"] for r in oracle.collect()}
    assert got == {r[0]: (r[0] in flagged) for r in rows}
    assert flagged == {"A", "B", "D", "E", "F", "G"}


def test_interval_overlaps_one_exchange(spark):
    df = spark.createDataFrame(
        [("A", 1, 0, 10)], "name string, k long, lo_us long, hi_us long"
    )
    plan = (
        T.interval_overlaps(df, ["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    # no shrinking unbounded-following frame (quadratic per partition)
    assert "UnboundedFollowing" not in plan.replace(
        "unboundedfollowing$()", ""
    )


# ---------------------------------------------------------------------------
# sequence_gaps
# ---------------------------------------------------------------------------


def test_sequence_gaps_keyed(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 5), (1, 5), (1, 9),
         (2, 10), (2, 11), (1, None)],
        "k long, seq long",
    )
    got = sorted(
        (r["k"], r["gap_start"], r["gap_end"], r["n_missing"])
        for r in T.sequence_gaps(df, "seq", key_cols=["k"]).collect()
    )
    assert got == [(1, 3, 4, 2), (1, 6, 8, 3)]


def test_sequence_gaps_global_with_boundary_stitch(spark):
    # ids 0..99 with three holes; num_partitions=8 forces holes to land
    # both inside range partitions and ACROSS partition boundaries
    present = [i for i in range(100) if i not in (*range(10, 15), 40, *range(70, 90))]
    df = spark.createDataFrame([(i,) for i in present], "seq long")
    got = sorted(
        (r["gap_start"], r["gap_end"], r["n_missing"])
        for r in T.sequence_gaps(df, "seq", num_partitions=8).collect()
    )
    assert got == [(10, 14, 5), (40, 40, 1), (70, 89, 20)]
    # duplicates and a single partition behave
    dup = spark.createDataFrame([(1,), (1,), (3,)], "seq long")
    got2 = [
        (r["gap_start"], r["gap_end"])
        for r in T.sequence_gaps(dup, "seq", num_partitions=1).collect()
    ]
    assert got2 == [(2, 2)]


def test_sequence_gaps_global_stable_under_coarse_sampling(spark):
    """Every call must return the exact hole list. A range partitioner
    re-samples its bounds in every query that evaluates it, so a window
    branch and a boundary-stitch aggregate built on it can disagree on
    where the partitions end; value-literal pid bounds cannot. A coarse
    range-exchange sample makes any such disagreement near-certain."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        df = spark.range(20_000).filter(F.col("id") % 13 != 0).toDF("seq")
        want = [(m, m, 1) for m in range(13, 20_000, 13)]
        for _ in range(3):
            got = sorted(
                (r["gap_start"], r["gap_end"], r["n_missing"])
                for r in T.sequence_gaps(df, "seq", num_partitions=16).collect()
            )
            assert got == want
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_output_column_clash_guards(events, spark):
    with pytest.raises(ValueError, match="session_seq"):
        T.sessionize(events.withColumn("session_seq", F.lit(1)))
    iv = spark.createDataFrame(
        [(1, 0, 10, True)], "k long, lo_us long, hi_us long, overlaps boolean"
    )
    with pytest.raises(ValueError, match="overlaps"):
        T.interval_overlaps(iv, ["k"])
