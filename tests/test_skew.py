"""Unit tests for the key-skew diagnostics (operators/skew.py)."""

from __future__ import annotations

import pytest

from json_to_avro_schema_spark.operators.skew import (
    key_counts,
    skew_report,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # key "hot" x 90, "warm" x 8, "a"/"b" x 1 — skew factor 90/25 = 3.6
    rows = [("hot",)] * 90 + [("warm",)] * 8 + [("a",), ("b",)]
    return spark.createDataFrame(rows, "k string")


def test_key_counts(spark, skewed):
    got = {r["key"]: r["cnt"] for r in key_counts(skewed, "k").collect()}
    assert got == {"hot": 90, "warm": 8, "a": 1, "b": 1}


def test_skew_report_values(spark, skewed):
    rep = skew_report(skewed, "k", top_k=3, target_rows_per_task=40).collect()
    assert [r["key"] for r in rep] == ["hot", "warm", "a"]  # cnt desc, key asc
    top = rep[0]
    assert top["n_keys"] == 4 and top["n_rows"] == 100 and top["max_cnt"] == 90
    assert top["avg_cnt"] == 25.0
    assert top["skew_factor"] == pytest.approx(3.6)
    assert top["recommended_salt"] == 3  # ceil(90/40)
    # stats identical on every row (one-row broadcast)
    assert {r["recommended_salt"] for r in rep} == {3}


def test_skew_report_ties_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "k string")
    rep = skew_report(df, "k", top_k=2).collect()
    assert [r["key"] for r in rep] == ["a", "b"]  # tie on cnt -> key asc


def test_skew_report_rank_limit_pushdown_plan(spark, skewed):
    """The global top-K must never single-task-sort all per-key counts:
    Catalyst rewrites the rank<=K filter into TakeOrderedAndProject
    (per-partition top-K heap + driver merge — even tighter than the
    WindowGroupLimit two-phase pinned for operators/topk.py's grouped
    case). Pin either shape; a bare global Sort under the Window is the
    regression this guards against."""
    plan = (
        skew_report(skewed, "k", top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, plan


def test_skew_report_approx_path(spark, skewed):
    """approx=True (the 10^9-key scale path) swaps exact percentile for
    the GK sketch; integer stats are identical either way."""
    rep = skew_report(skewed, "k", top_k=1, approx=True).collect()[0]
    assert rep["n_keys"] == 4 and rep["max_cnt"] == 90
    assert rep["p50_cnt"] in (1.0, 8.0)  # GK on 4 values: a real count
    plan_src = (
        skew_report(skewed, "k", approx=True)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "percentile_approx" in plan_src
