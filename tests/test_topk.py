"""Grouped top-K: the path must carry Catalyst's Partial WindowGroupLimit
(native two-phase, skew-proof) and equal the plain window exactly."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.operators.topk import grouped_topk  # noqa: E402


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 3 groups with heavy skew (like l_returnflag) + duplicate values (ties)
    return (
        spark.range(30_000)
        .select(
            F.when(F.col("id") % 10 < 7, "A")
            .when(F.col("id") % 10 < 9, "B")
            .otherwise("C")
            .alias("grp"),
            (F.pmod(F.xxhash64("id"), F.lit(500))).alias("val"),
            F.col("id"),
        )
    )


def _plain(df, k):
    w = Window.partitionBy("grp").orderBy(F.col("val").desc(), F.col("id"))
    return (
        df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    )


def _rows(df):
    return sorted(map(tuple, df.select("grp", "val", "id", "rk").collect()))


def test_matches_plain_window_with_ties(spark, skewed_df):
    got = grouped_topk(
        skewed_df,
        ["grp"],
        [F.col("val").desc(), F.col("id")],
        7,
    )
    assert _rows(got) == _rows(_plain(skewed_df, 7))


def test_partition_independent_and_deterministic(spark, skewed_df):
    a = _rows(
        grouped_topk(skewed_df, ["grp"], [F.col("val").desc(), F.col("id")], 5)
    )
    b = _rows(
        grouped_topk(
            skewed_df.repartition(13),
            ["grp"],
            [F.col("val").desc(), F.col("id")],
            5,
        )
    )
    assert a == b


def test_group_smaller_than_k(spark):
    df = spark.createDataFrame(
        [("g", i, i) for i in range(3)], "grp string, val long, id long"
    )
    out = grouped_topk(
        df, ["grp"], [F.col("val").desc(), F.col("id")], 10
    )
    assert out.count() == 3


def test_bad_k_rejected(spark, skewed_df):
    with pytest.raises(ValueError):
        grouped_topk(skewed_df, ["grp"], [F.col("val").desc()], 0)


def test_working_column_clash_rejected(spark, skewed_df):
    with pytest.raises(ValueError):
        grouped_topk(
            skewed_df.withColumn("rk", F.lit(1)),
            ["grp"], [F.col("val").desc(), F.col("id")], 5,
        )


def test_default_path_has_partial_window_group_limit(spark, skewed_df):
    """The skew-safety claim of the default path IS this plan shape: a
    Partial WindowGroupLimit below the exchange means map tasks pre-prune
    to their local top-K — Catalyst's native two-phase (Spark ≥ 3.5)."""
    plan = (
        grouped_topk(
            skewed_df, ["grp"], [F.col("val").desc(), F.col("id")], 5
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan

