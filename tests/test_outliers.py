"""Row-level outlier detectors (operators/outliers.py): MAD robust-z and
IQR fences vs numpy re-derivations, grouped isolation, the zero-MAD /
constant-group refusal, null handling, and the broadcast-join plan shape."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.operators.outliers import (  # noqa: E402
    mad_outliers,
    iqr_outliers,
)

# group A: tight cluster + one wild spike; group B: same spread, no spike;
# group C: constant (MAD 0, IQR 0)
A = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.5, 9.0, 10.0, 500.0]
B = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 11.5, 9.0, 10.0, 10.5]
C = [7.0] * 6


def _mad_brute(vals, k=3.5):
    med = float(np.percentile(vals, 50))
    mad = float(np.percentile([abs(v - med) for v in vals], 50))
    out = []
    for i, v in enumerate(vals):
        if mad > 0:
            z = round(0.6745 * (v - med) / mad, 6)
            if abs(z) > k:
                out.append((i, v, round(med, 6), round(mad, 6), z))
    return out


def _iqr_brute(vals, factor=1.5):
    q1 = float(np.percentile(vals, 25))
    q3 = float(np.percentile(vals, 75))
    lo, hi = round(q1 - factor * (q3 - q1), 6), round(q3 + factor * (q3 - q1), 6)
    return [(i, v, lo, hi) for i, v in enumerate(vals) if v < lo or v > hi]


@pytest.fixture(scope="module")
def df(spark):
    rows = (
        [(i, "A", v) for i, v in enumerate(A)]
        + [(100 + i, "B", v) for i, v in enumerate(B)]
        + [(200 + i, "C", v) for i, v in enumerate(C)]
        + [(300, "A", None)]
    )
    return spark.createDataFrame(rows, "id long, grp string, val double")


def test_mad_grouped_matches_bruteforce(df):
    got = sorted(
        (r["id"], r["val"], r["med"], r["mad"], r["robust_z"])
        for r in mad_outliers(df, "val", by=["grp"]).collect()
    )
    # brute-force: nulls are excluded from Spark percentile, so group A's
    # stats come from A alone; only A's spike flags, B and C flag nothing
    want = sorted((i, v, m, md, z) for i, v, m, md, z in _mad_brute(A))
    assert got == want
    assert len(got) == 1 and got[0][0] == 9  # the 500.0 row


def test_mad_global_and_null_never_flagged(df):
    flagged = mad_outliers(df.filter(F.col("grp") != "C"), "val").collect()
    assert all(r["id"] != 300 for r in flagged)
    assert any(r["val"] == 500.0 for r in flagged)


def test_mad_zero_mad_group_flags_nothing(df):
    assert (
        mad_outliers(df.filter(F.col("grp") == "C"), "val", by=["grp"]).count()
        == 0
    )


def test_mad_approx_same_spike(df):
    got = mad_outliers(df, "val", by=["grp"], approx=True).collect()
    assert [r["id"] for r in got] == [9]


def test_iqr_grouped_matches_bruteforce(df):
    got = sorted(
        (r["id"], r["val"], r["lo_fence"], r["hi_fence"])
        for r in iqr_outliers(df, "val", by=["grp"]).collect()
    )
    want = sorted(
        [(i, v, lo, hi) for i, v, lo, hi in _iqr_brute(A)]
        + [(100 + i, v, lo, hi) for i, v, lo, hi in _iqr_brute(B)]
    )
    assert got == want
    assert all(g != "C" for g in [])  # constant group contributes nothing


def test_iqr_constant_group_flags_nothing(df):
    assert (
        iqr_outliers(df.filter(F.col("grp") == "C"), "val", by=["grp"]).count()
        == 0
    )


def test_plan_broadcasts_group_stats(df):
    plan = (
        mad_outliers(df, "val", by=["grp"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    plan2 = (
        iqr_outliers(df, "val", by=["grp"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan2, plan2


def test_x_outlier_table_check(spark, df):
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.errors import SpecCompileError
    from json_to_avro_schema_spark.table_checks import run_table_checks

    doc = {
        "$id": "x://t/OUT", "type": "object",
        "properties": {
            "id": {"type": "integer"}, "grp": {"type": "string"},
            "val": {"type": "number"},
        },
        "x-outlier": [
            {"name": "strict", "column": "val", "by": "grp"},
            {"name": "budgeted", "column": "val", "by": "grp",
             "maxFraction": 0.05},
            {"name": "iqr_far", "column": "val", "method": "iqr", "k": 3.0},
        ],
    }
    out = {
        r["check_name"]: r
        for r in run_table_checks(spark, df, compile_document(doc)).collect()
    }
    # one spike among 27 values: strict (budget 0) fails, 5% budget passes
    strict = out["strict"]
    assert strict["kind"] == "outlier" and strict["n_bad"] == 1
    assert strict["n_rows"] == 26 and not strict["pass"]  # null excluded
    assert out["budgeted"]["pass"]
    assert out["iqr_far"]["kind"] == "outlier"

    with pytest.raises(SpecCompileError, match="method"):
        compile_document({
            "$id": "x://t/OE", "type": "object",
            "properties": {"v": {"type": "number"}},
            "x-outlier": [{"column": "v", "method": "zscore"}],
        })
    with pytest.raises(SpecCompileError, match="maxFraction"):
        compile_document({
            "$id": "x://t/OE2", "type": "object",
            "properties": {"v": {"type": "number"}},
            "x-outlier": [{"column": "v", "maxFraction": 1.0}],
        })
    with pytest.raises(SpecCompileError, match="x-outlier 'no_col'.*column"):
        compile_document({
            "$id": "x://t/OE3", "type": "object",
            "properties": {"v": {"type": "number"}},
            "x-outlier": [{"name": "no_col", "method": "iqr"}],
        })
