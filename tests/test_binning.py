"""Discretization (operators/binning.py) and Benford conformity
(operators/drift.benford_report): numpy/brute-force parity, boundary and
clamp semantics, null handling, and the shuffle-free assignment plan."""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.operators.binning import (  # noqa: E402
    assign_bins,
    quantile_bin_edges,
    quantile_bins,
    width_bins,
)
from json_to_avro_schema_spark.operators.drift import benford_report  # noqa: E402

VALS = [float(v) for v in np.random.RandomState(7).gamma(2.0, 50.0, 500).round(2)]


@pytest.fixture(scope="module")
def vdf(spark):
    rows = [(i, v) for i, v in enumerate(VALS)] + [(999, None)]
    return spark.createDataFrame(rows, "id long, v double")


def test_quantile_edges_match_numpy(vdf):
    edges = quantile_bin_edges(vdf, "v", 4)
    want = [round(float(np.percentile(VALS, p)), 6) for p in (25, 50, 75)]
    assert edges == want


def test_quantile_bins_assignment_and_nulls(vdf):
    edges = quantile_bin_edges(vdf, "v", 4)
    got = {r["id"]: r["v_bin"] for r in quantile_bins(vdf, "v", 4).collect()}
    for i, v in enumerate(VALS):
        assert got[i] == sum(1 for e in edges if v >= e), (i, v)
    assert got[999] is None
    # roughly equal occupancy
    from collections import Counter

    c = Counter(b for i, b in got.items() if i != 999)
    assert set(c) == {0, 1, 2, 3}
    assert max(c.values()) - min(c.values()) <= 10


def test_precomputed_edges_path_is_shuffle_free(vdf):
    out = quantile_bins(vdf, "v", edges=[50.0, 100.0], out_col="b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["id"]: r["b"] for r in out.collect()}
    assert got[0] == sum(1 for e in (50.0, 100.0) if VALS[0] >= e)


def test_width_bins_clamps(spark):
    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.0), (3, 9.99), (4, 10.0), (5, 25.0), (6, None)],
        "id long, v double",
    )
    got = {r["id"]: r["v_bin"] for r in width_bins(df, "v", 5, 0.0, 10.0).collect()}
    assert got == {1: 0, 2: 0, 3: 4, 4: 4, 5: 4, 6: None}


def test_binning_errors(vdf):
    with pytest.raises(ValueError):
        quantile_bin_edges(vdf, "v", 1)
    with pytest.raises(ValueError):
        width_bins(vdf, "v", 3, 5.0, 5.0)


def _brute_benford(vals, thr=0.015):
    from collections import Counter

    digs = []
    for v in vals:
        if v is None or v == 0:
            continue
        x = abs(v)
        d0 = math.floor(x / 10 ** math.floor(math.log10(x)))
        d = 1 if d0 >= 10 else (9 if d0 < 1 else int(d0))
        digs.append(d)
    c = Counter(digs)
    tot = float(len(digs))
    rows, devs = [], []
    for d in range(1, 10):
        op = c.get(d, 0) / tot
        ep = math.log10(1 + 1.0 / d)
        devs.append(abs(op - ep))
        rows.append((d, c.get(d, 0), round(op, 6), round(ep, 6), round(abs(op - ep), 6)))
    mad = round(sum(devs) / 9, 6)
    return [(d, n, op, ep, ad, mad, mad <= thr) for d, n, op, ep, ad in rows]


def test_benford_conforming_corpus(spark):
    # log-uniform magnitudes => Benford by construction
    rng = np.random.RandomState(3)
    vals = [float(10 ** u) for u in rng.uniform(0, 4, 4000)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] + [(9999, None), (9998, 0.0)],
        "id long, v double",
    )
    got = [tuple(r) for r in benford_report(df, "v").collect()]
    assert got == _brute_benford(vals)
    assert all(r[6] for r in got)  # conforms
    assert sum(r[1] for r in got) == len(vals)  # null/zero excluded


def test_benford_nonconforming_and_powers_of_ten(spark):
    vals = [500.0 + i for i in range(300)]  # all leading digit 5-7
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    got = {r["digit"]: r for r in benford_report(df, "v").collect()}
    assert not got[1]["conforms"]
    assert got[2]["n"] == 0 and got[2]["observed_p"] == 0.0
    # exact powers of ten must land on digit 1 (the clamp contract)
    p10 = spark.createDataFrame(
        [(i, float(10 ** i)) for i in range(7)], "id long, v double"
    )
    gp = {r["digit"]: r["n"] for r in benford_report(p10, "v").collect()}
    assert gp[1] == 7 and sum(gp.values()) == 7


def test_x_benford_table_check(spark):
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.errors import SpecCompileError
    from json_to_avro_schema_spark.table_checks import run_table_checks

    rng = np.random.RandomState(11)
    good = [float(10 ** u) for u in rng.uniform(0, 3, 2000)]
    bad = [500.0 + (i % 100) for i in range(2000)]
    df = spark.createDataFrame(
        [(g, b) for g, b in zip(good, bad)], "amount double, fabricated double"
    )
    doc = {
        "$id": "x://t/BF", "type": "object",
        "properties": {
            "amount": {"type": "number"}, "fabricated": {"type": "number"},
        },
        "x-benford": [
            {"column": "amount"},
            {"name": "bf_fab", "column": "fabricated", "madThreshold": 0.02},
        ],
    }
    out = {
        r["check_name"]: r
        for r in run_table_checks(spark, df, compile_document(doc)).collect()
    }
    ok = out["benford_amount"]
    assert ok["kind"] == "benford" and ok["pass"] and ok["n_rows"] == 2000
    assert ok["n_bad"] == 0
    fab = out["bf_fab"]
    assert not fab["pass"] and fab["n_bad"] == 1

    with pytest.raises(SpecCompileError, match="madThreshold"):
        compile_document({
            "$id": "x://t/BFE", "type": "object",
            "properties": {"a": {"type": "number"}},
            "x-benford": [{"column": "a", "madThreshold": 0}],
        })
    with pytest.raises(SpecCompileError, match="x-benford 'benford'.*column"):
        compile_document({
            "$id": "x://t/BFE2", "type": "object",
            "properties": {"a": {"type": "number"}},
            "x-benford": [{"madThreshold": 0.02}],
        })


def test_all_null_column_raises_cleanly(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id long, v double")
    with pytest.raises(ValueError, match="no non-null values"):
        quantile_bin_edges(df, "v", 4)


def test_benford_all_zero_column_null_verdict(spark):
    # hypothesis regression (vals=[0.0]): no nonzero values -> null
    # shares/verdict, NOT a divide-by-zero; the x-benford check passes
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.table_checks import run_table_checks

    df = spark.createDataFrame(
        [(1, 0.0), (2, None)], "id long, v double"
    )
    rows = benford_report(df, "v").collect()
    assert len(rows) == 9
    assert all(r["n"] == 0 for r in rows)
    assert all(r["observed_p"] is None and r["conforms"] is None for r in rows)
    doc = {
        "$id": "x://t/BF0", "type": "object",
        "properties": {"v": {"type": "number"}},
        "x-benford": [{"column": "v"}],
    }
    out = run_table_checks(spark, df, compile_document(doc)).collect()[0]
    assert out["pass"] and out["n_rows"] == 0 and out["n_bad"] == 0


def test_standardize_zscore_and_minmax(spark):
    import statistics

    from json_to_avro_schema_spark.operators.binning import standardize

    rows = (
        [(i, "A", float(v)) for i, v in enumerate([2, 4, 4, 4, 5, 5, 7, 9])]
        + [(100, "B", 3.0), (101, "B", 3.0)]   # zero variance
        + [(200, "A", None)]
    )
    df = spark.createDataFrame(rows, "id long, g string, v double")
    z = {r["id"]: r["v_scaled"] for r in standardize(df, "v", by=["g"]).collect()}
    a = [2, 4, 4, 4, 5, 5, 7, 9]
    m, s = statistics.mean(a), statistics.stdev(a)
    for i, v in enumerate(a):
        assert z[i] == round((v - m) / s, 6)
    assert z[100] is None and z[101] is None  # degenerate group
    assert z[200] is None                     # null value

    mm = {
        r["id"]: r["v_scaled"]
        for r in standardize(df, "v", by=["g"], method="minmax").collect()
    }
    for i, v in enumerate(a):
        assert mm[i] == round((v - 2) / 7, 6)
    assert mm[100] is None
    with pytest.raises(ValueError):
        standardize(df, "v", method="robust")
