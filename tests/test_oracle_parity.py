"""Mirror of the driver's correctness gate: every queries() entry with an
oracle_sql() entry must match DuckDB on the same parquet tables at sf0.01 —
row count, column names, and order-insensitive values — and must leave
nothing behind in the shared session or on disk."""

from __future__ import annotations

import math
import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    # Type-strict on purpose: the driver's value hash distinguishes int from
    # float (DuckDB sum() exports as decimal128 unless CAST to BIGINT), so
    # ints stay ints here. Floats are rounded to absorb IEEE noise only.
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _kind(dtype) -> str:
    """Pandas dtype kind: the driver's hash merges decimal→float but splits
    int vs float (DuckDB HUGEINT sum() lands as float64), so kind-level
    parity is the right mirror."""
    return dtype.kind


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(_norm(r[i]) for i in order))
    return sorted(out, key=repr), [colnames[i] for i in order]


ORACLED = sorted(entrymod.oracle_sql().keys())


def _held(spark):
    """What a query could leave behind: directories under the temp dir,
    catalog tables and temp views (a memory sink's table stays registered
    after ``stop()``) and the shuffle-partition conf."""
    return (
        {e.name for e in os.scandir(tempfile.gettempdir()) if e.is_dir()},
        {t.name for t in spark.catalog.listTables()},
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name, tmp_path, monkeypatch):
    # the query's temp directories land in tmp_path, so entries other
    # processes make in the shared temp dir cannot show up as its leftovers
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dirs0, views0, parts0 = _held(spark)
    q = entrymod.queries()[name]
    spark_df = q(spark, SF_DIR)
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    s_rows, s_cols = _normalize(spark_rows, spark_cols)
    d_rows, d_cols = _normalize(duck_rows, duck_cols)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"

    # physical type parity (the driver's value hash is type-sensitive:
    # int-family vs float-family must agree on every column)
    s_pd = spark_df.toPandas()
    d_pd = ddb.execute(entrymod.oracle_sql()[name]).df()
    s_types = {c: _kind(s_pd.dtypes[c]) for c in s_pd.columns}
    d_types = {c: _kind(d_pd.dtypes[c]) for c in d_pd.columns}
    assert s_types == d_types, f"{name}: dtype kind mismatch {s_types} vs {d_types}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"

    # postcondition: the query released what it took
    dirs, views, parts = _held(spark)
    assert not dirs - dirs0, f"{name}: left {sorted(dirs - dirs0)}"
    assert views == views0, f"{name}: left tables {sorted(views - views0)}"
    assert not spark.streams.active, f"{name}: streams still active"
    assert parts == parts0, f"{name}: shuffle partitions {parts0} -> {parts}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"part_key", "check_name", "n_rows", "n_fail", "pass"}


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    for name in sorted(set(qs) - set(entrymod.oracle_sql())):
        n = qs[name](spark, "/root/testdata/sf0.001").count()
        assert n >= 0, name
