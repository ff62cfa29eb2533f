"""Bucketed co-located joins: matching bucket specs must elide the
Exchange entirely — the storage-level answer to re-joining the same
10^12-row corpus against its index tables every run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.operators.text import fingerprint  # noqa: E402
from json_to_avro_schema_spark.sources.bucketed import (  # noqa: E402
    co_located_join,
    dedup_exact_colocated,
    write_bucketed,
)
from json_to_avro_schema_spark.sources.synthetic import (  # noqa: E402
    generate_documents_iv,
)


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    docs = generate_documents_iv(spark, 5_000, violation_pct=5).withColumn(
        "fingerprint", fingerprint(F.to_json(F.col("spans")))
    )
    # historical index = fingerprints of the first 60% of docs
    index = docs.limit(3_000).select("fingerprint").distinct()
    write_bucketed(
        docs, "corpus_b", str(base / "corpus"), ["fingerprint"], n_buckets=8
    )
    write_bucketed(
        index, "index_b", str(base / "index"), ["fingerprint"], n_buckets=8
    )
    yield docs, index
    spark.sql("DROP TABLE IF EXISTS corpus_b")
    spark.sql("DROP TABLE IF EXISTS index_b")


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_colocated_join_has_no_exchange(spark, bucketed_tables, auto_broadcast_off):
    # at 10^12 rows neither side is broadcastable: pin the at-scale plan
    # (auto-broadcast would bypass the bucketed scan at sandbox scale)
    with auto_broadcast_off():
        joined = co_located_join(spark, "corpus_b", "index_b", ["fingerprint"])
        plan = _physical_plan(joined)
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_colocated_antijoin_matches_plain(spark, bucketed_tables, auto_broadcast_off):
    docs, index = bucketed_tables
    with auto_broadcast_off():
        fresh = dedup_exact_colocated(spark, "corpus_b", "index_b")
        assert "Exchange" not in _physical_plan(fresh)
    expected = docs.join(index, ["fingerprint"], "left_anti")
    assert fresh.count() == expected.count()
    a = {r["doc_id"] for r in fresh.select("doc_id").collect()}
    b = {r["doc_id"] for r in expected.select("doc_id").collect()}
    assert a == b


def test_mismatched_bucket_count_still_correct(spark, bucketed_tables, tmp_path):
    """A mismatched bucket count can't co-locate — Spark must fall back to a
    correct (shuffled or one-side-coalesced) join, never a wrong result."""
    docs, index = bucketed_tables
    write_bucketed(
        index, "index_b4", str(tmp_path / "index4"), ["fingerprint"], n_buckets=4
    )
    try:
        joined = co_located_join(spark, "corpus_b", "index_b4", ["fingerprint"])
        expected = spark.table("corpus_b").join(index, ["fingerprint"], "inner")
        assert joined.count() == expected.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS index_b4")


def test_colocated_dedup_query_cleans_up_each_replay(spark, tmp_path, monkeypatch):
    """Two consecutive replays of the ``colocated_dedup`` bench query in one
    process both return the oracle's counts, and neither leaves a
    ``colocated_*`` directory or catalog table behind: each replay builds
    its bucketed tables in its own scratch directory."""
    import tempfile

    import duckdb

    import __spark_entry__ as entry

    sf = tmp_path / "sf_tiny"
    spark.createDataFrame(
        [(i, f"text {i % 7}" if i < 280 else f"fresh {i}") for i in range(300)],
        "doc_id long, text string",
    ).write.parquet(str(sf / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf / 'documents.parquet'}/*.parquet')"
    )
    want = con.execute(entry.oracle_sql()["colocated_dedup"]).fetchall()
    assert want == [(20, sum(range(280, 300)))]

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    for _ in range(2):
        got = entry.queries()["colocated_dedup"](spark, str(sf)).collect()
        assert [tuple(r) for r in got] == want
        assert not os.listdir(scratch)
        assert not [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("colocated_")
        ]
