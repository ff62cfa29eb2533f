"""CLI entrypoint (__main__.py): spark-submit shape, stdout JSON summary,
typed-error exit codes, checkpoint resume path."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_to_avro_schema_spark.__main__ import main  # noqa: E402
from json_to_avro_schema_spark.sources.synthetic import (  # noqa: E402
    generate_documents_iv,
)

SPEC = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "json_to_avro_schema_spark", "plans", "documents_iv.json",
)


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "docs.parquet")
    generate_documents_iv(spark, 2_000, violation_pct=5).write.parquet(p)
    return p


def test_cli_batch_run(spark, docs_parquet, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main([SPEC, "--table", docs_parquet, "--out", out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["spec"] == "DocumentsIV"
    assert summary["n_fail"] > 0
    assert spark.read.parquet(f"{out}/violations").count() > 0
    assert spark.read.parquet(f"{out}/verdicts").count() > 0


def test_cli_checkpoint_resume(spark, docs_parquet, tmp_path, capsys):
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "state")
    args = [SPEC, "--table", docs_parquet, "--out", out,
            "--checkpoint", ckpt, "--run-id", "cli-run"]
    assert main(args) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["partitions_processed"] > 0 and first["partitions_resumed"] == 0
    assert main(args) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["partitions_processed"] == 0
    assert second["partitions_resumed"] == first["partitions_total"]


def test_cli_bad_spec_exit_1(tmp_path, capsys):
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"$id": "x://a/B", "type": "integer",
                               "multipleOf": 0}))
    rc = main([str(bad), "--table", "/nonexistent", "--out", str(tmp_path)])
    assert rc == 1
    assert "multipleOf" in capsys.readouterr().err


def test_cli_table_checks_in_summary(spark, docs_parquet, tmp_path, capsys):
    out = str(tmp_path / "out3")
    rc = main([SPEC, "--table", docs_parquet, "--out", out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # documents_iv spec declares x-unique (doc_id) + x-stats; 5% seeded
    # violations include duplicate doc_ids, so the unique check fails
    assert summary["table_checks"]["unique_doc_id"] is False
    assert summary["table_checks_pass"] is False
    tv = spark.read.parquet(f"{out}/table_verdicts")
    assert {r["kind"] for r in tv.collect()} == {"unique", "stats"}


def _summary(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


# one spec per table-check family the CLI must gate in (check name, kind,
# spec fragment); the ref family reads its parent table via --ref-table
FAMILIES = {
    "unique": ("uk", "unique", {"x-unique": [{"name": "uk", "columns": ["k"]}]}),
    "ref": ("fk", "ref", {"x-ref": [
        {"name": "fk", "columns": ["k"], "refTable": "parent"}]}),
    "drift": ("dv", "drift_skipped", {"x-drift": [
        {"name": "dv", "column": "v", "bins": 4, "lo": 0.0, "hi": 40.0}]}),
    "stats": ("stats_v", "stats", {"x-stats": ["v"]}),
    "fd": ("fd1", "fd", {"x-fd": [
        {"name": "fd1", "determinants": ["k"], "dependents": ["v"]}]}),
    "outlier": ("o1", "outlier", {"x-outlier": [{"name": "o1", "column": "v"}]}),
    "benford": ("b1", "benford", {"x-benford": [{"name": "b1", "column": "v"}]}),
    "vector": ("vec1", "vector", {"x-vector": [
        {"name": "vec1", "column": "emb", "dim": 2}]}),
}


@pytest.fixture(scope="module")
def family_table(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli_fam") / "t.parquet")
    spark.createDataFrame(
        [(f"k{i}", float(i + 1), [1.0, float(i)], f"p{i % 2}")
         for i in range(40)],
        "k string, v double, emb array<float>, part_key string",
    ).write.parquet(p)
    return p


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_cli_runs_every_table_check_family(
    spark, family_table, tmp_path, capsys, family
):
    name, kind, fragment = FAMILIES[family]
    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps({
        "$id": "x://t/Fam", "type": "object",
        "properties": {"k": {"type": "string"}, "v": {"type": "number"}},
        **fragment,
    }))
    out = str(tmp_path / "out")
    rc = main([str(spec), "--table", family_table, "--out", out,
               "--ref-table", f"parent={family_table}"])
    assert rc == 0
    assert name in _summary(capsys)["table_checks"]
    tv = spark.read.parquet(f"{out}/table_verdicts").collect()
    assert [(r["check_name"], r["kind"]) for r in tv] == [(name, kind)]


def _spec_file(tmp_path, warn: bool) -> str:
    with open(SPEC, encoding="utf-8") as f:
        doc = json.load(f)
    if warn:
        doc["properties"]["doc_id"]["x-severity"] = "warn"
    p = tmp_path / ("warn.json" if warn else "enforce.json")
    p.write_text(json.dumps(doc))
    return str(p)


def _verdict_rows(spark, path, key, frame=None):
    frame = spark.read.parquet(path) if frame is None else frame
    return sorted(
        (tuple(r) for r in frame
         .select(key, "check_name", "n_rows", "n_fail", "pass").collect()),
        key=lambda r: tuple("" if v is None else str(v) for v in r),
    )


@pytest.mark.parametrize("warn", [False, True], ids=["enforce", "warn"])
def test_cli_plain_and_checkpoint_write_same_verdicts(
    spark, docs_parquet, tmp_path, capsys, warn
):
    """Both CLI modes go through one sink step, so the verdict rows match
    under the default key and under --part-key-col alike, whichever arm
    of the verdict rule the spec takes."""
    spec = _spec_file(tmp_path, warn)
    shard_table = str(tmp_path / "shard.parquet")
    spark.read.parquet(docs_parquet).withColumnRenamed(
        "part_key", "shard"
    ).write.parquet(shard_table)
    for key, table in (("part_key", docs_parquet), ("shard", shard_table)):
        common = [spec, "--table", table, "--part-key-col", key]
        plain, resumed = str(tmp_path / f"plain_{key}"), str(tmp_path / f"ckpt_{key}")
        assert main(common + ["--out", plain]) == 0
        assert main(common + ["--out", resumed, "--checkpoint",
                              str(tmp_path / f"state_{key}"), "--run-id", "r"]) == 0
        capsys.readouterr()
        rows = _verdict_rows(spark, f"{plain}/verdicts", key)
        assert rows and rows == _verdict_rows(spark, f"{resumed}/verdicts", key)


def test_cli_custom_key_with_literal_part_key_column(
    spark, docs_parquet, tmp_path, capsys
):
    """A warn-severity spec, --part-key-col shard, and an unrelated literal
    part_key data column: the plain run must key its verdicts by shard
    (it used to fail with AMBIGUOUS_REFERENCE)."""
    table = str(tmp_path / "clash.parquet")
    spark.read.parquet(docs_parquet).withColumnRenamed(
        "part_key", "shard"
    ).withColumn("part_key", F.lit("unrelated")).write.parquet(table)
    out = str(tmp_path / "out")
    rc = main([_spec_file(tmp_path, warn=True), "--table", table, "--out", out,
               "--part-key-col", "shard"])
    assert rc == 0 and _summary(capsys)["n_fail"] > 0
    verd = spark.read.parquet(f"{out}/verdicts")
    n_shards = spark.read.parquet(table).select("shard").distinct().count()
    assert "part_key" not in verd.columns
    assert verd.select("shard").distinct().count() == n_shards > 1


def test_cli_null_partition_key_keeps_its_failures(
    spark, docs_parquet, tmp_path, capsys
):
    """Rows with a null partition key form their own partition; the plain
    run's verdicts (derived from the written violations) must count their
    failures as partition_verdicts does, not report them as passing."""
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.runner import run_validation

    table = str(tmp_path / "nullkey.parquet")
    spark.read.parquet(docs_parquet).withColumn(
        "part_key",
        F.when(F.abs(F.hash("doc_id")) % 4 == 0, None)
        .otherwise(F.col("part_key")),
    ).write.parquet(table)
    out = str(tmp_path / "out")
    assert main([SPEC, "--table", table, "--out", out]) == 0
    capsys.readouterr()
    with open(SPEC, encoding="utf-8") as f:
        plan = compile_document(json.load(f))
    df = spark.read.parquet(table)
    want = _verdict_rows(
        spark, None, "part_key", run_validation(spark, df, plan).verdicts
    )
    got = _verdict_rows(spark, f"{out}/verdicts", "part_key")
    assert any(r[0] is None and r[3] > 0 for r in want)
    assert got == want
