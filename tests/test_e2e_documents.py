"""End-to-end slice: synthetic interleaved documents → compiled spec →
violations + per-partition verdicts (SURVEY.md §7 step 4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_to_avro_schema_spark.compiler.plan import compile_document
from json_to_avro_schema_spark.runner import (
    CHECK_PREFIX,
    ROW_PASS,
    run_validation,
)
from json_to_avro_schema_spark.sources.synthetic import (
    documents_iv_spec,
    generate_documents_iv,
)


def test_generator_deterministic(spark):
    a = generate_documents_iv(spark, 500, seed=7).collect()
    b = generate_documents_iv(spark, 500, seed=7).collect()
    assert a == b
    c = generate_documents_iv(spark, 500, seed=8).collect()
    assert a != c


def test_generator_shape_and_skew(spark):
    df = generate_documents_iv(spark, 2000, violation_pct=0)
    assert [f.name for f in df.schema.fields] == ["doc_id", "spans", "part_key"]
    spans_t = df.schema["spans"].dataType
    elem = spans_t.elementType
    assert [f.name for f in elem.fields] == ["kind", "text", "media_ref", "offset"]
    counts = {r["part_key"]: r["n"] for r in df.groupBy("part_key").agg(F.count("*").alias("n")).collect()}
    top3 = sorted(counts.values(), reverse=True)[:3]
    # ~30% of rows forced onto 3 hot prefixes → visible skew
    assert sum(top3) > 0.25 * 2000


def test_clean_rows_all_pass(spark):
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 1000, violation_pct=0)
    res = run_validation(spark, df, plan)
    assert res.violations.count() == 0
    verdicts = res.verdicts.collect()
    assert all(r["pass"] for r in verdicts)
    assert sum(r["n_fail"] for r in verdicts) == 0


def test_seeded_violations_are_caught_and_byte_identical(spark):
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 4000, violation_pct=10)
    res = run_validation(spark, df, plan)
    viol = res.violations
    n_viol = viol.count()
    assert n_viol > 0

    # span-sequence equality invariant: violation rows reproduce the source
    # (kind, text, media_ref, order) byte-for-byte — join back on doc_id and
    # compare the spans column directly (dup doc_ids excluded: ambiguous join)
    dup_ids = df.groupBy("doc_id").count().filter("count > 1").select("doc_id")
    src = df.join(dup_ids, "doc_id", "left_anti").select("doc_id", F.col("spans").alias("src_spans"))
    joined = viol.join(dup_ids, "doc_id", "left_anti").join(src, "doc_id", "inner")
    mismatches = joined.filter(
        ~(F.col("spans").eqNullSafe(F.col("src_spans")))
    ).count()
    assert mismatches == 0

    # every failed check observed at least once across classes
    failed = set(
        r["c"] for r in viol.select(F.explode("failed_checks").alias("c")).distinct().collect()
    )
    assert "spans__conforms" in failed
    assert "spans__required" in failed


def test_verdict_counts_match_violations(spark):
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 3000, violation_pct=8)
    res = run_validation(spark, df, plan)
    total_rows = df.count()
    v = res.verdicts.groupBy("check_name").agg(
        F.sum("n_rows").alias("rows"), F.sum("n_fail").alias("fails")
    )
    rows_per_check = {r["check_name"]: (r["rows"], r["fails"]) for r in v.collect()}
    for name, (rows, _fails) in rows_per_check.items():
        assert rows == total_rows, name
    # cross-check one counter against a direct recount
    direct = res.checked.filter(~F.col(CHECK_PREFIX + "spans__conforms")).count()
    assert rows_per_check["spans__conforms"][1] == direct
    # row_pass == conjunction
    bad = res.checked.filter(F.col(ROW_PASS)).filter(
        ~F.col(CHECK_PREFIX + "doc_id__conforms")
    ).count()
    assert bad == 0


def test_verdicts_from_violations_equals_partition_verdicts(spark):
    from json_to_avro_schema_spark.runner import verdicts_from_violations

    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 5_000, violation_pct=5)
    res = run_validation(spark, df, plan)
    direct = {
        (r["part_key"], r["check_name"]): (r["n_rows"], r["n_fail"], r["pass"])
        for r in res.verdicts.collect()
    }
    fused = {
        (r["part_key"], r["check_name"]): (r["n_rows"], r["n_fail"], r["pass"])
        for r in verdicts_from_violations(df, res.violations, plan).collect()
    }
    assert fused == direct and len(fused) > 0


def test_sample_violations_per_partition(spark):
    from json_to_avro_schema_spark.runner import sample_violations

    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, 20_000, violation_pct=10)
    res = run_validation(spark, df, plan)
    sample = sample_violations(res.violations, k=3)
    counts = {
        r["part_key"]: r["n"]
        for r in sample.groupBy("part_key").agg(F.count("*").alias("n")).collect()
    }
    assert counts and all(n <= 3 for n in counts.values())
    # deterministic: same input → same sample
    again = sample_violations(res.violations, k=3)
    assert sorted(r["doc_id"] for r in sample.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
