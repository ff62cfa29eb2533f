"""Deployment-shape evidence: the engine ships via ``spark-submit
--py-files engine.zip`` (north rule). The test builds the zip, then runs a
real spark-submit in a scratch cwd with the repo stripped from PYTHONPATH —
the package can only arrive through --py-files — and checks the JSON
summary plus the written violation/verdict parquet."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from json_to_avro_schema_spark.sources.synthetic import (  # noqa: E402
    generate_documents_iv,
)

SPEC = os.path.join(REPO, "json_to_avro_schema_spark", "plans", "documents_iv.json")


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    from scripts.make_pyfiles import build

    zip_path = build(str(tmp_path / "engine.zip"))
    names = zipfile.ZipFile(zip_path).namelist()
    assert "json_to_avro_schema_spark/__init__.py" in names
    assert not any(n.endswith(".pyc") for n in names)

    table = str(tmp_path / "docs.parquet")
    generate_documents_iv(spark, 2_000, violation_pct=5).write.parquet(table)

    out = str(tmp_path / "out")
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # package must come from --py-files
    }
    env["SPARK_GRAFT_CPUS"] = "4"  # ignored under submit; keeps get_spark sane
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "submit_job.py"),
            SPEC, "--table", table, "--out", out,
        ],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["spec"] == "DocumentsIV"
    assert summary["n_fail"] > 0
    assert spark.read.parquet(f"{out}/violations").count() > 0
    assert spark.read.parquet(f"{out}/verdicts").count() > 0
