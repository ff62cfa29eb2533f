"""Tiny-size self-check of the benchmark.

    python3 -m pytest perfbench/tests -q

Runs every workload end to end at a tiny size (a few minutes in all: each
run starts its own Spark JVM), checks the printed metrics against
``BENCHMARK.json`` by name and unit, and checks that the output checks catch
a wrong result. Not part of the repository's own test suite.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, trace  # noqa: E402
from perfbench.workloads import SWEEP_QUERIES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace_flag: int, cwd: str = ROOT, docs: int = 2000):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace_flag), "--docs", str(docs)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _expect(metrics: dict, declared: list) -> None:
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for v in metrics.values():
        assert isinstance(v["value"], float)


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == ["validate_scan", "operator_sweep"]
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_end_to_end(workload):
    r = _result(_run(workload, 0))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    _expect(r["metrics"], SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_validate_scan_traced():
    """The traced run reports the read-side layers, the roofline rungs and,
    from its sink pass, the sink, table-check and checkpoint layers."""
    r = _result(_run("validate_scan", 1))
    assert r["correct"]
    _expect(r["metrics"], SPEC["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["session.start_s"] > 0 and m["trace.spans"] > 0 and m["peak_rss_mb"] > 0
    assert m["runner.build_py4j_calls"] > 0 and m["exec.jobs"] > 0
    assert m["sources.decode_docs_per_s"] > 0 and m["runner.checks_docs_per_s"] > 0
    assert m["checkpoint.parts_processed"] == m["checkpoint.parts_pending"] > 0
    assert m["checkpoint.state_rows_written"] == m["checkpoint.parts_pending"]
    assert m["table_checks.jobs"] > 0 and m["runner.sink_write_s"] > 0


def test_operator_sweep_traced():
    r = _result(_run("operator_sweep", 1))
    assert r["correct"]
    _expect(r["metrics"], SPEC["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["operators.build_s"] > 0 and m["operators.build_py4j_calls"] > 0
    assert all(m[f"operators.{q}_s"] > 0 for q in SWEEP_QUERIES)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = _run("validate_scan", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_inputs_are_seeded():
    a, b = datagen.documents_iv(3, 500), datagen.documents_iv(3, 500)
    assert a.equals(b) and not a.equals(datagen.documents_iv(4, 500))
    t1, t2 = datagen.star_tables(3), datagen.star_tables(3)
    assert all(t1[k].equals(t2[k]) for k in t1)


def test_documents_carry_every_violation_class():
    rows = datagen.documents_iv(1, 5000).to_pylist()
    kinds = {s["kind"] for r in rows if r["spans"] for s in r["spans"]}
    assert kinds == {"text", "media", "video"}
    assert any(r["spans"] is None for r in rows)
    assert len({r["doc_id"] for r in rows}) < len(rows)  # duplicate doc_ids
    assert any(s["media_ref"] and s["media_ref"].startswith("m-missing-")
               for r in rows if r["spans"] for s in r["spans"])


def test_self_time_subtracts_children():
    root = trace.Span(1, None, "bench.iteration", 0.0, 10.0)
    child = trace.Span(2, 1, "runner.run_validation", 1.0, 4.0)
    grandchild = trace.Span(3, 2, "sink.write_parquet", 2.0, 3.0)
    st = trace.self_times([root, child, grandchild])
    assert st == {"bench": 7.0, "runner": 2.0, "sink": 1.0}
    tot = trace.layer_totals([root, child, grandchild], "runner")
    assert tot["s"] == 3.0 and tot["n"] == 1


def test_checks_catch_wrong_output(tmp_path):
    import pandas as pd

    from perfbench.workloads import OperatorSweep, ValidateScan
    from scripts.check_correctness import _canon, _hash

    v = ValidateScan()
    v.n_docs, v.expected, v.hashes = 3, {"00": 2, "01": 1}, set()
    v.hash_file = str(tmp_path / "verdicts.sha256")
    good = [{"part_key": "00", "check_name": "c", "n_rows": 2, "n_fail": 0, "pass": True},
            {"part_key": "01", "check_name": "c", "n_rows": 1, "n_fail": 1, "pass": False}]
    assert v.check(None, (None, good, 3)) == []
    assert v.check(None, (None, good, 2))                       # observed count
    assert v.check(None, (None, [good[0] | {"n_rows": 1}, good[1]], 3))  # counts
    v.hashes = set()
    assert v.check(None, (None, [good[0], good[1] | {"n_fail": 0}], 3))  # earlier run

    s = OperatorSweep()
    s._canon, s._hash = _canon, _hash
    frame = pd.DataFrame({"a": [1, 2], "b": [0.5, None]})
    s.expected = {"q": _hash(_canon(frame))}
    assert s.check(None, ({"q": frame},)) == []
    assert s.check(None, ({"q": frame.assign(a=[1, 3])},))
    assert s.check(None, ({"q": frame.astype({"a": float})},))  # type-sensitive
