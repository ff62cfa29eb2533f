"""CLI entrypoint — the ``spark-submit --py-files`` shape the north rule
mandates::

    spark-submit --master <cluster> --py-files engine.zip \
        scripts/submit_job.py spec.json \
        [-n/--namespace NS] --table <parquet-or-iceberg> --out <dir> \
        [--checkpoint <dir>] [--run-id ID] [--part-key-col part_key]

(``scripts/submit_job.py`` shims to :func:`main` — spark-submit runs script
files, not ``-m`` modules; ``python -m json_to_avro_schema_spark`` works
locally. ``scripts/make_pyfiles.py`` builds engine.zip.)

Both modes run one sink step, :func:`runner.sink_validation`: violations,
then verdicts keyed by ``--part-key-col`` — derived from the written
violations when every check enforces, from the checked rows when any check
is ``x-severity: warn``. A plain run writes flat ``violations/`` and
``verdicts/``; a ``--checkpoint`` run writes them hive-partitioned by the
key, for the pending partitions only (``checkpoint.py``). Any table check
the plan declares adds ``table_verdicts/``.

Arg handling mirrors the reference CLI (``[-n/--namespace ns] inputFile``,
/root/reference/src/main/scala/Application.scala:47-61): result to stdout,
logs to stderr, non-zero exit on typed spec errors.
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from .checkpoint import CheckpointStore, run_with_checkpoint
from .compiler.plan import compile_document
from .errors import SpecError
from .runner import sink_validation
from .session import get_spark
from .sources.iceberg import read_table


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="json_to_avro_schema_spark")
    p.add_argument("spec", help="constraint spec JSON file")
    p.add_argument("-n", "--namespace", default=None,
                   help="verdict namespace prefix (reference parity)")
    p.add_argument("--table", required=True, help="input parquet path / iceberg table")
    p.add_argument("--out", required=True, help="output dir (violations/, verdicts/)")
    p.add_argument("--checkpoint", default=None, help="state-table dir enabling resume")
    p.add_argument("--run-id", default=None)
    p.add_argument("--part-key-col", default="part_key")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument(
        "--ref-table", action="append", default=[], metavar="NAME=PATH",
        help="parent table for the spec's x-ref checks (repeatable)",
    )
    p.add_argument(
        "--drift-baseline", action="append", default=[], metavar="NAME=PATH",
        help="baseline table for the spec's x-drift checks (repeatable)",
    )
    args = p.parse_args(argv)

    try:
        with open(args.spec, "r", encoding="utf-8") as f:
            doc = json.load(f)
        plan = compile_document(doc)
    except (SpecError, OSError, json.JSONDecodeError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1

    spark = get_spark(app=f"validate:{plan.spec_name}", cpus=args.cpus)
    try:
        df = read_table(spark, args.table)
    except Exception as e:
        print(f"error: {e}", file=sys.stderr)
        return 1

    from .errors import SchemaMismatchError

    try:
        return _run(spark, df, plan, args)
    except SchemaMismatchError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2


def _run(spark, df, plan, args) -> int:
    summary = {"spec": plan.spec_name, "spec_hash": plan.spec_hash}
    if args.checkpoint:
        store = CheckpointStore(args.checkpoint)
        run_id = args.run_id or uuid.uuid4().hex[:12]
        r = run_with_checkpoint(
            spark, df, plan, store, run_id, args.out,
            part_key_col=args.part_key_col,
        )
        summary.update({
            "run_id": r.run_id,
            "partitions_total": r.n_partitions_total,
            "partitions_resumed": r.n_partitions_resumed,
            "partitions_processed": r.n_partitions_processed,
        })
    else:
        sink_validation(
            spark, df, plan, args.out, part_key_col=args.part_key_col
        )
        verd = spark.read.parquet(f"{args.out}/verdicts")
        n_fail = verd.agg({"n_fail": "sum"}).collect()[0][0] or 0
        summary.update({
            "n_checks": len(plan.row_checks),
            "n_fail": int(n_fail),
        })
    summary["unchecked_paths"] = plan.unchecked_paths
    if plan.has_table_checks():
        from .table_checks import run_table_checks

        def _parse_kv(pairs):
            out = {}
            for kv in pairs:
                name, _, path = kv.partition("=")
                out[name] = read_table(spark, path)
            return out

        tv = run_table_checks(
            spark, df, plan,
            ref_tables=_parse_kv(args.ref_table),
            drift_baselines=_parse_kv(args.drift_baseline),
        )
        tv.write.mode("overwrite").parquet(f"{args.out}/table_verdicts")
        rows = tv.collect()
        summary["table_checks"] = {
            r["check_name"]: bool(r["pass"]) for r in rows
        }
        summary["table_checks_pass"] = all(r["pass"] for r in rows)

    if args.namespace:
        summary["namespace"] = args.namespace
    print(json.dumps(summary))  # result on stdout, logs on stderr
    return 0


if __name__ == "__main__":
    sys.exit(main())
