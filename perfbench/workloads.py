"""The benchmark workloads: ``validate_scan`` and ``operator_sweep`` are timed;
``SinkResume`` is the sink pass that ends each traced ``validate_scan`` run.

Each workload is one closed-loop client in the benchmark process: it sends
its next request (one iteration) only after the previous one returned.

* ``prepare`` builds the inputs once per seed (excluded from ``setup_s``);
* ``open`` is the repeatable part of set-up (compile the spec, open input);
* ``iteration`` is the timed request; it returns its wall time and output;
* ``check`` verifies that output and returns a list of failures.

``ctx.span(name)`` is a no-op in untraced iterations and a tracer span in
traced ones, so both paths make the same engine calls.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import time

import duckdb

from perfbench import datagen

# import the engine modules, not their functions: the tracer patches module
# attributes, and calls through the module pick the patch up
from json_to_avro_schema_spark import __main__ as cli
from json_to_avro_schema_spark import runner
from json_to_avro_schema_spark.compiler import plan as plan_mod
from json_to_avro_schema_spark.sources import iceberg
from json_to_avro_schema_spark.sources.synthetic import documents_iv_rich_spec

# interleaved documents per seed; the sink run's cost is mostly per job and
# per partition, so its table is smaller
N_DOCS = {"validate_scan": 100_000, "sink_resume": 10_000}
RUN_ID = "perfbench"

# operator_sweep: a slice of bench.py's timed queries, chosen from their
# measured warm build share (perfbench/DESIGN.md gives the figures and the
# code paths no workload runs)
SWEEP_QUERIES = (
    "derived_validation_verdicts",  # compile_document -> run_validation
    "emd_drift",                    # drift._cdf_scaffold prefix sums
    "quantile_bins_lineitem",       # exact percentile quantile path
)


def _sha(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\x02")
    return h.hexdigest()


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _part_counts(con, glob: str) -> dict[str, int]:
    rows = con.execute(
        f"SELECT part_key, count(*) FROM read_parquet('{glob}') GROUP BY 1"
    ).fetchall()
    return {k: int(n) for k, n in rows}


class ValidateScan:
    """Warm one-scan validation of the interleaved-documents table."""

    name = "validate_scan"
    warmup_s = 8  # iterations stop shortening about this long after the cold one

    def prepare(self, ctx) -> None:
        self.path = datagen.write_documents_iv(ctx.data_dir, ctx.seed, N_DOCS[self.name])
        con = duckdb.connect()
        self.expected = _part_counts(con, os.path.join(self.path, "*.parquet"))
        self.n_docs = sum(self.expected.values())
        self.hash_file = self.path + ".verdicts.sha256"
        self.spec = documents_iv_rich_spec()
        self.hashes: set[str] = set()

    def open(self, ctx) -> None:
        self.plan = plan_mod.compile_document(self.spec)
        self.df = iceberg.read_table(ctx.spark, self.path)

    def iteration(self, ctx):
        t0 = time.perf_counter()
        plan = plan_mod.compile_document(self.spec)
        df = iceberg.read_table(ctx.spark, self.path)
        verdicts, obs = runner.verdicts_with_violation_count(df, plan)
        with ctx.span("exec.plan"):
            verdicts._jdf.queryExecution().executedPlan()
        with ctx.span("exec.collect"):
            rows = verdicts.collect()
        n_rows = int(obs.get["n_rows"])
        return time.perf_counter() - t0, (verdicts, rows, n_rows)

    def docs_per_iteration(self) -> int:
        return self.n_docs

    def executed(self, out) -> list:
        return [out[0]]

    def layer_counts(self, out) -> dict:
        return {}

    def check(self, ctx, out) -> list[str]:
        _df, rows, n_rows = out
        errs = []
        if n_rows != self.n_docs:
            errs.append(f"observed n_rows {n_rows} != {self.n_docs}")
        got = {r["part_key"]: int(r["n_rows"]) for r in rows}
        if got != self.expected:
            errs.append("per-part_key n_rows differ from the DuckDB group-by count")
        h = _sha(sorted((r["part_key"], r["check_name"], r["n_rows"], r["n_fail"],
                         r["pass"]) for r in rows))
        self.hashes.add(h)
        if len(self.hashes) > 1:
            errs.append("verdict hash changed between iterations")
        if os.path.exists(self.hash_file):
            with open(self.hash_file, encoding="ascii") as f:
                if f.read().strip() != h:
                    errs.append("verdict hash differs from an earlier run of this seed")
        elif not errs:
            with open(self.hash_file, "w", encoding="ascii") as f:
                f.write(h)
        return errs

    def rungs(self, ctx, reps: int = 3) -> dict[str, float]:
        """Roofline rungs in docs/s: scan+decode only, then row checks with
        no verdict aggregation (the third rung is the iteration itself)."""
        from pyspark.sql import functions as F

        df = self.df
        decode = df.select(F.xxhash64(*df.columns).alias("h")).agg(F.max("h"))
        checked = runner.apply_row_checks(df, self.plan)
        checks = checked.agg(F.sum(F.col(runner.ROW_PASS).cast("long")))
        out = {}
        for key, q in (("decode", decode), ("checks", checks)):
            times = []
            for _ in range(reps + 1):
                t0 = time.perf_counter()
                q.collect()
                times.append(time.perf_counter() - t0)
            out[key] = self.n_docs / sorted(times[1:])[len(times[1:]) // 2]
        return out


class SinkResume:
    """Plain CLI run with sinks, then a --checkpoint run resuming half."""

    name = "sink_resume"

    def prepare(self, ctx) -> None:
        self.cpus = ctx.cpus
        self.table = datagen.write_documents_iv(ctx.data_dir, ctx.seed, N_DOCS[self.name])
        con = duckdb.connect()
        counts = _part_counts(con, os.path.join(self.table, "*.parquet"))
        keys = sorted(counts)
        done, self.pending = keys[0::2], set(keys[1::2])
        self.spec_path = os.path.join(ctx.data_dir, "documents_iv_rich.json")
        with open(self.spec_path, "w", encoding="utf-8") as f:
            json.dump(documents_iv_rich_spec(), f)
        with open(self.spec_path, encoding="utf-8") as f:
            plan = plan_mod.compile_document(json.load(f))
        # the committed half: one state row per even-indexed part_key in the
        # checkpoint store's schema, copied in fresh before each iteration
        self.tpl = self.table + ".resume_state"
        if not os.path.exists(os.path.join(self.tpl, "_SUCCESS")):
            shutil.rmtree(self.tpl, ignore_errors=True)
            datagen.write_state(os.path.join(self.tpl, "state"), RUN_ID, plan.spec_name,
                                plan.spec_hash, {k: counts[k] for k in done})
            open(os.path.join(self.tpl, "_SUCCESS"), "w").close()
        self.tpl_state_rows = len(done)
        self.tpl_bytes = _du(os.path.join(self.tpl, "state"))
        self.plain_out = os.path.join(ctx.sink_dir, "plain")
        self.resume_out = os.path.join(ctx.sink_dir, "resume")
        self.state = os.path.join(ctx.sink_dir, "state")

    def _main(self, argv: list[str]) -> int:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        self.last_summary = buf.getvalue().strip().splitlines()[-1:] or [""]
        return rc

    def reset(self) -> None:
        """Clear the sinks and copy the half-committed state in (untimed)."""
        for p in (self.plain_out, self.resume_out, self.state):
            shutil.rmtree(p, ignore_errors=True)
        shutil.copytree(os.path.join(self.tpl, "state"), self.state)

    def iteration(self, ctx):
        self.reset()
        common = [self.spec_path, "--table", self.table, "--cpus", str(self.cpus)]
        t0 = time.perf_counter()
        rc_plain = self._main(common + ["--out", self.plain_out])
        plain_summary = self.last_summary[0]
        rc_resume = self._main(common + ["--out", self.resume_out, "--checkpoint",
                                         self.state, "--run-id", RUN_ID])
        dt = time.perf_counter() - t0
        return dt, (rc_plain, plain_summary, rc_resume, self.last_summary[0])

    def executed(self, out) -> list:
        return []  # main() owns its DataFrames

    def layer_counts(self, out) -> dict:
        s = self.summary
        pending = s["partitions_total"] - s["partitions_resumed"]
        return {
            "runner.violation_rows": self.violation_rows,
            "checkpoint.parts_pending": pending,
            "checkpoint.parts_processed": s["partitions_processed"],
            "checkpoint.state_rows_written": self.state_rows_written,
            "checkpoint.bytes_written": self.resume_bytes(),
            "checkpoint.useful_frac": s["partitions_processed"] / pending if pending else 0.0,
        }

    def resume_bytes(self) -> int:
        """Bytes the resumed run added to its sinks and state."""
        return _du(self.resume_out) + _du(self.state) - self.tpl_bytes

    def check(self, ctx, out) -> list[str]:
        rc_plain, _plain, rc_resume, resume = out
        errs = []
        if rc_plain != 0 or rc_resume != 0:
            return [f"main exited {rc_plain}/{rc_resume}"]
        summary = json.loads(resume)
        self.summary = summary
        n_pending = summary["partitions_total"] - summary["partitions_resumed"]
        if n_pending != len(self.pending) or summary["partitions_processed"] != n_pending:
            errs.append(f"resume processed {summary['partitions_processed']} of "
                        f"{n_pending} pending, expected {len(self.pending)}")
        con = duckdb.connect()
        cols = "part_key, check_name, n_rows, n_fail, pass"
        keys_sql = ", ".join(f"'{k}'" for k in sorted(self.pending))
        plain = con.execute(
            f"SELECT {cols} FROM read_parquet('{self.plain_out}/verdicts/*.parquet') "
            f"WHERE part_key IN ({keys_sql}) ORDER BY ALL").fetchall()
        resumed = con.execute(
            f"SELECT {cols} FROM read_parquet('{self.resume_out}/verdicts/*/*.parquet', "
            f"hive_partitioning = true) WHERE part_key IN ({keys_sql}) ORDER BY ALL").fetchall()
        if not plain or plain != resumed:
            errs.append("resumed verdicts differ from the plain run's for the pending partitions")
        new = con.execute(
            f"SELECT part_key, count(*) FROM read_parquet('{self.state}/state/*.parquet') "
            f"GROUP BY 1 HAVING part_key IN ({keys_sql})").fetchall()
        total = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.state}/state/*.parquet')").fetchone()[0]
        self.state_rows_written = total - self.tpl_state_rows
        if (self.state_rows_written != len(self.pending)
                or sorted(k for k, _ in new) != sorted(self.pending)
                or any(n != 1 for _, n in new)):
            errs.append("state rows are not exactly one per pending partition")
        self.violation_rows = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.plain_out}/violations/*.parquet')"
        ).fetchone()[0]
        return errs


class OperatorSweep:
    """Each pass builds and collects every query of the slice once."""

    name = "operator_sweep"
    warmup_s = 16  # passes stop shortening about this long after the cold one

    def prepare(self, ctx) -> None:
        import __spark_entry__ as entry
        from scripts.check_correctness import TABLES, _canon, _hash

        self._canon, self._hash = _canon, _hash
        self.sf = datagen.write_star_tables(ctx.data_dir, ctx.seed)
        self.builders = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf}/{t}.parquet')")
        self.order = list(SWEEP_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.expected = {
            q: _hash(_canon(con.execute(oracles[q]).fetchdf()))
            for q in self.order if q in oracles
        }
        self.n_rows = sum(
            con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES
        )

    def open(self, ctx) -> None:
        # the queries open their own tables; set-up opens each one once
        from json_to_avro_schema_spark.sources.tables import TABLES, load_table

        self.inputs = {t: load_table(ctx.spark, self.sf, t) for t in TABLES}

    def iteration(self, ctx):
        frames, per_query, dfs = {}, {}, []
        t0 = time.perf_counter()
        for q in self.order:
            tq = time.perf_counter()
            with ctx.span(f"operators.{q}"):
                df = self.builders[q](ctx.spark, self.sf)
            with ctx.span("exec.plan"):
                df._jdf.queryExecution().executedPlan()
            with ctx.span("exec.collect"):
                frames[q] = df.toPandas()
            per_query[q] = time.perf_counter() - tq
            dfs.append(df)
        return time.perf_counter() - t0, (frames, per_query, dfs)

    def docs_per_iteration(self) -> int:
        return self.n_rows

    def executed(self, out) -> list:
        return out[2]

    def layer_counts(self, out) -> dict:
        return {f"operators.{q}_s": s for q, s in out[1].items()}

    def check(self, ctx, out) -> list[str]:
        frames = out[0]
        errs = []
        for q, pdf in frames.items():
            h = self._hash(self._canon(pdf))
            want = self.expected.setdefault(q, h)  # no oracle: first pass
            if h != want:
                errs.append(f"{q}: value hash differs from its oracle")
        return errs


WORKLOADS = {w.name: w for w in (ValidateScan, OperatorSweep)}
