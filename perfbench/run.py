#!/usr/bin/env python3
"""Benchmark entry point: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload validate_scan --seed 1 --seconds 20 --trace 0

Runs Spark at ``local[nproc]`` in this process, times one cold iteration,
runs untimed warm-up iterations for the workload's ``warmup_s`` seconds, then
measures warm iterations for ``--seconds`` seconds; checks every iteration's
output, prints one summary line per metric and, as the last line, one JSON
object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
alternates traced and untraced iterations and reports the per-layer metrics,
each layer's self time and the tracing overhead; its spans are written to
``perfbench/_work/traces/``. Metric definitions are in ``perfbench/DESIGN.md``.

Inputs are generated from ``--seed`` once and cached under
``perfbench/_work/data``; sinks, checkpoints and Spark's local dirs live under
``perfbench/_work`` too and are cleared outside the timed region.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

SETUP_REPS = 5   # repeated set-up steps (compile + open) per run
MIN_MEASURED = 2  # measured iterations per run, even past --seconds
STEAL_MAX = 0.03  # share of vCPU time the hypervisor may steal from an
                  # iteration that counts toward warm_p50_s (see DESIGN.md)

END_TO_END = {
    "setup_s": "s",
    "first_s": "s",
    "warm_p50_s": "s",
    "docs_per_s": "docs/s",
    "sink_bytes_per_doc": "bytes/doc",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import SWEEP_QUERIES

    units = {
        "session.start_s": "s",
        "sources.open_s": "s",
        "sources.decode_docs_per_s": "docs/s",
        "compiler.compile_s": "s",
        "runner.build_s": "s",
        "runner.build_py4j_calls": "count",
        "runner.build_jobs": "count",
        "runner.checks_docs_per_s": "docs/s",
        "runner.sink_write_s": "s",
        "runner.violation_rows": "count",
        "table_checks.s": "s",
        "table_checks.jobs": "count",
        "table_checks.input_scans": "count",
        "checkpoint.s": "s",
        "checkpoint.jobs": "count",
        "checkpoint.input_scans": "count",
        "checkpoint.parts_pending": "count",
        "checkpoint.parts_processed": "count",
        "checkpoint.state_rows_written": "count",
        "checkpoint.bytes_written": "bytes",
        "checkpoint.useful_frac": "frac",
        "operators.build_s": "s",
        "operators.plan_s": "s",
        "operators.exec_s": "s",
        "operators.build_py4j_calls": "count",
        "operators.build_jobs": "count",
    }
    units.update({f"operators.{q}_s": "s" for q in SWEEP_QUERIES})
    units.update({
        "exec.plan_s": "s",
        "exec.exec_s": "s",
        "exec.jobs": "count",
        "exec.tasks": "count",
        "exec.scan_rows": "count",
        "exec.scan_time_ms": "ms",
        "exec.pipeline_time_ms": "ms",
        "exec.agg_time_ms": "ms",
        "exec.shuffle_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "exec.gc_ms": "ms",
        "peak_rss_mb": "MB",
    })
    units.update({f"self.{layer}_s": "s" for layer in SELF_LAYERS})
    units.update({"trace.overhead_s": "s", "trace.spans": "count"})
    return units


SELF_LAYERS = ("bench", "session", "sources", "compiler", "runner", "table_checks",
               "checkpoint", "main", "operators", "sink", "exec")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("validate_scan", "operator_sweep"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the documents-table size (self-check only)")
    return p.parse_args(argv)


def configure_environment(cpus: int) -> None:
    """Keep every file Spark, py4j and the Python workers write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a 2 GiB heap cap instead of the engine's 8 GiB default: the inputs are
    # small, and the host's memory is shared
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


class Ctx:
    """What a workload needs from this script: session, dirs, seed, tracing."""

    def __init__(self, spark, seed: int, cpus: int) -> None:
        self.spark = spark
        self.seed = seed
        self.cpus = cpus
        self.data_dir = os.path.join(WORK, "data")
        self.sink_dir = os.path.join(WORK, "sinks")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.sink_dir, exist_ok=True)
        self.tracer = None
        self.traced = False

    def span(self, name: str):
        if self.traced:
            return self.tracer.span(name)
        return contextlib.nullcontext()


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def iteration_layers(tracer, frames, gc_delta: float) -> dict:
    """Per-layer figures of one traced iteration, from its spans."""
    from perfbench import trace

    spans = tracer.spans
    t = {layer: trace.layer_totals(spans, layer)
         for layer in ("bench", "compiler", "sources", "runner", "table_checks",
                       "checkpoint", "operators", "sink", "exec")}

    def dur(name):
        return sum(sp.dur for sp in spans if sp.name == name)

    plan = {"scan_time_ms": 0, "pipeline_time_ms": 0, "agg_time_ms": 0}
    with tracer.counter.exclude():
        for df in frames:
            m = trace.plan_metrics(df)
            for k in plan:
                plan[k] += m[k]
    rec = {
        "sources.open_s": t["sources"]["s"],
        "compiler.compile_s": t["compiler"]["s"],
        "runner.build_s": t["runner"]["s"],
        "runner.build_py4j_calls": t["runner"]["py4j_calls"],
        "runner.build_jobs": t["runner"]["jobs"],
        "runner.sink_write_s": t["sink"]["s"],
        "table_checks.s": t["table_checks"]["s"],
        "table_checks.jobs": t["table_checks"]["jobs"],
        "table_checks.input_scans": t["table_checks"]["input_stages"],
        "checkpoint.s": t["checkpoint"]["s"],
        "checkpoint.jobs": t["checkpoint"]["jobs"],
        "checkpoint.input_scans": t["checkpoint"]["input_stages"],
        "operators.build_s": t["operators"]["s"],
        "operators.build_py4j_calls": t["operators"]["py4j_calls"],
        "operators.build_jobs": t["operators"]["jobs"],
        "exec.plan_s": dur("exec.plan"),
        "exec.exec_s": dur("exec.collect") + t["sink"]["s"],
        "exec.jobs": t["bench"]["jobs"],
        "exec.tasks": t["bench"]["tasks"],
        "exec.scan_rows": t["bench"]["input_rows"],
        "exec.shuffle_bytes": t["bench"]["shuffle_bytes"],
        "exec.spill_bytes": t["bench"]["spill_bytes"],
        "exec.gc_ms": gc_delta,
        "trace.spans": len(spans),
        **{f"exec.{k}": v for k, v in plan.items()},
    }
    if t["operators"]["n"]:
        rec["operators.plan_s"] = dur("exec.plan")
        rec["operators.exec_s"] = dur("exec.collect")
    for layer, s in trace.self_times(spans).items():
        rec[f"self.{layer}_s"] = s
    return rec


def run(args) -> dict:
    from perfbench import trace
    from perfbench import workloads as wl

    cpus = len(os.sched_getaffinity(0))
    configure_environment(cpus)
    if args.docs:
        wl.N_DOCS = dict.fromkeys(wl.N_DOCS, args.docs)

    from json_to_avro_schema_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app="perfbench", cpus=cpus)
    session_start_s = time.perf_counter() - t
    session_up_s = time.perf_counter() - T_PROCESS
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return measure(args, spark, cpus, session_start_s, session_up_s, trace, wl)
    finally:
        shutdown(spark)


class Tally:
    """Requests attempted and failed, and the spans of traced ones."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.spans: list[dict] = []

    def request(self, ctx, work, label, traced: bool):
        """One closed-loop request: run, check, and for a traced one derive
        its per-layer figures. Returns (seconds, output, figures) or None
        when the request failed."""
        from perfbench import trace

        self.attempted += 1
        tracer = ctx.tracer
        ctx.traced = traced
        try:
            if traced:
                tracer.reset()
                gc0 = trace.gc_ms(ctx.spark)
                tracer.install()
            try:
                with ctx.span("bench.iteration"):
                    dt, out = work.iteration(ctx)
            finally:
                if traced:
                    tracer.remove()
            errs = work.check(ctx, out)
        except Exception:  # an iteration that raises is a failed request
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if errs:
            self.failed += 1
            print(f"check failed ({work.name}, {label}): {errs}", file=sys.stderr)
        rec = None
        if traced:
            tracer.collect_job_stats()
            rec = iteration_layers(tracer, work.executed(out), trace.gc_ms(ctx.spark) - gc0)
            rec.update(work.layer_counts(out))
            rec["dt"], rec["i"] = dt, label
            self.spans.extend(sp.as_dict() | {"iteration": label} for sp in tracer.spans)
        return dt, out, rec


# per-layer figures a traced validate_scan run takes from its sink pass
SINK_LAYERS = ("runner.sink_write_s", "runner.violation_rows", "table_checks.",
               "checkpoint.", "self.main_s", "self.sink_s", "self.table_checks_s",
               "self.checkpoint_s")


def measure(args, spark, cpus, session_start_s, session_up_s, trace, wl) -> dict:
    from pyspark import SparkContext

    ctx = Ctx(spark, args.seed, cpus)
    sc = spark.sparkContext
    jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
    work = wl.WORKLOADS[args.workload]()
    work.prepare(ctx)  # one-time input generation, excluded from setup_s

    tracer = trace.Tracer(spark) if args.trace else None
    ctx.tracer = tracer
    loop_group = "perfbench-loop"
    opens = []
    for _ in range(SETUP_REPS):
        if tracer:
            tracer.install()
        t = time.perf_counter()
        work.open(ctx)
        opens.append(time.perf_counter() - t)
        if tracer:
            tracer.remove()
    if tracer:
        tracer.collect_job_stats()
    setup_spans = list(tracer.spans) if tracer else []
    setup_s = session_up_s + trace.median(opens)

    sc.setLocalProperty("spark.jobGroup.id", loop_group)
    if tracer:
        tracer.base_group = loop_group
    tally = Tally()
    first, warmup, times = None, [], []   # cold, warm-up and measured seconds
    clean = []  # measured iterations with at most STEAL_MAX of vCPU time stolen
    traced_recs, untraced_times = [], []
    n_done = 0
    warm_end = deadline = None
    while True:
        now = time.perf_counter()
        if tally.attempted == 0:
            phase = "cold"
        elif now < warm_end:
            phase = "warmup"
        else:
            if deadline is None:
                deadline, steal0 = now + args.seconds, trace.steal_s()
            # past the window, stop once enough iterations ran clear of host
            # steal; a steal burst (or failing iterations) extends the window
            # once by --seconds
            if now >= deadline and (len(clean) >= MIN_MEASURED or (
                    now >= deadline + args.seconds
                    and (len(times) >= MIN_MEASURED or tally.failed))):
                break
            phase = "measured"
        # the cold iteration is traced; measured ones alternate untraced/
        # traced in ABBA order (U T T U U T ...), so a trend left in the
        # measured window does not bias the overhead estimate
        m = len(times)
        traced = bool(tracer) and (phase == "cold" or (phase == "measured" and m % 4 in (1, 2)))
        stolen0 = trace.steal_s()
        done = tally.request(ctx, work, f"{phase}-{tally.attempted}", traced)
        if phase == "cold":
            warm_end = time.perf_counter() + work.warmup_s
        if done is None:
            continue
        dt, _out, rec = done
        n_done += 1
        if phase == "cold":
            first = dt
        elif phase == "warmup":
            warmup.append(dt)
        else:
            times.append(dt)
            if trace.steal_s() - stolen0 <= STEAL_MAX * cpus * dt:
                clean.append(dt)
            if traced:
                traced_recs.append(rec)
            elif tracer:
                untraced_times.append(dt)

    # read before the traced run's rungs and sink pass, which are not the
    # workload's own iterations
    peak_rss_mb = trace.peak_rss_mb(jvm_pid)
    window = time.perf_counter() - (deadline - args.seconds)
    stolen = (f"host steal {trace.steal_s() - steal0:.2f} s of {cpus} x {window:.1f} s "
              "vCPU time in the measured window")
    warm = clean if len(clean) >= MIN_MEASURED else times
    if not args.trace:
        loop = trace.group_totals(spark, loop_group)
        per_doc = loop["shuffle_bytes"] / max(n_done, 1) / work.docs_per_iteration()
        values = {
            "setup_s": setup_s,
            "first_s": first or 0.0,
            "warm_p50_s": trace.median(warm),
            "docs_per_s": work.docs_per_iteration() / trace.median(warm) if warm else 0.0,
            "sink_bytes_per_doc": per_doc,
        }
        units = END_TO_END
        summary = [f"iterations: {n_done} ok ({len(times)} measured, {len(clean)} clear "
                   f"of host steal), {tally.failed} failed "
                   f"of {tally.attempted}; failed_frac {tally.failed / tally.attempted:.4f}",
                   f"input generation excluded from setup_s; local[{cpus}]",
                   "iteration_s: cold " + f"{first or 0:.3f}"
                   + " | warm-up " + " ".join(f"{t:.3f}" for t in warmup)
                   + " | measured " + " ".join(f"{t:.3f}" for t in times),
                   stolen]
    else:
        values = layer_values(traced_recs, untraced_times, trace)
        values["session.start_s"] = session_start_s
        values["peak_rss_mb"] = peak_rss_mb
        if args.workload == "validate_scan":
            rungs = work.rungs(ctx)
            values["sources.decode_docs_per_s"] = rungs["decode"]
            values["runner.checks_docs_per_s"] = rungs["checks"]
            values.update(sink_pass(ctx, tally, wl))
        units = per_layer_units()
        summary = [f"traced iterations: {len(traced_recs)}, untraced: "
                   f"{len(untraced_times)}; failed_frac "
                   f"{tally.failed / tally.attempted:.4f}", stolen]
        write_trace(args, setup_spans, tally.spans, traced_recs)
    result = {"correct": tally.failed == 0, "attempted": tally.attempted,
              "failed": tally.failed}
    result["metrics"] = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                         for k, u in units.items()}
    return result | {"_summary": summary}


def layer_values(recs, untraced_times, trace) -> dict:
    """Median over the measured traced iterations of each per-layer figure,
    and the tracing overhead (traced minus untraced measured median)."""
    keys = {k for r in recs for k in r} - {"dt", "i"}
    values = {k: trace.median(r.get(k, 0.0) for r in recs) for k in keys}
    if untraced_times and recs:
        values["trace.overhead_s"] = (trace.median(r["dt"] for r in recs)
                                      - trace.median(untraced_times))
    return values


def sink_pass(ctx, tally, wl) -> dict:
    """The write side of validate_scan's layers, for its traced run: two
    traced sink_resume requests (plain run, then resume of a half-committed
    state) on a small table; the second, warm one gives the figures."""
    sink = wl.SinkResume()
    sink.prepare(ctx)
    recs = [done[2] for label in ("sink-0", "sink-1")
            if (done := tally.request(ctx, sink, label, True)) is not None]
    if not recs:
        return {}
    return {k: v for k, v in recs[-1].items() if k.startswith(SINK_LAYERS)}


def write_trace(args, setup_spans, spans, recs) -> None:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}_seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "setup_spans": [sp.as_dict() for sp in setup_spans],
                   "spans": spans, "iterations": recs}, f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "json_to_avro_schema_spark", "__init__.py")):
        print(f"error: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    shutil.rmtree(os.path.join(WORK, "sinks"), ignore_errors=True)
    result = run(args)
    shutil.rmtree(os.path.join(WORK, "sinks"), ignore_errors=True)
    for line in result.pop("_summary"):
        print(line)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
