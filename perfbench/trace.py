"""In-process tracing for the benchmark.

Everything here observes the engine from outside; no engine file changes.

* :class:`Py4jCounter` counts py4j round trips by wrapping the gateway
  client's ``send_command``. py4j's garbage-collection detach commands
  (``m\\nd\\n…``) are skipped: they are sent whenever the Python GC frees a
  Java proxy, so they follow GC timing rather than the work done.
* :class:`Tracer` patches the engine's public functions so each call records
  a span (name, start, end, parent) with the py4j calls, Spark jobs, tasks,
  shuffle/spill bytes and input stages that ran inside it. Each span sets its
  own Spark job group, so jobs fired eagerly while a plan is being built are
  attributed to the function that fired them.
* :func:`plan_metrics` walks the final adaptive plan of an executed
  DataFrame, query stages included, and sums the operator metrics.
* :func:`peak_rss_mb` and :func:`gc_ms` read process memory and JVM GC time.

Spans are kept in memory and written out at the end of a traced run; the
format is described in ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import sys
import time
from dataclasses import dataclass, field

_DETACH = "m\nd\n"  # py4j MEMORY_COMMAND + MEMORY_DEL_SUBCOMMAND


class Py4jCounter:
    """Counts py4j commands sent by this process while installed."""

    def __init__(self, client) -> None:
        self._client = client
        self.calls = 0
        self.excluded = 0

    def install(self) -> None:
        orig = type(self._client).send_command.__get__(self._client)

        def send_command(command, *args, **kwargs):
            if not command.startswith(_DETACH):
                self.calls += 1
            return orig(command, *args, **kwargs)

        self._client.send_command = send_command

    def remove(self) -> None:
        self._client.__dict__.pop("send_command", None)

    @property
    def engine_calls(self) -> int:
        """Calls not made by the benchmark's own bookkeeping."""
        return self.calls - self.excluded

    @contextlib.contextmanager
    def exclude(self):
        before = self.calls
        try:
            yield
        finally:
            self.excluded += self.calls - before


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    jobs: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "name": self.name,
            "start": round(self.start, 6), "end": round(self.end, 6),
            "py4j_calls": self.py4j_calls, "jobs": len(self.jobs),
            **self.counts,
        }


# (module, attribute, span name) for every engine entry point the benchmark
# calls into; ``runner.*`` covers the runner's public builders.
ENTRY_POINTS = (
    ("json_to_avro_schema_spark.session", "get_spark", "session.get_spark"),
    ("json_to_avro_schema_spark.sources.iceberg", "read_table", "sources.read_table"),
    ("json_to_avro_schema_spark.compiler.plan", "compile_document", "compiler.compile_document"),
    ("json_to_avro_schema_spark.runner", "apply_row_checks", "runner.apply_row_checks"),
    ("json_to_avro_schema_spark.runner", "extract_violations", "runner.extract_violations"),
    ("json_to_avro_schema_spark.runner", "partition_verdicts", "runner.partition_verdicts"),
    ("json_to_avro_schema_spark.runner", "verdicts_with_violation_count", "runner.verdicts_with_violation_count"),
    ("json_to_avro_schema_spark.runner", "verdicts_from_violations", "runner.verdicts_from_violations"),
    ("json_to_avro_schema_spark.runner", "run_validation", "runner.run_validation"),
    ("json_to_avro_schema_spark.table_checks", "run_table_checks", "table_checks.run_table_checks"),
    ("json_to_avro_schema_spark.checkpoint", "run_with_checkpoint", "checkpoint.run_with_checkpoint"),
    ("json_to_avro_schema_spark.__main__", "main", "main.main"),
)
_ENGINE_MODULES = ("json_to_avro_schema_spark", "__spark_entry__")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """Records spans around the engine's entry points while installed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.counter = Py4jCounter(self.sc._gateway._gateway_client)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self.base_group: str | None = None  # job group outside any span

    # -- install / remove ------------------------------------------------
    def install(self) -> None:
        """Patch every loaded engine module that holds an entry point and
        ``DataFrameWriter.parquet``, and start counting py4j calls."""
        import importlib

        from pyspark.sql import DataFrameWriter

        targets = []
        for mod_name, attr, span_name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            targets.append((getattr(mod, attr), span_name))
        by_id = {id(fn): (fn, name) for fn, name in targets}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(_ENGINE_MODULES):
                continue
            for attr, value in list(vars(mod).items()):
                hit = by_id.get(id(value))
                if hit is not None and hit[0] is value:
                    self._patch(mod, attr, self.wrap(value, hit[1]))
        self._patch(
            DataFrameWriter, "parquet",
            self.wrap(DataFrameWriter.parquet, "sink.write_parquet"),
        )
        self.counter.install()

    def remove(self) -> None:
        self.counter.remove()
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), parent.id if parent else None, name, 0.0)
        with self.counter.exclude():
            self.sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{sp.id}")
        self._stack.append(sp)
        calls0 = self.counter.engine_calls
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.counter.engine_calls - calls0
            self._stack.pop()
            with self.counter.exclude():
                self.sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"perfbench-{parent.id}" if parent else self.base_group,
                )
            self.spans.append(sp)

    def collect_job_stats(self) -> None:
        """Resolve each recorded span's jobs and stage totals (one pass at the
        end of an iteration, after Spark's listener bus has drained)."""
        with self.counter.exclude():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            for sp in self.spans:
                if sp.counts:
                    continue
                sp.jobs = list(tracker.getJobIdsForGroup(f"perfbench-{sp.id}"))
                sp.counts = stage_totals(tracker, store, sp.jobs)

    def reset(self) -> None:
        self.spans = []


def stage_totals(tracker, store, job_ids) -> dict:
    """Sum the completed stages of ``job_ids``: tasks, input stages and rows,
    shuffle and spill bytes, from Spark's status store."""
    out = {"tasks": 0, "input_stages": 0, "input_rows": 0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            try:
                sd = store.lastStageAttempt(stage_id)
            except Exception:  # evicted or never submitted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["tasks"] += sd.numCompleteTasks()
            if sd.inputBytes() > 0:
                out["input_stages"] += 1
            out["input_rows"] += sd.inputRecords()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def group_totals(spark, group: str) -> dict:
    """Job count and stage totals for one job group (after the bus drains)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    out = stage_totals(tracker, sc._jsc.sc().statusStore(), jobs)
    out["jobs"] = len(jobs)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer, the time its spans spent outside their child spans."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        covered, last_end = 0.0, sp.start
        for ch in sorted(children.get(sp.id, ()), key=lambda s: s.start):
            lo, hi = max(ch.start, last_end), min(ch.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last_end = hi
        layer = layer_of(sp.name)
        out[layer] = out.get(layer, 0.0) + sp.dur - covered
    return out


def layer_totals(spans: list[Span], layer: str) -> dict:
    """Totals over the outermost spans of ``layer`` (nested spans of the same
    layer are inside their parent's figures)."""
    by_id = {sp.id: sp for sp in spans}

    def nested(sp: Span) -> bool:
        p = by_id.get(sp.parent)
        while p is not None:
            if layer_of(p.name) == layer:
                return True
            p = by_id.get(p.parent)
        return False

    tops = [sp for sp in spans if layer_of(sp.name) == layer and not nested(sp)]
    ids = {sp.id for sp in spans if layer_of(sp.name) == layer}
    tot = {"s": sum(sp.dur for sp in tops),
           "py4j_calls": sum(sp.py4j_calls for sp in tops),
           "n": len(tops)}
    # jobs belong to the innermost span's group: sum over the layer's spans
    # and everything nested under them
    under = [sp for sp in spans if sp.id in ids or _has_ancestor(sp, ids, by_id)]
    for key in ("tasks", "input_stages", "input_rows", "shuffle_bytes", "spill_bytes"):
        tot[key] = sum(sp.counts.get(key, 0) for sp in under)
    tot["jobs"] = sum(len(sp.jobs) for sp in under)
    return tot


def _has_ancestor(sp: Span, ids: set, by_id: dict) -> bool:
    p = by_id.get(sp.parent)
    while p is not None:
        if p.id in ids:
            return True
        p = by_id.get(p.parent)
    return False


_SCAN_PREFIXES = ("Scan", "FileScan", "BatchScan")
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def plan_metrics(df) -> dict:
    """Sum operator metrics over the executed (final adaptive) plan of ``df``,
    descending into query stages: scan time, whole-stage-codegen pipeline
    time and aggregation time, in the plan's own unit (ms)."""
    jvm = df.sparkSession.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    root = df._jdf.queryExecution().executedPlan()
    out = {"scan_time_ms": 0, "pipeline_time_ms": 0, "agg_time_ms": 0}
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        name = node.nodeName()
        metrics = conv.asJava(node.metrics())
        val = {k: metrics.get(k).value() for k in metrics.keySet()}
        if name.startswith(_SCAN_PREFIXES):
            out["scan_time_ms"] += val.get("scanTime", 0)
        if name.startswith("WholeStageCodegen"):
            out["pipeline_time_ms"] += val.get("pipelineTime", 0)
        if name in _AGG_NODES:
            out["agg_time_ms"] += val.get("aggTime", 0)
        stack.extend(conv.asJava(node.children()))
    return out


def gc_ms(spark) -> int:
    """Total GC time of the driver JVM so far (local mode: executors too)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def _hwm_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus its JVM, from /proc."""
    kb = _hwm_kb("self") + (_hwm_kb(str(jvm_pid)) if jvm_pid else 0)
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs so far
    (``/proc/stat`` steal column), in seconds."""
    import os

    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
