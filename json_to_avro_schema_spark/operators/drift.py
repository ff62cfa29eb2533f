"""Distribution-drift checks: binned histograms + KL divergence / PSI,
plus exact (binning-free) two-sample Kolmogorov–Smirnov and
Wasserstein-1 (earth mover's) statistics.

North-rule operator (SURVEY.md §2.3 'Aggregations'): the distributed part is
a single ``groupBy(bucket).count()`` histogram per column — oracle-checkable
SQL.  The KL/PSI arithmetic runs driver-side on the (tiny) histogram vectors;
at 10^12 rows the histogram is still ≤ ``bins`` rows per partition key, so
the driver never sees data-proportional volume.

PSI = Σ (p_i - q_i) * ln(p_i / q_i)     (symmetric-ish, finite with smoothing)
KL  = Σ p_i * ln(p_i / q_i)
KS  = sup_x |F_cur(x) - F_base(x)|      (exact ECDF distance, no bins/eps)
W1  = ∫ |F_cur(x) - F_base(x)| dx       (exact earth-mover's distance)

Smoothing: each empty bucket gets ``eps`` mass so KL/PSI are finite; KS
and W1 need none (they compare CDFs, defined for every sample).
:func:`ks_drift` / :func:`emd_drift` complement the binned divergences:
KL/PSI depend on the bin layout (a shift smaller than one bin width is
invisible), KS is exact at any resolution, and W1 additionally weighs how
FAR mass moved — the price is a cumulative sum over the distinct values,
which this module runs as the same two-level distributed prefix sum that
:mod:`.packing` uses (never a single-partition global window).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _prefix


def histogram(
    df: DataFrame,
    column: str,
    *,
    bins: int = 32,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    by: Optional[str] = None,
    include_total: bool = False,
    total_key: str = "ALL",
) -> DataFrame:
    """Fixed-width binned counts: (part_key?, bucket, n). Nulls are dropped;
    values outside [lo, hi] clamp into the edge buckets (so mass is conserved).

    When lo/hi are omitted they are computed with one extra (cheap) agg pass —
    at scale pass them explicitly from the spec (DriftCheckCfg.lo/hi) to keep
    drift single-scan.

    ``include_total`` (requires ``by``) additionally emits the GLOBAL
    histogram as ``part_key = total_key`` rows from the SAME single scan —
    grouping sets ((part, bucket), (bucket)), i.e. the global level is a
    reaggregation of the grouped partials, never a second pass over the
    data. The sentinel needs a string key, so ``part_key`` is cast to
    string on this path; ``F.grouping`` (not a NULL check) distinguishes
    the total level, so genuine NULL group values stay their own partition.
    """
    col = F.col(column)
    if lo is None or hi is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    width = (hi - lo) / bins
    bucket = F.least(
        F.greatest(F.floor((col - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    if include_total:
        if not by:
            raise ValueError("include_total requires by=")
        base = df.filter(col.isNotNull()).select(
            F.col(by).cast("string").alias("part_key"),
            bucket.alias("bucket"),
        )
        return (
            base.groupingSets(
                [[F.col("part_key"), F.col("bucket")], [F.col("bucket")]],
                "part_key", "bucket",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.grouping("part_key").alias("__g"),
            )
            .select(
                F.when(F.col("__g") == 1, F.lit(total_key))
                .otherwise(F.col("part_key"))
                .alias("part_key"),
                "bucket",
                "n",
            )
        )
    keys = [F.col(by).alias("part_key")] if by else []
    return (
        df.filter(col.isNotNull())
        .groupBy(*keys, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _to_probs(counts: Dict[int, int], bins: int, eps: float) -> List[float]:
    total = sum(counts.values())
    if total == 0:
        return [1.0 / bins] * bins
    raw = [counts.get(i, 0) / total for i in range(bins)]
    smoothed = [max(p, eps) for p in raw]
    z = sum(smoothed)
    return [p / z for p in smoothed]


def kl_divergence(p: Sequence[float], q: Sequence[float]) -> float:
    return sum(pi * math.log(pi / qi) for pi, qi in zip(p, q) if pi > 0)


def psi(p: Sequence[float], q: Sequence[float]) -> float:
    return sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))


@dataclass
class DriftReport:
    kl: float
    psi: float
    ok: bool
    n_current: int
    n_baseline: int


def drift_report(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    bins: int = 32,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
) -> DriftReport:
    """:func:`drift_verdict` plus the histogram row totals (for verdict
    tables that report ``n_rows``) — same two aggregations, no extra scan."""
    if lo is None or hi is None:
        row = (
            current.select(F.col(column).alias("v"))
            .union(baseline.select(F.col(column).alias("v")))
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .collect()[0]
        )
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    # the two sides are independent jobs — submit them concurrently so
    # drift wall-time is one histogram, not two in sequence
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cur = pool.submit(
            lambda: histogram(current, column, bins=bins, lo=lo, hi=hi).collect()
        )
        f_base = pool.submit(
            lambda: histogram(baseline, column, bins=bins, lo=lo, hi=hi).collect()
        )
        cur = {r["bucket"]: r["n"] for r in f_cur.result()}
        base = {r["bucket"]: r["n"] for r in f_base.result()}
    p = _to_probs(cur, bins, eps)
    q = _to_probs(base, bins, eps)
    s = psi(p, q)
    return DriftReport(
        kl=kl_divergence(p, q),
        psi=s,
        ok=s < psi_threshold,
        n_current=sum(cur.values()),
        n_baseline=sum(base.values()),
    )


def drift_verdict(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    bins: int = 32,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
) -> Tuple[float, float, bool]:
    """(kl, psi, pass). Two histogram aggregations → driver-side arithmetic.

    ``psi_threshold`` 0.2 is the conventional 'significant shift' cutoff.
    """
    rep = drift_report(
        current, baseline, column,
        bins=bins, lo=lo, hi=hi, psi_threshold=psi_threshold, eps=eps,
    )
    return rep.kl, rep.psi, rep.ok


def partitioned_drift_verdicts(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    by: str,
    bins: int = 32,
    lo: float,
    hi: float,
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
    include_total: bool = False,
    total_key: str = "ALL",
) -> DataFrame:
    """Per-partition KL/PSI drift verdicts, FULLY distributed.

    The scalar :func:`drift_report` collects two ≤bins histograms and does
    the divergence arithmetic on the driver — fine for one verdict, a
    driver bottleneck at 10^5+ Iceberg partitions. Here the whole
    computation stays in the cluster: one histogram aggregation per side
    keyed on ``(by, bucket)``, folded per partition into a ``bucket → n``
    map, the two sides full-outer-joined on part_key (≤ |parts| rows each
    — post-aggregation volume, never data volume), and the dense-grid /
    smoothing / normalization / divergence math as array HOFs over
    ``sequence(0, bins-1)`` — codegen'd, one output row per partition.
    Each side's histogram subtree is referenced exactly ONCE, so the
    input is scanned once per side (the earlier explode-grid formulation
    used every histogram twice — union for the key universe + join — and
    the differently-pruned subtrees defeated exchange reuse: 4 scans).

    ``include_total`` adds a corpus-wide verdict row (``part_key =
    total_key``) at ZERO extra scans: the global histogram is a
    grouping-sets reaggregation of the per-partition partials inside the
    same aggregation (see :func:`histogram`), and the divergence math
    downstream treats it as one more partition. This supersedes pairing
    this operator with a separate :func:`drift_verdict` call, which paid
    two more full scans for the global row.

    Output: (part_key, n_current, n_baseline, kl, psi, pass). Partitions
    present on either side are reported (absent side = all-eps histogram).
    """
    hc = histogram(
        current, column, bins=bins, lo=lo, hi=hi, by=by,
        include_total=include_total, total_key=total_key,
    )
    hb = histogram(
        baseline, column, bins=bins, lo=lo, hi=hi, by=by,
        include_total=include_total, total_key=total_key,
    )

    def _fold(h: DataFrame, m: str, t: str) -> DataFrame:
        # bucket is unique per part_key after the histogram agg, so the
        # map is well-defined; the side's row total rides the same agg
        return h.groupBy("part_key").agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "n"))
            ).alias(m),
            F.sum("n").alias(t),
        )

    per = (
        _fold(hc, "mc", "tc0")
        .join(_fold(hb, "mb", "tb0"), "part_key", "full_outer")
        .select(
            "part_key",
            F.coalesce("tc0", F.lit(0)).alias("tc"),
            F.coalesce("tb0", F.lit(0)).alias("tb"),
            "mc",
            "mb",
        )
    )
    idx = F.sequence(F.lit(0), F.lit(bins - 1))

    def _probs(m: str, total):
        # dense grid from the sparse map (absent bucket = 0; absent SIDE
        # = uniform) → eps floor → renorm
        raw = F.transform(
            idx,
            lambda b: F.when(
                total > 0,
                F.coalesce(F.element_at(F.col(m), b), F.lit(0)).cast("double")
                / total,
            ).otherwise(F.lit(1.0 / bins)),
        )
        smoothed = F.transform(raw, lambda v: F.greatest(v, F.lit(float(eps))))
        z = F.aggregate(smoothed, F.lit(0.0), lambda a, v: a + v)
        return F.transform(smoothed, lambda v: v / z)

    per = per.withColumn("p", _probs("mc", F.col("tc"))).withColumn(
        "q", _probs("mb", F.col("tb"))
    )
    kl = F.aggregate(
        F.zip_with("p", "q", lambda p, q: p * F.log(p / q)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    psi_c = F.aggregate(
        F.zip_with("p", "q", lambda p, q: (p - q) * F.log(p / q)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return per.select(
        "part_key",
        F.col("tc").alias("n_current"),
        F.col("tb").alias("n_baseline"),
        kl.alias("kl"),
        psi_c.alias("psi"),
        (psi_c < F.lit(psi_threshold)).alias("pass"),
    )


def category_counts(
    df: DataFrame, column: str, *, by: Optional[str] = None
) -> DataFrame:
    """Frequency table for a categorical column: (part_key?, value, n).
    Nulls are kept as their own category (drift in null-rate IS drift)."""
    keys = [F.col(by).alias("part_key")] if by else []
    return df.groupBy(*keys, F.col(column).alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )


def categorical_drift_report(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
) -> DriftReport:
    """KL/PSI over CATEGORY proportions (no binning): the category set is
    the union of both sides' observed values, each unseen category smoothed
    with ``eps`` mass. Distributed part = one groupBy per side (partial+final
    hash agg, shuffle one row per category); the divergence arithmetic runs
    driver-side on ≤|categories| values — same contract as the numeric path.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cur = pool.submit(lambda: category_counts(current, column).collect())
        f_base = pool.submit(lambda: category_counts(baseline, column).collect())
        cur = {r["value"]: r["n"] for r in f_cur.result()}
        base = {r["value"]: r["n"] for r in f_base.result()}
    cats = sorted(set(cur) | set(base), key=repr)
    idx = {c: i for i, c in enumerate(cats)}
    k = len(cats)
    p = _to_probs({idx[c]: n for c, n in cur.items()}, k, eps)
    q = _to_probs({idx[c]: n for c, n in base.items()}, k, eps)
    s = psi(p, q)
    return DriftReport(
        kl=kl_divergence(p, q),
        psi=s,
        ok=s < psi_threshold,
        n_current=sum(cur.values()),
        n_baseline=sum(base.values()),
    )


@dataclass
class KsReport:
    ks: float
    ok: bool
    n_current: int
    n_baseline: int


_KS_PID = "__ks_pid"


def _cdf_scaffold(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    num_partitions: Optional[int],
    op_name: str,
):
    """Shared machinery for the exact-ECDF drift statistics (KS / EMD):

    1. label + union the two sides, one ``groupBy(value)`` →
       ``(v, nc, nb)`` — partial+final hash agg, the only data-scale
       shuffle. The merged frame is persisted: it is post-aggregation
       (distinct-value) volume and feeds the jobs below.
    2. value-bounded pids over ``v`` — the prefix-sum scaffold of
       :mod:`._prefix` (see that module for the full rationale), shared
       with :func:`~.packing.cumulative_tokens`.
    3. per-pid ``(Σnc, Σnb, min v, max v)`` collected — O(P) rows, never
       O(values); the driver derives the exclusive per-pid prefixes, the
       global totals, the value range, AND each pid's successor-start
       value (for gap integration across pid boundaries) from the same
       ≤4096 rows — no extra pass.

    Returns ``(part, rows, tc, tb, vmin, vmax, merged)`` where ``part``
    is the pid-annotated merged frame and ``rows`` is the driver-side
    list of ``(pid, off_c, off_b, next_start)``.
    """
    from pyspark.sql.types import NumericType

    if not isinstance(current.schema[column].dataType, NumericType):
        raise TypeError(
            f"{op_name} needs a numeric column; {column!r} is "
            f"{current.schema[column].dataType.simpleString()} — use "
            "categorical_drift_report for label columns"
        )
    spark = current.sparkSession

    def _side(df: DataFrame, c: int, b: int) -> DataFrame:
        col = F.col(column)
        return df.filter(col.isNotNull()).select(
            col.alias("v"), F.lit(c).cast("long").alias("__c"),
            F.lit(b).cast("long").alias("__b"),
        )

    merged = (
        _side(current, 1, 0)
        .unionByName(_side(baseline, 0, 1))
        .groupBy("v")
        .agg(F.sum("__c").alias("nc"), F.sum("__b").alias("nb"))
        .persist()
    )
    part = _prefix.with_pid(
        merged, "v", _KS_PID, _prefix.bucket_count(spark, num_partitions)
    )
    totals = _prefix.pid_totals(
        part, _KS_PID,
        F.sum("nc").alias("tc"), F.sum("nb").alias("tb"),
        F.min("v").alias("v_lo"), F.max("v").alias("v_hi"),
    )
    acc_c = acc_b = 0
    rows = []
    for i, r in enumerate(totals):  # ascending pid == ascending v
        nxt = float(totals[i + 1]["v_lo"]) if i + 1 < len(totals) else None
        rows.append((r[_KS_PID], acc_c, acc_b, nxt))
        acc_c += r["tc"] or 0
        acc_b += r["tb"] or 0
    tc, tb = acc_c, acc_b
    vmin = float(totals[0]["v_lo"]) if totals else None
    vmax = float(totals[-1]["v_hi"]) if totals else None
    return part, rows, tc, tb, vmin, vmax, merged


def _inclusive_cdfs(tc: int, tb: int):
    """(window, cdf_cur, cdf_base) over a scaffold frame joined to its
    offsets: exact integer within-pid cumsum + broadcast prefix."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(_KS_PID)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf_c = (F.col("__off_c") + F.sum("nc").over(w)) / F.lit(float(tc))
    cdf_b = (F.col("__off_b") + F.sum("nb").over(w)) / F.lit(float(tb))
    return w, cdf_c, cdf_b


def ks_drift(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    ks_threshold: float = 0.1,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift verdict, fully distributed.

    ``KS = sup_x |F_cur(x) - F_base(x)|``. Both ECDFs are step functions
    that only jump at observed values, so the supremum is attained at a
    sample point: ``KS = max over the union of distinct values v of
    |F_cur(v) - F_base(v)|`` with right-continuous (inclusive) CDFs.
    Unlike the binned KL/PSI checks this needs no lo/hi/bins/eps
    configuration and detects shifts smaller than any bin width.

    Plan shape (each input scanned once; wide exchanges at DISTINCT-VALUE
    scale only, never a single-partition global window): the shared
    :func:`_cdf_scaffold` steps, then prefixes broadcast back as a pid
    equi-join, a *within-pid* inclusive window cumsum completing the
    exact integer CDF counts, and ``max |cc/tc - cb/tb|`` reducing to
    ONE output row.

    Returns a single-row DataFrame ``(ks double, n_current long,
    n_baseline long, pass boolean)``. Nulls are dropped on both sides
    (an ECDF is defined over observed values; null-RATE drift is
    :func:`categorical_drift_report`'s job). Degenerate sides are
    deterministic: both empty → ks 0.0 / pass true; exactly one empty →
    ks 1.0 / pass false. Non-numeric columns raise ``TypeError`` (KS is
    a statistic on ordered samples; use the categorical PSI for labels).
    """
    spark = current.sparkSession
    part, rows, tc, tb, _, _, merged = _cdf_scaffold(
        current, baseline, column, num_partitions, "ks_drift"
    )
    if tc == 0 or tb == 0:
        merged.unpersist()
        ks0 = 0.0 if (tc == 0 and tb == 0) else 1.0
        return spark.createDataFrame(
            [(ks0, tc, tb, ks0 < ks_threshold)],
            "ks double, n_current long, n_baseline long, pass boolean",
        )
    offsets = spark.createDataFrame(
        [(p, oc, ob) for p, oc, ob, _ in rows],
        f"{_KS_PID} int, __off_c long, __off_b long",
    )
    _, cdf_c, cdf_b = _inclusive_cdfs(tc, tb)
    out = (
        part.join(F.broadcast(offsets), _KS_PID)
        .select(F.abs(cdf_c - cdf_b).alias("__d"))
        .agg(
            F.max("__d").alias("ks"),
            F.lit(tc).alias("n_current"),
            F.lit(tb).alias("n_baseline"),
            (F.max("__d") < F.lit(float(ks_threshold))).alias("pass"),
        )
    )
    # the persisted merged frame outlives this call (the result is lazy);
    # hand the caller a release handle so long-running services can bound
    # the cache — the scalar report wrapper uses it after collect()
    out._drift_cached_input = merged
    return out


def ks_drift_report(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    ks_threshold: float = 0.1,
    num_partitions: Optional[int] = None,
) -> KsReport:
    """Scalar wrapper over :func:`ks_drift` (collects the single verdict
    row) — the shape ``table_checks`` consumes for ``x-drift`` entries
    with ``method: "ks"``. Releases the operator's persisted merged frame
    after the collect, so repeated calls in a long-running service don't
    accumulate cache entries."""
    out = ks_drift(
        current, baseline, column,
        ks_threshold=ks_threshold, num_partitions=num_partitions,
    )
    r = out.collect()[0]
    cached = getattr(out, "_drift_cached_input", None)
    if cached is not None:
        cached.unpersist()
    return KsReport(
        ks=float(r["ks"]), ok=bool(r["pass"]),
        n_current=int(r["n_current"]), n_baseline=int(r["n_baseline"]),
    )


@dataclass
class EmdReport:
    w1: Optional[float]
    w1_norm: float
    ok: bool
    n_current: int
    n_baseline: int


def emd_drift(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    emd_threshold: float = 0.05,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Exact two-sample Wasserstein-1 (earth mover's) drift verdict,
    fully distributed.

    ``W1 = ∫ |F_cur(x) - F_base(x)| dx`` — for step ECDFs this is the
    exact finite sum ``Σ_i (v_{i+1} - v_i) · |F_cur(v_i) - F_base(v_i)|``
    over the sorted union of distinct values. W1 completes the drift
    family: KS reports the LARGEST single CDF gap (shift detection),
    W1 integrates ALL of it — it weighs *how far* mass moved, so a small
    shift of the whole distribution and a large shift of a small tail
    are distinguished, which neither KS nor binned PSI does.

    Plan shape: the shared :func:`_cdf_scaffold` (one data-scale labeled
    hash agg; everything after is distinct-value scale). The gap
    ``v_{i+1} - v_i`` needs each value's successor: within a pid that is
    ``lead(v)`` over the SAME within-pid window the cumsum uses; for the
    pid's last value the successor is the next pid's first value, which
    the scaffold's O(P) driver rows already carry — broadcast back as
    ``__next_start``, so pid boundaries cost nothing extra. The global
    last value has no successor and contributes 0 (both CDFs are 1 at
    and above it).

    Returns a single-row DataFrame ``(w1 double, w1_norm double,
    n_current long, n_baseline long, pass boolean)``; ``w1`` is in the
    column's units, ``w1_norm = w1 / (vmax - vmin)`` ∈ [0, 1] is the
    scale-free gauge the threshold applies to (0.0 when all mass sits on
    one point). Degenerate sides are deterministic: both empty → w1 0.0
    / pass true; exactly one empty → w1 NULL (no transport plan exists
    against nothing), w1_norm 1.0, pass false. Nulls are dropped and
    non-numeric columns raise ``TypeError``, as in :func:`ks_drift`.
    """
    spark = current.sparkSession
    part, rows, tc, tb, vmin, vmax, merged = _cdf_scaffold(
        current, baseline, column, num_partitions, "emd_drift"
    )
    schema = (
        "w1 double, w1_norm double, n_current long, n_baseline long, "
        "pass boolean"
    )
    if tc == 0 or tb == 0:
        merged.unpersist()
        if tc == 0 and tb == 0:
            return spark.createDataFrame(
                [(0.0, 0.0, 0, 0, True)], schema
            )
        return spark.createDataFrame(
            [(None, 1.0, tc, tb, False)], schema
        )
    offsets = spark.createDataFrame(
        rows, f"{_KS_PID} int, __off_c long, __off_b long, __next_start double"
    )
    from pyspark.sql import Window

    _, cdf_c, cdf_b = _inclusive_cdfs(tc, tb)
    # successor value: within-pid lead (its own frameless window — lead
    # carries a fixed 1-FOLLOWING frame), falling back to the next pid's
    # first value at the boundary; NULL (global last value) → gap 0
    w_lead = Window.partitionBy(_KS_PID).orderBy("v")
    nxt = F.coalesce(F.lead("v").over(w_lead), F.col("__next_start"))
    gap = F.coalesce(nxt.cast("double") - F.col("v").cast("double"), F.lit(0.0))
    span = (vmax - vmin) if (vmax is not None and vmax > vmin) else None
    w1 = F.sum(F.col("__gap") * F.col("__d"))
    w1_norm = (w1 / F.lit(span)) if span else F.lit(0.0)
    out = (
        part.join(F.broadcast(offsets), _KS_PID)
        .select(gap.alias("__gap"), F.abs(cdf_c - cdf_b).alias("__d"))
        .agg(
            w1.alias("w1"),
            w1_norm.alias("w1_norm"),
            F.lit(tc).alias("n_current"),
            F.lit(tb).alias("n_baseline"),
            (w1_norm < F.lit(float(emd_threshold))).alias("pass"),
        )
    )
    # release handle for the persisted merged frame — see ks_drift
    out._drift_cached_input = merged
    return out


def emd_drift_report(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    *,
    emd_threshold: float = 0.05,
    num_partitions: Optional[int] = None,
) -> EmdReport:
    """Scalar wrapper over :func:`emd_drift` (collects the single verdict
    row) — the shape ``table_checks`` consumes for ``x-drift`` entries
    with ``method: "emd"``. Releases the operator's persisted merged
    frame after the collect (see :func:`ks_drift_report`)."""
    out = emd_drift(
        current, baseline, column,
        emd_threshold=emd_threshold, num_partitions=num_partitions,
    )
    r = out.collect()[0]
    cached = getattr(out, "_drift_cached_input", None)
    if cached is not None:
        cached.unpersist()
    return EmdReport(
        w1=None if r["w1"] is None else float(r["w1"]),
        w1_norm=float(r["w1_norm"]), ok=bool(r["pass"]),
        n_current=int(r["n_current"]), n_baseline=int(r["n_baseline"]),
    )


def benford_report(
    df: DataFrame,
    col: str,
    *,
    mad_threshold: float = 0.015,
    decimals: int = 6,
) -> DataFrame:
    """Benford first-significant-digit conformity (Nigrini's forensic
    data-quality screen for naturally occurring amounts — fabricated or
    truncated numeric columns drift off the log distribution): one row
    per digit 1-9 with observed vs expected ``log10(1 + 1/d)`` share,
    plus the mean-absolute-deviation statistic and its verdict repeated
    on every row (the skew_report one-frame pattern).  ``mad_threshold``
    defaults to Nigrini's 0.015 nonconformity bound.

    Distributed shape: ONE map-side-combined hash-agg over the derived
    digit (9 groups); everything after is 9-row arithmetic — the digit
    table is built driver-side, the MAD fold is a 9-row aggregate, and
    the corpus is never scanned twice.  Zero/null values carry no first
    digit and are excluded (standard Benford practice).

    The digit itself is pure arithmetic (``floor(x / 10^floor(log10 x))``)
    with a two-sided clamp (>=10 → 1, <1 → 9) so a 1-ulp ``log10``
    disagreement at exact powers of ten cannot mint digit 0 or 10 —
    this keeps the derivation engine-stable for the SQL oracle.  All
    reported floats are rounded to ``decimals``; the verdict compares
    the ROUNDED MAD."""
    x = F.abs(F.col(col))
    valid = df.filter(F.col(col).isNotNull() & (x > 0))
    mag = F.floor(F.log10(x))
    d0 = F.floor(x / F.pow(F.lit(10.0), mag))
    digit = (
        F.when(d0 >= 10, F.lit(1))
        .when(d0 < 1, F.lit(9))
        .otherwise(d0)
        .cast("int")
    )
    obs = valid.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    j = (
        digits.join(obs, "digit", "left")
        .select("digit", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )
    tot = j.agg(F.sum("n").cast("double").alias("total"))
    # an all-zero/null column has total 0: observed shares (and the MAD
    # verdict) become null rather than an ANSI divide-by-zero — "nothing
    # to screen" is a null verdict, not a failure (found by the
    # hypothesis differential)
    s = j.join(F.broadcast(tot), how="cross").select(
        "digit",
        "n",
        F.when(F.col("total") > 0, F.col("n") / F.col("total")).alias("__op"),
        F.log10(F.lit(1) + F.lit(1.0) / F.col("digit")).alias("__ep"),
    )
    m = s.agg(
        F.round(F.avg(F.abs(F.col("__op") - F.col("__ep"))), decimals).alias(
            "mad"
        )
    )
    return (
        s.join(F.broadcast(m), how="cross")
        .select(
            "digit",
            "n",
            F.round("__op", decimals).alias("observed_p"),
            F.round("__ep", decimals).alias("expected_p"),
            F.round(F.abs(F.col("__op") - F.col("__ep")), decimals).alias(
                "abs_dev"
            ),
            "mad",
            (F.col("mad") <= F.lit(mad_threshold)).alias("conforms"),
        )
        .orderBy("digit")
    )
