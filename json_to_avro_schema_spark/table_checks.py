"""Execute a CompiledPlan's table-level checks (SURVEY.md §3 lifecycle:
the ``table_checks``/``ref_checks``/``stats`` arm).

The spec declares them with engine extension keywords (compiler/plan.py):
``x-unique`` → salted-agg uniqueness verdicts, ``x-ref`` → anti-join
referential integrity, ``x-drift`` → binned-histogram KL/PSI vs a supplied
baseline (``categorical: true`` switches to category-proportion PSI, no
binning), ``x-vector`` → embedding-column conformance (dim / NaN / null /
L2-norm bounds), ``x-stats`` → fused single-scan column stats. Each check
family delegates to its operator module; results land in ONE unified
verdict table::

    (check_name, kind, n_rows, n_bad, pass)

``kind`` ∈ {unique, ref, fd, benford, outlier, drift, drift_skipped,
vector, stats} (``x-fd`` → grouped-agg functional-dependency consistency,
where ``n_rows`` counts determinant KEYS and ``n_bad`` the violating keys;
``x-benford`` → first-digit conformity, ``n_rows`` = nonzero values
screened, ``n_bad`` = 1 on a failed MAD verdict; ``x-outlier`` → a
row-level robust-outlier budget, ``n_bad`` = flagged rows vs a
``maxFraction`` of the non-null rows). Per-check metric
detail (PSI value, per-column stats) stays in the operators' own outputs;
this table is the pass/fail report a run persists next to the row-check
verdicts.

Scale notes: each family is one aggregation/join plan over the table
(partial+final hash aggs, broadcast dims); results collected here are a
handful of scalar rows, never data-proportional.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compiler.plan import CompiledPlan
from .operators import drift as dr
from .operators import referential as ri
from .operators import uniqueness as uq

VERDICT_SCHEMA = (
    "check_name string, kind string, n_rows long, n_bad long, pass boolean"
)


def run_table_checks(
    spark: SparkSession,
    df: DataFrame,
    plan: CompiledPlan,
    *,
    ref_tables: Optional[Dict[str, DataFrame]] = None,
    drift_baselines: Optional[Dict[str, DataFrame]] = None,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
    emd_threshold: float = 0.05,
) -> DataFrame:
    """Run every table-level check the spec declares; one verdict row each.

    ``ref_tables`` maps the spec's ``refTable`` names to DataFrames (a
    missing parent table is a spec/environment error — raised, not
    silently skipped). ``drift_baselines`` maps drift-check name (or
    column) to the baseline DataFrame; drift checks without a baseline are
    reported as ``drift_skipped`` with ``pass=true`` so resumable runs can
    fill them in later.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .operators import similarity as sim
    from .operators.stats import _is_atomic

    ref_tables = ref_tables or {}
    drift_baselines = drift_baselines or {}
    rows: List[Tuple] = []

    # ---- fused pass: stats + uniqueness + vector share ONE table scan.
    # Each family contributes aliased aggregate expressions to a single
    # df.agg(); at 100 TB this is the difference between k full scans and 1.
    fused: List = [F.count(F.lit(1)).alias("__n_rows")]

    for i, u in enumerate(plan.unique_checks):
        # same \x1f-concat key as uniqueness_verdict: concat_ws never yields
        # null, so count_distinct sees null-key groups too — identical
        # n_distinct semantics to the groupBy formulation
        key = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in u.columns]
        )
        fused.append(F.count_distinct(key).alias(f"__uq{i}"))

    vec_dims: List[int] = []
    for j, vc in enumerate(plan.vector_checks):
        dim = vc.dim
        if dim is None:  # modal observed dim (cheap pre-pass; declare the
            # dim in the spec at scale to keep table_checks single-scan)
            v = F.col(vc.column)
            modal = (
                df.filter(v.isNotNull())
                .groupBy(F.size(v).alias("d")).count()
                .orderBy(F.col("count").desc(), "d").first()
            )
            dim = modal["d"] if modal is not None else 0
        vec_dims.append(dim)
        # one-sided norm bounds default the missing side to ±inf — a spec
        # that declares only normMin/normMax still gets enforced
        if vc.norm_min is not None or vc.norm_max is not None:
            bounds = (
                vc.norm_min if vc.norm_min is not None else float("-inf"),
                vc.norm_max if vc.norm_max is not None else float("inf"),
            )
        else:
            bounds = None
        fused.extend(
            sim.vector_stat_aggs(vc.column, dim, bounds, prefix=f"__vec{j}_")
        )

    stats_cols: List[str] = []
    if plan.stats_columns:
        if plan.stats_columns == ["*"]:
            stats_cols = [
                f.name for f in df.schema.fields if _is_atomic(f.dataType)
            ]
        else:
            stats_cols = list(plan.stats_columns)
        for c in stats_cols:
            fused.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__st_{c}")
            )

    need_fused = bool(plan.unique_checks or plan.vector_checks or stats_cols)

    # ---- ref + drift keep their own plan shapes (anti-join / histogram
    # pair) but run CONCURRENTLY with the fused agg: independent Spark jobs
    # submitted from threads overlap instead of serializing k scans.
    def _run_ref(rc):
        parent = ref_tables[rc.ref_table]
        r = ri.ri_verdict(
            df, parent, list(rc.columns), list(rc.ref_columns)
        ).collect()[0]
        return [(rc.name, "ref", int(r["n_rows"]), int(r["n_dangling"]),
                 bool(r["pass"]))]

    def _run_fd(fc):
        # functional dependency: no determinant key may map to >1 distinct
        # dependent combination (up to max_violation_fraction of keys for
        # approximate FDs).  ONE grouped hash-agg (map-side combined) over
        # the determinant key, then a scalar reduction — n_rows reports
        # determinant KEYS, n_bad the violating keys.
        g = df.groupBy(*[F.col(c) for c in fc.determinants]).agg(
            F.count_distinct(
                *[F.col(c) for c in fc.dependents]
            ).alias("__nd")
        )
        r = g.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.coalesce(
                F.sum((F.col("__nd") > 1).cast("long")), F.lit(0)
            ).alias("n_viol"),
        ).collect()[0]
        n_keys, n_viol = int(r["n_keys"]), int(r["n_viol"])
        ok = n_viol <= fc.max_violation_fraction * n_keys
        return [(fc.name, "fd", n_keys, n_viol, bool(ok))]

    def _run_outlier(oc):
        # row-level outlier budget: count flagged rows vs rows considered
        # (non-null, and >0-weighted by the detector's own validity rules);
        # the detectors' group stats are group-scale broadcast joins, so
        # this is corpus scans + one scalar count — nothing data-sized
        # reaches the driver.
        from .operators import outliers as ol

        by = [oc.by] if oc.by else None
        if oc.method == "mad":
            flagged = ol.mad_outliers(df, oc.column, by=by, k=oc.k)
        else:
            flagged = ol.iqr_outliers(df, oc.column, by=by, factor=oc.k)
        n_bad = flagged.count()
        n = df.filter(F.col(oc.column).isNotNull()).count()
        ok = n_bad <= oc.max_fraction * n
        return [(oc.name, "outlier", n, n_bad, bool(ok))]

    def _run_benford(bc):
        # first-digit conformity: benford_report is one 9-group hash-agg;
        # the 9 collected rows are digit-level detail — n_rows reports the
        # nonzero values screened, n_bad is 1 when the MAD verdict fails.
        rep = dr.benford_report(
            df, bc.column, mad_threshold=bc.mad_threshold
        ).collect()
        n = sum(int(r["n"]) for r in rep)
        # null verdict (no nonzero values to screen) passes: an empty
        # screen has nothing to flag
        ok = rep[0]["conforms"] if rep else True
        ok = True if ok is None else bool(ok)
        return [(bc.name, "benford", n, 0 if ok else 1, ok)]

    def _run_drift(dc, base):
        if dc.method in ("ks", "emd"):
            # exact binning-free ECDF statistics (parser guarantees
            # numeric/global: no by=, no categorical)
            if dc.method == "ks":
                rep = dr.ks_drift_report(
                    df, base, dc.column, ks_threshold=ks_threshold
                )
            else:
                rep = dr.emd_drift_report(
                    df, base, dc.column, emd_threshold=emd_threshold
                )
            return [(dc.name, "drift", rep.n_current,
                     0 if rep.ok else 1, bool(rep.ok))]
        if dc.by and not dc.categorical:
            # per-partition verdicts, fully distributed; one verdict row per
            # distinct `by` value (bounded by partition count, never row
            # count). lo/hi default to the union min/max when the spec omits
            # them — declare them at scale to keep this single-scan.
            lo, hi = dr.value_range(df, base, dc.column, dc.lo, dc.hi)
            per = dr.partitioned_drift_verdicts(
                df, base, dc.column,
                by=dc.by, bins=dc.bins, lo=lo, hi=hi,
                psi_threshold=psi_threshold,
                include_total=dc.include_total,
            ).collect()
            return [
                (f"{dc.name}[{p['part_key']}]", "drift",
                 int(p["n_current"]), 0 if p["pass"] else 1, bool(p["pass"]))
                for p in sorted(per, key=lambda p: str(p["part_key"]))
            ]
        if dc.categorical:
            rep = dr.categorical_drift_report(
                df, base, dc.column, psi_threshold=psi_threshold
            )
        else:
            rep = dr.drift_report(
                df, base, dc.column,
                bins=dc.bins, lo=dc.lo, hi=dc.hi, psi_threshold=psi_threshold,
            )
        return [(dc.name, "drift", rep.n_current, 0 if rep.ok else 1,
                 bool(rep.ok))]

    for rc in plan.ref_checks:
        if rc.ref_table not in ref_tables:
            raise KeyError(
                f"ref check '{rc.name}' needs table '{rc.ref_table}' — "
                f"pass it via ref_tables="
            )

    tasks = []
    with ThreadPoolExecutor(max_workers=8) as pool:
        fused_fut = pool.submit(lambda: df.agg(*fused).collect()[0]) if need_fused else None
        for rc in plan.ref_checks:
            tasks.append(pool.submit(_run_ref, rc))
        for fc in plan.fd_checks:
            tasks.append(pool.submit(_run_fd, fc))
        for bc in plan.benford_checks:
            tasks.append(pool.submit(_run_benford, bc))
        for oc in plan.outlier_checks:
            tasks.append(pool.submit(_run_outlier, oc))
        drift_skips = []
        for dc in plan.drift_checks:
            base = drift_baselines.get(dc.name) or drift_baselines.get(dc.column)
            if base is None:
                drift_skips.append((dc.name, "drift_skipped", 0, 0, True))
            else:
                tasks.append(pool.submit(_run_drift, dc, base))
        fr = fused_fut.result() if fused_fut is not None else None
        task_rows = [row for t in tasks for row in t.result()]

    if fr is not None:
        n_rows = int(fr["__n_rows"])
        for i, u in enumerate(plan.unique_checks):
            n_distinct = int(fr[f"__uq{i}"])
            if n_distinct == n_rows:
                n_dup_rows = 0
            else:
                # duplicates exist: one extra (rare-path) salted group-by
                # recovers the exact duplicate-row count
                n_dup_rows = int(
                    uq.duplicate_keys(df, list(u.columns))
                    .agg(F.coalesce(F.sum("dup_count"), F.lit(0)).alias("s"))
                    .collect()[0]["s"]
                )
            rows.append((u.name, "unique", n_rows, n_dup_rows, n_dup_rows == 0))
        for j, vc in enumerate(plan.vector_checks):
            p = f"__vec{j}_"
            n_bad = (
                int(fr[f"{p}n_null_vec"]) + int(fr[f"{p}n_dim_mismatch"])
                + int(fr[f"{p}n_with_nan"]) + int(fr[f"{p}n_norm_oob"])
            )
            rows.append((vc.name, "vector", int(fr[f"{p}n_rows"]), n_bad,
                         n_bad == 0))
        for c in stats_cols:
            rows.append((f"stats_{c}", "stats", n_rows, int(fr[f"__st_{c}"]),
                         True))

    rows.extend(task_rows)
    rows.extend(drift_skips)
    return spark.createDataFrame(rows, VERDICT_SCHEMA)


def fail_on_failed_checks(
    verdicts: DataFrame, *, limit: int = 0, sample: int = 5
) -> int:
    """Abort-level gate over the unified verdict table (the table-check
    counterpart of ``runner.fail_on_violations``): count verdict rows with
    ``pass = false`` and raise :class:`~.errors.ValidationFailedError`
    past ``limit``, carrying up to ``sample`` failing verdict rows.
    Returns the count when within the limit. The verdict table is a
    handful of rows, so this is a driver-side check, not a job."""
    from .errors import ValidationFailedError

    failing = verdicts.filter(~F.col("pass"))
    n = failing.count()
    if n > limit:
        rows = [r.asDict() for r in failing.limit(sample).collect()]
        raise ValidationFailedError(n, limit, rows)
    return n
