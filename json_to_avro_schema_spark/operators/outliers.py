"""Row-level numeric outlier detection: robust z-score (median/MAD) and
Tukey IQR fences, global or per-group.

The profiler family (operators/profile.py, operators/anomaly.py) works at
COLUMN and RUN granularity; this module flags individual ROWS — "which
measurements are anomalous within their group" — the data-quality check a
validation engine runs before a training-data pipeline trusts a numeric
column.  Both detectors are robust (median-based / quartile-based): a 1 %
contamination of extreme values moves a mean/stddev gate but not these.

Distributed shape (both detectors): per-group quantile aggregates are
map-side-combined hash aggs whose output is GROUP-scale (broadcast-
eligible), joined back to the rows as a broadcast hash join, and the flag
is a codegen'd projection — the corpus is scanned, never shuffled.  MAD
needs a second group-scale pass (the median of absolute deviations is a
quantile of a derived column).  ``approx=False`` (default) uses Spark's
exact ``percentile`` — the same interpolating convention as DuckDB
``quantile_cont``, so every number here is SQL-oracle-able; its partial
buffers hold the group's values, right at gate scale.  Pass
``approx=True`` at 10^12 rows for the bounded-memory GK sketch
(``percentile_approx``) — same plan shape, sketch-accuracy quantiles.

Determinism contract: scores are rounded to ``decimals`` BEFORE the
threshold compare, so the flag itself is engine-stable (the repo-wide
float rule).  A zero-MAD group (majority-constant values) yields null
robust_z and flags nothing — by construction, not by accident: MAD-based
scoring is undefined there and a mean-based fallback would silently
change the detector; callers with such groups should use IQR fences.

Reference analog: none — the reference validates one in-memory schema
(``/root/reference/README.md:100-104``); this extends SURVEY.md §2.3's
pipeline-extra surface alongside operators/skew.py and profile.py.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compiler.sql import ident, percentile
from ._joins import attach_group_stats

# scale factor making MAD consistent with the stddev of a normal
# distribution: 1/Phi^-1(3/4).  The classic robust-z convention
# (Iglewicz & Hoaglin use its inverse 0.6745 on the numerator).
_MAD_Z = 0.6745


def _pctl(col: str, p: float, approx: bool) -> F.Column:
    return F.expr(percentile(ident(col), p, approx)).cast("double")


def _grouped(df: DataFrame, by: Optional[Sequence[str]]):
    return df.groupBy(*by) if by else df.groupBy()


def mad_outliers(
    df: DataFrame,
    value_col: str,
    *,
    by: Optional[Sequence[str]] = None,
    k: float = 3.5,
    approx: bool = False,
    decimals: int = 6,
) -> DataFrame:
    """Rows whose modified z-score ``0.6745·(x − median)/MAD`` exceeds
    ``k`` in magnitude (Iglewicz & Hoaglin's 3.5 default), per ``by``
    group (or globally; a null ``by`` key is its own group).  Returns the
    input columns plus ``med``, ``mad``, ``robust_z`` (all rounded) —
    only the flagged rows.

    Two group-scale aggregate passes (median, then median |dev|), two
    broadcast join-backs, one codegen'd flag projection.  Null values
    and zero-MAD groups are never flagged."""
    by = list(by) if by else []
    med = _grouped(df, by).agg(_pctl(value_col, 0.5, approx).alias("__med"))
    dev = attach_group_stats(df, med, by).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = _grouped(dev, by).agg(_pctl("__adev", 0.5, approx).alias("__mad"))
    scored = attach_group_stats(dev, mad, by)
    z = F.when(
        F.col("__mad") > 0,
        F.round(
            F.lit(_MAD_Z) * (F.col(value_col) - F.col("__med")) / F.col("__mad"),
            decimals,
        ),
    )
    return (
        scored.withColumn("robust_z", z)
        .filter(F.abs(F.col("robust_z")) > k)
        .withColumn("med", F.round(F.col("__med"), decimals))
        .withColumn("mad", F.round(F.col("__mad"), decimals))
        .drop("__med", "__mad", "__adev")
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    *,
    by: Optional[Sequence[str]] = None,
    factor: float = 1.5,
    approx: bool = False,
    decimals: int = 6,
) -> DataFrame:
    """Rows outside the Tukey fences ``[q1 − factor·IQR, q3 + factor·IQR]``
    per ``by`` group (or globally; a null ``by`` key is its own group):
    the box-plot outlier rule
    (factor 1.5 = outliers, 3.0 = far out).  Returns the input columns
    plus ``lo_fence``/``hi_fence`` (rounded) — only the flagged rows.

    ONE group-scale aggregate (q1 and q3 in the same pass), one
    broadcast join-back, one codegen'd flag projection.  Constant groups
    have IQR 0 → fences collapse to the constant → nothing flags."""
    by = list(by) if by else []
    q = _grouped(df, by).agg(
        _pctl(value_col, 0.25, approx).alias("__q1"),
        _pctl(value_col, 0.75, approx).alias("__q3"),
    )
    iqr = F.col("__q3") - F.col("__q1")
    lo = F.round(F.col("__q1") - F.lit(factor) * iqr, decimals)
    hi = F.round(F.col("__q3") + F.lit(factor) * iqr, decimals)
    return (
        attach_group_stats(df, q, by).withColumn("lo_fence", lo)
        .withColumn("hi_fence", hi)
        .filter(
            (F.col(value_col) < F.col("lo_fence"))
            | (F.col(value_col) > F.col("hi_fence"))
        )
        .drop("__q1", "__q3")
    )
