"""Numeric discretization: equal-frequency (quantile) and equal-width
binning — the feature-engineering / stratification step between profiling
(operators/profile.py) and downstream sampling or drift checks.

Distributed shape: edges come from ONE quantile aggregate (exact
``percentile`` at gate scale — the DuckDB ``quantile_cont`` convention —
or the bounded-memory GK sketch behind ``approx=True``), collected as
O(bins) scalars; assignment is then a pure codegen'd projection (a chain
of ``x >= edge`` comparisons against literal edges — no join, no
shuffle, embarrassingly parallel).  Equal-width binning needs no scan at
all when ``lo``/``hi`` are declared.

Determinism contract: edges are rounded to ``decimals`` BEFORE
assignment, so the bin of every row is engine-stable and the whole
operator is SQL-oracle-able (the repo-wide float rule).  Bin semantics:
``bin i ⇔ edges[i-1] <= x < edges[i]`` with open outer bins — i.e.
``bin = Σ (x >= edge_i)``, nulls stay null.

Reference analog: none (``/root/reference/README.md:100-104``); extends
SURVEY.md §2.3's pipeline-extra surface next to operators/drift.py's
fixed-range histogram (same bucket arithmetic family, but drift.py bins
for comparison against a baseline — this module bins as a FEATURE).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compiler.sql import ident, lit, percentile, when
from ._joins import attach_group_stats


def quantile_bin_edges(
    df: DataFrame,
    col: str,
    n_bins: int,
    *,
    approx: bool = False,
    decimals: int = 6,
) -> List[float]:
    """The ``n_bins - 1`` interior quantile cut points of ``col``
    (p = 1/n, 2/n, …), rounded to ``decimals``.  ONE aggregate scan;
    driver state O(bins).  Nulls are excluded by the quantile aggregate
    itself."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    ps = [i / n_bins for i in range(1, n_bins)]
    row = df.agg(F.expr(percentile(ident(col), ps, approx)).alias("e")).head()
    if row is None or row["e"] is None:
        raise ValueError(
            f"quantile_bin_edges({col!r}): no non-null values to bin"
        )
    return [round(float(v), decimals) for v in row["e"]]


def assign_bins(col: str, edges: Sequence[float]) -> Column:
    """Codegen'd bin assignment of column ``col`` against literal ``edges``
    (must be sorted): ``bin = Σ (x >= edge)`` — int in [0, len(edges)],
    null in → null out. One SQL expression, one parse on the JVM."""
    x = ident(col)
    b = "0" + "".join(f" + CAST({x} >= {lit(float(e))} AS INT)" for e in edges)
    return F.expr(when(f"{x} IS NOT NULL", b))


def quantile_bins(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    *,
    edges: Optional[Sequence[float]] = None,
    approx: bool = False,
    decimals: int = 6,
    out_col: Optional[str] = None,
) -> DataFrame:
    """``df`` plus an equal-frequency bin label column (default name
    ``<col>_bin``): one quantile scan for the edges (skipped when the
    production path passes precomputed ``edges``, the
    perplexity_split reuse-across-snapshots pattern), then a shuffle-free
    assignment projection."""
    if edges is None:
        edges = quantile_bin_edges(
            df, col, n_bins, approx=approx, decimals=decimals
        )
    return df.withColumn(
        out_col or f"{col}_bin", assign_bins(col, list(edges))
    )


def width_bins(
    df: DataFrame,
    col: str,
    n_bins: int,
    lo: float,
    hi: float,
    *,
    out_col: Optional[str] = None,
) -> DataFrame:
    """``df`` plus an equal-width bin label over the declared ``[lo, hi)``
    range — zero scans, pure projection: values below ``lo`` clamp to
    bin 0, at or above ``hi`` to ``n_bins - 1`` (the drift-histogram
    clamp convention), nulls stay null."""
    if n_bins < 1 or not hi > lo:
        raise ValueError(f"need n_bins >= 1 and hi > lo, got {n_bins}, [{lo}, {hi})")
    x = F.col(col)
    raw = F.floor((x - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_bins))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")
    return df.withColumn(out_col or f"{col}_bin", F.when(x.isNotNull(), b))


def standardize(
    df: DataFrame,
    col: str,
    *,
    by: Optional[Sequence[str]] = None,
    method: str = "zscore",
    decimals: int = 6,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Scale a numeric column per ``by`` group (or globally; a null ``by``
    key is its own group, so every input row comes back):
    ``zscore`` → ``(x − mean)/stddev_samp`` or ``minmax`` → ``(x − min)/
    (max − min)`` — the feature-normalization step next to binning.
    Returns ``df`` plus the scaled column (default ``<col>_scaled``,
    rounded to ``decimals``); degenerate groups (zero variance / constant
    range) and nulls scale to null rather than dividing by zero.

    Shape: ONE group-scale aggregate broadcast back, scaling is a
    codegen'd projection — the corpus scans but never shuffles (the
    outliers-module contract)."""
    if method not in ("zscore", "minmax"):
        raise ValueError(f"unknown method {method!r}")
    by = list(by) if by else []
    grouped = df.groupBy(*by) if by else df.groupBy()
    if method == "zscore":
        stats = grouped.agg(
            F.avg(col).alias("__m"), F.stddev_samp(col).alias("__s")
        )
        scaled = F.when(
            F.col("__s") > 0,
            F.round((F.col(col) - F.col("__m")) / F.col("__s"), decimals),
        )
    else:
        stats = grouped.agg(
            F.min(col).alias("__m"), F.max(col).alias("__s")
        )
        scaled = F.when(
            F.col("__s") > F.col("__m"),
            F.round(
                (F.col(col) - F.col("__m")) / (F.col("__s") - F.col("__m")),
                decimals,
            ),
        )
    return (
        attach_group_stats(df, stats, by)
        .withColumn(out_col or f"{col}_scaled", scaled)
        .drop("__m", "__s")
    )
