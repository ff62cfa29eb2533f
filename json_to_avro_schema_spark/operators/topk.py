"""Skew-proof grouped top-K.

The naive concern: ``Window.partitionBy(group).orderBy(v) + row_number <= k``
funnels EVERY row of a group through one task — with low-cardinality groups
(3 return flags, a handful of event types) the whole table would sort on
|groups| cores no matter how large the cluster.

Spark ≥ 3.5 solves this in the OPTIMIZER: ``InferWindowGroupLimit`` rewrites
rank-filter-over-window into a two-phase plan with a *Partial*
``WindowGroupLimit`` before the exchange — each map task keeps only its
local top-K per group, so the shuffle carries ≤ tasks × |groups| × K rows
and the final per-group sort is trivial. That is exactly the salted
two-phase shape, done natively with one fewer exchange and zero extra
columns. Measured on a 2-group 10M-row skew (local[32], this VM): plain
window 1.49–1.68 s vs manual salted two-phase 2.15–2.25 s — the manual salt
pays an extra shuffle for parallelism Catalyst already provides
(BENCH/BASELINE.md "grouped top-K at a skewed scale point").

:func:`grouped_topk` therefore uses the plain window and PINS the rewrite
in its plan (tests/test_topk.py asserts the Partial WindowGroupLimit).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _check_args(df: DataFrame, k: int, rank_col: str) -> None:
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if rank_col in df.columns:
        raise ValueError(
            f"grouped_topk output column {rank_col!r} already exists on "
            "the input — rename it or pass a different rank_col"
        )


def grouped_topk(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    *,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-``k`` rows per group under ``order_by``, exact and skew-proof.

    ``order_by`` must be a total order (include the tie-break columns) so
    ranks are deterministic. Returns ``df``'s columns plus ``rank_col``
    (1-based within group).

    Skew safety comes from Catalyst's rank-limit pushdown (see module
    docstring): the executed plan carries a Partial WindowGroupLimit before
    the exchange, so map tasks pre-prune to their local top-K and the
    post-shuffle per-group work is O(tasks × K), not O(N).
    """
    _check_args(df, k, rank_col)
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )

