"""Uniqueness checks at scale (SURVEY.md §2.3).

Two paths, both from the north rule:

* **approximate** — ``approx_count_distinct`` (HyperLogLog++) vs ``count``:
  a cheap single-scan signal that duplicates exist, with HLL's ~2% error.
* **exact violation rows** — ``groupBy(key).count()`` then
  ``filter(count > 1)``.  A left-semi join recovers the full duplicate
  rows when needed.

Skew policy (the engine's one, for hot ``doc_id`` prefixes): Catalyst's
partial ``HashAggregate`` counts each key map-side, so a hot key reaches
its reducer as at most one row per map task, whatever its frequency; AQE
splits skewed joins (``session.py``).  The engine adds no salt: a salted
``(key, salt)`` pre-aggregate costs a second hash exchange for spreading
the partial aggregate already gives.  ``operators/skew.py`` measures the
hot keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_uniqueness(
    df: DataFrame, columns: Sequence[str], *, rsd: float = 0.01
) -> DataFrame:
    """One row: n_rows, approx_distinct, approx_duplicates (>0 ⇒ dups likely).

    ``rsd`` is HLL++'s relative standard deviation; 0.01 (vs Spark's 0.05
    default) keeps the sketch a few hundred KiB while making the estimate
    reliably within ~1% — cheap insurance when the verdict is a threshold.
    """
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in columns])
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(key, rsd).alias("approx_distinct"),
    ).select(
        "n_rows",
        "approx_distinct",
        (F.col("n_rows") - F.col("approx_distinct")).alias("approx_duplicates"),
    )


def duplicate_keys(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Exact duplicate keys: key columns + ``dup_count`` (total
    occurrences, always ≥ 2).  One hash exchange, above the partial
    aggregate (plan pinned in tests/test_operators.py)."""
    return (
        df.groupBy(*columns)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def duplicate_rows(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Full rows participating in a duplicate key (left-semi join against the
    exact duplicate key set — semi keeps the probe side's bytes untouched)."""
    dups = duplicate_keys(df, columns)
    return df.join(dups.select(*columns), list(columns), "left_semi")


def uniqueness_verdict(
    df: DataFrame, columns: Sequence[str], *, by: str | None = None
) -> DataFrame:
    """Per-partition uniqueness verdict: (part_key, n_rows, n_distinct,
    n_dup_rows, pass). Exact, two-phase: one group per ``(by, *columns)``
    tuple — the raw columns, so null and separator-bearing values stay
    distinct keys, and null keys group together as in ``duplicate_keys``."""
    key_cols = [by] if by else []
    tuple_cols = [*key_cols, *(c for c in columns if c != by)]
    grouped = df.groupBy(*tuple_cols).agg(F.count(F.lit(1)).alias("__c"))
    agg_key = [F.col(c) for c in key_cols] if key_cols else [F.lit("__all__").alias("part_key")]
    out = grouped.groupBy(*agg_key).agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias("n_dup_rows"),
    )
    return out.withColumn("pass", F.col("n_dup_rows") == 0)
